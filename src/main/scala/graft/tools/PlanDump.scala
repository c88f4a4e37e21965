package graft.tools

import java.nio.file.{Files, Paths}
import graft.GraftSession

/** Dumps `.explain("formatted")` for named queries to one file each —
  * the round's before/after plan evidence (`plans/rNN/<query>_{before,
  * after}.txt`). Unlike [[Plans]] (flagship-annotated PLANS.md), this
  * takes the query list and output dir from args so an optimization
  * round can snapshot exactly the queries it touches.
  *
  * An unknown name is skipped, not rejected as `Queries.select` does: the
  * "before" snapshot runs at the parent commit, which may not have the
  * query yet.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      graft.SparkEntry.queries.get(n) match {
        case None => System.err.println(s"SKIP unknown query: $n")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
              (s"-- $n (${suffix}) @ $sfDir\n" + txt).getBytes("UTF-8"))
            println(s"WROTE $n")
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"FAIL $n: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
