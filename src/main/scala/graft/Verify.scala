package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    // The driver always passes exactly two; the optional third is the
    // local dev loop (verify just the queries being worked on).
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(graft.queries.Queries.select(args(2)).toSet) else None
    // Pin the oracle's index-store paths to the sf dir actually verified:
    // SparkEntry.oracleSql derives knn_ivf/knn_pq/... artifact locations
    // from this property (default sf0.01) — see SparkEntry.oracleSfDir.
    sys.props("graft.oracle.sfdir") = sfDir
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // A query that throws must be VISIBLE in the correctness report, not
    // absent from it: record it in errors.json AND write a one-row
    // `verify_error` parquet in its slot, so the driver's DuckDB compare
    // produces an explicit mismatching row instead of silently skipping.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        // Upcast int→long / float→double so the parquet the driver hashes
        // has the same physical types as DuckDB's BIGINT/DOUBLE results.
        val df = fn(spark, sfDir)
        import org.apache.spark.sql.functions.col
        import org.apache.spark.sql.types._
        val normed = df.select(df.schema.fields.map { f =>
          f.dataType match {
            case IntegerType | ShortType | ByteType => col(f.name).cast("long").as(f.name)
            case FloatType => col(f.name).cast("double").as(f.name)
            case _ => col(f.name)
          }
        }.toSeq: _*)
        normed.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        val msg = e.getClass.getName + ": " + String.valueOf(e.getMessage).take(300)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        try {
          import spark.implicits._
          Seq(msg).toDF("verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name error-marker write failed: ${e2.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written (possibly {}): its presence proves the error channel ran.
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keys.mkString(", ")}")
    }
    spark.stop()
  }
}
