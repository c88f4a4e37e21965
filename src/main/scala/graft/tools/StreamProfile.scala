package graft.tools

import graft.GraftSession
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Scratch profiler for the streaming bench queries: re-runs the
  * stream-stream interval join with progress capture and prints each
  * micro-batch's duration breakdown (dev tool, not part of the driver
  * contract). Uses the SAME query construction as the production path
  * (StreamOps.clickViewStreams) under the SAME partition pin
  * (StreamOps.withStreamPartitions), so what it measures is what
  * `stream_interval_join` runs — set SPARK_GRAFT_STREAM_PARTITIONS to
  * sweep the pin.
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.local()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    for (round <- 1 to 3) {
      val name = s"prof_cv_$round"
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamOps.withStreamPartitions(spark) { s =>
        val (clicks, views) = graft.streaming.StreamOps.clickViewStreams(s, sfDir)
        val started = graft.streaming.StreamOps.clickViewIntervalJoin(clicks, views)
          .writeStream.outputMode(OutputMode.Append())
          .format("memory").queryName(name)
          .trigger(Trigger.AvailableNow())
          .start()
        started.awaitTermination()
        started
      }
      val total = (System.nanoTime() - t0) / 1e9
      println(f"== round $round total $total%.2f s, ${q.recentProgress.length} progress entries")
      q.recentProgress.foreach { p =>
        val d = p.durationMs
        println(s"  batch=${p.batchId} rows=${p.numInputRows} " +
          s"triggerMs=${d.get("triggerExecution")} addBatch=${d.get("addBatch")} " +
          s"getBatch=${d.get("getBatch")} latestOffset=${d.get("latestOffset")} " +
          s"queryPlanning=${d.get("queryPlanning")} walCommit=${d.get("walCommit")} " +
          s"commitOffsets=${d.get("commitOffsets")} " +
          s"stateRows=${p.stateOperators.map(s => s.numRowsTotal + "/" + s.commitTimeMs + "ms").mkString(",")}")
      }
    }
    spark.stop()
  }
}
