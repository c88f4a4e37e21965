package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StringType
import graft.operators.FlowParity
import graft.streaming.StreamOps

/** §2.1 sources: S1 forced-string CSV scan, S4 header-only schema sniff,
  * S3 offset resume, S9 rate source.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private var csvDir: Option[String] = None

  private lazy val csvPath = {
    val dir = Files.createTempDirectory("graft-csv").toString
    csvDir = Some(dir)
    val rows = Seq(
      "frame_number,frame_time,ip_src,ip_dst,tcp_srcport,tcp_dstport,protocol,frame_len",
      "1,2021-01-01 00:00:00,192.168.1.5,10.0.0.7,443,51000,TCP,1500",
      "2,2021-01-01 00:00:01,192.168.1.6,,53,,DNS,88",
      "x,not a time,,,,,ARP,")
    Files.writeString(java.nio.file.Paths.get(s"$dir/flow.csv"),
      rows.mkString("\n"))
    s"$dir/flow.csv"
  }

  override def afterAll(): Unit =
    try csvDir.foreach(d => StreamOps.rmTree(new java.io.File(d)))
    finally super.afterAll()

  test("S1: forced-string scan keeps every column a string, bad rows intact") {
    val df = FlowParity.readFlowCsv(spark, csvPath)
    assert(df.schema.fields.forall(_.dataType == StringType))
    assert(df.count() == 3)
    // the all-text row survives (no type coercion dropped it)
    assert(df.filter($"frame_number" === "x").count() == 1)
    // empty CSV fields arrive as nulls — the coalesce-concat must absorb them
    val texts = df.select(concat_ws(" ",
      coalesce($"ip_src", lit("")), coalesce($"protocol", lit(""))).as("t"))
      .as[String].collect()
    assert(texts.contains(" ARP"))
  }

  test("S2: inferred-schema read types clean columns and degrades mixed ones to string") {
    // clean file: every column infers to a non-string type
    val cleanDir = Files.createTempDirectory("graft-csv-clean").toString
    try {
      Files.writeString(java.nio.file.Paths.get(s"$cleanDir/clean.csv"),
        Seq("frame_number,frame_len", "1,1500", "2,88").mkString("\n"))
      val clean = FlowParity.readFlowCsvInferred(spark, s"$cleanDir/clean.csv")
      assert(clean.schema.fields.forall(_.dataType != StringType),
        clean.schema.treeString)
    } finally StreamOps.rmTree(new java.io.File(cleanDir))
    // mixed file: the 'x' frame_number degrades THAT column to string —
    // the whole-table type flip the explicit-schema default avoids
    val mixed = FlowParity.readFlowCsvInferred(spark, csvPath)
    assert(mixed.schema("frame_number").dataType == StringType)
    assert(mixed.count() == 3)
  }

  test("S4: header-only schema sniff runs no job over the data") {
    val schema = spark.read.option("header", "true").csv(csvPath).schema
    assert(schema.fieldNames.toSeq ==
      FlowParity.flowSchema.fieldNames.toSeq)
  }

  test("S3: offset resume returns the exact next chunk in key order") {
    val chunk = FlowParity.offsetResume(spark, sfDir, offset = 100, n = 50)
      .select($"event_id").as[Long].collect()
    assert(chunk.length == 50)
    val all = Tables.events(spark, sfDir).select($"event_id")
      .orderBy($"event_id").as[Long].collect()
    assert(chunk.toSeq == all.slice(100, 150).toSeq)
  }

  test("S9: rate source emits synthetic packets with generated columns") {
    val name = s"rate_smoke_${System.nanoTime()}"
    val q = StreamOps.packetRateSource(spark, rowsPerSecond = 200)
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .start()
    try {
      var tries = 0
      while (spark.table(name).isEmpty && tries < 40) { Thread.sleep(250); tries += 1 }
    } finally q.stop()
    val rows = spark.table(name)
    assert(rows.count() > 0, "rate source produced no rows")
    val bad = rows.filter(!$"ip_src".rlike("^192\\.168\\.1\\.\\d+$") ||
      !$"protocol".isin("HTTP", "DNS", "ARP", "ICMP", "UDP")).count()
    assert(bad == 0)
  }
}
