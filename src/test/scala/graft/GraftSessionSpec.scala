package graft

import java.nio.file.{Files, Path, Paths}

/** The session recipe of [[GraftSession]], its conf scope, and a source
  * lint that keeps the recipe in that one module.
  */
class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries every factory setting") {
    val conf = spark.conf
    assert(conf.get("spark.sql.files.openCostInBytes").toLong == 131072L)
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .contains(graft.plans.VectorKernelRewrite))
  }

  test("the cpus parser takes a positive integer and rejects anything else") {
    assert(GraftSession.parseCpus(Some("3")) == 3)
    assert(GraftSession.parseCpus(None) == GraftSession.hostCores)
    for (bad <- Seq("0", "-2", "abc", "")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_" + "CPUS"), e.getMessage)
    }
  }

  test("withConf restores a set key and unsets an absent one, also when f throws") {
    val set = "spark.sql.shuffle.partitions"
    val absent = "spark.graft.test.absent"
    assert(spark.conf.get(set) == "4" && !spark.sessionState.conf.contains(absent))
    assert(GraftSession.withConf(spark, set, "1")(spark.conf.get(set)) == "1")
    assert(GraftSession.withConf(spark, absent, "x")(spark.conf.get(absent)) == "x")
    assert(spark.conf.get(set) == "4" && !spark.sessionState.conf.contains(absent))
    intercept[IllegalStateException](GraftSession.withConf(spark, set, "2") {
      GraftSession.withConf(spark, absent, "y")(throw new IllegalStateException("boom"))
    })
    assert(spark.conf.get(set) == "4" && !spark.sessionState.conf.contains(absent))
  }

  test("Verify's query filter rejects an unknown name and names it") {
    assert(graft.queries.Queries.select(" q1_pricing,knn_ivf ") == Seq("q1_pricing", "knn_ivf"))
    val e = intercept[IllegalArgumentException](graft.queries.Queries.select("q1_pricing,q1_pricnig"))
    assert(e.getMessage.contains("q1_pricnig") && !e.getMessage.contains("q1_pricing"), e.getMessage)
  }

  // --- source lint. The needles are split so this file does not match.
  private val builder = "SparkSession." + "builder"
  private val cpusVar = "SPARK_GRAFT_" + "CPUS"

  test("lint: only GraftSession.scala builds a session or reads the core count") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"lint must run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).toArray.map(_.asInstanceOf[Path])
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "GraftSession.scala")
    assert(files.length > 50)
    val bad = files.flatMap { f =>
      val src = Files.readString(f)
      // EntrySmoke replays the driver's smoke test, which calls the entry
      // point from a vanilla session: it must not get the factory's settings.
      val needles =
        if (f.getFileName.toString == "EntrySmoke.scala") Seq(cpusVar) else Seq(builder, cpusVar)
      needles.filter(src.contains).map(n => s"${root.relativize(f)}: $n")
    }
    assert(bad.isEmpty, "session recipe outside GraftSession.scala:\n" + bad.mkString("\n"))
  }
}
