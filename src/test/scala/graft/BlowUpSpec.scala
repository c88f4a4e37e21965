package graft

import java.nio.file.Files
import graft.tools.{BlowUp, StampSf1}

/** A blow-up keeps every table's schema, so [[StampSf1]]'s sanity check
  * accepts it and reports the factor.
  */
class BlowUpSpec extends SparkSpec {

  test("a 2x blow-up of sf0.001 keeps every schema and checks as factor 2") {
    val out = Files.createTempDirectory("blowup-spec").toString
    try {
      BlowUp.run(spark, sfDir, out, 2)
      for (t <- BlowUp.Dims ++ BlowUp.Facts) {
        val (s, o) = (spark.read.parquet(s"$sfDir/$t.parquet"), spark.read.parquet(s"$out/$t.parquet"))
        assert(o.schema == s.schema, s"$t: ${o.schema.simpleString} != ${s.schema.simpleString}")
      }
      assert(StampSf1.check(spark, sfDir, out) == 2L)
    } finally graft.streaming.StreamOps.rmTree(new java.io.File(out))
  }
}
