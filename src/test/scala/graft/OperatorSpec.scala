package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Cross-cutting checks over the named-query surface: every SparkEntry
  * query runs at sf0.001 and returns rows; targeted semantic checks for
  * operators whose oracle is rows-only; multimodal plumbing contract.
  */
class OperatorSpec extends SparkSpec {
  import spark.implicits._

  test("retention: week-0 cell counts every cohort member (signup is activity)") {
    val ret = graft.operators.Temporal.retentionCohorts(spark, sfDir)
    val week0 = ret.filter($"week_offset" === 0)
      .select($"cohort_week_epoch".as[Long], $"n_users".as[Long]).collect().toMap
    val cohorts = Tables.events(spark, sfDir).filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min(unix_timestamp(date_trunc("week", $"ts"))).as("cw"))
      .groupBy($"cw").agg(countDistinct($"user_id").as("n"))
      .select($"cw".as[Long], $"n".as[Long]).collect().toMap
    assert(week0 == cohorts, s"week-0 cells $week0 != cohort sizes $cohorts")
    // retention never exceeds the cohort size at any offset
    ret.select($"cohort_week_epoch".as[Long], $"n_users".as[Long]).collect().foreach {
      case (cw, n) => assert(n <= cohorts(cw), s"cell ($cw) exceeds cohort")
    }
  }

  test("every SparkEntry query executes and returns rows at sf0.001") {
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      try { if (fn(spark, sfDir).count() > 0) None else Some(s"$name: 0 rows") }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("entry flagship returns ranked rows") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length > 0)
  }

  test("repetition signals are bounded and the sorted-run fold equals the relational bigram mode") {
    val sig = TextAnalysis.repetitionSignals(spark, sfDir).cache()
    assert(sig.filter($"n_distinct" > $"n_words" || $"top_bigram_n" > $"n_bigrams" ||
      $"dup_word_micro" < 0 || $"dup_word_micro" > 1000000L ||
      $"top_bigram_micro" < 0 || $"top_bigram_micro" > 1000000L).count() == 0)
    // independent recompute of the bigram mode the shuffle-heavy way
    val mode = Tables.documents(spark, sfDir)
      .select($"doc_id", explode(graft.functions.Grams.kgrams(split($"text", " "), 2)).as("bg"))
      .groupBy($"doc_id", $"bg").count()
      .groupBy($"doc_id").agg(max($"count").as("expect"))
    assert(sig.join(mode, "doc_id").filter($"top_bigram_n" =!= $"expect").count() == 0)
    sig.unpersist(blocking = false)
  }

  test("chunking covers every word exactly to the end, in order, with ceil(n/stride) chunks") {
    val width = 40; val stride = 30
    val ch = TextAnalysis.chunk(spark, sfDir, width, stride).cache()
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text", size(split($"text", " ")).cast("long").as("n"))
    val per = ch.groupBy($"doc_id").agg(
      count(lit(1)).as("n_chunks"),
      max($"chunk_idx" * stride + $"n_words").as("covered"),
      max($"n_words").as("max_w"))
    val j = per.join(docs, "doc_id")
    assert(j.filter($"n_chunks" =!= expr(s"(n + $stride - 1) DIV $stride")).count() == 0,
      "chunk count = ceil(n/stride)")
    assert(j.filter($"covered" =!= $"n").count() == 0, "last chunk reaches the last word")
    assert(j.filter($"max_w" > width).count() == 0, "no chunk exceeds width")
    // order-preservation: chunk 0 is a prefix of the document text
    val first = ch.filter($"chunk_idx" === 0).join(docs, "doc_id")
    assert(first.filter(!$"text".startsWith($"chunk_text")).count() == 0)
    ch.unpersist(blocking = false)
  }

  test("vocab report: dense ranks, non-increasing counts, exact prefix-sum coverage") {
    val v = TextAnalysis.vocabReport(spark, sfDir, topN = 20).collect()
    assert(v.length == 20)
    assert(v.map(_.getAs[Long]("rank")).toSeq == (1L to 20L))
    val ns = v.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, "counts non-increasing")
    // cumulative coverage is the exact integer prefix sum of the shares
    val shares = v.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("share_micro"))
    val cums = v.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("cum_share_micro"))
    assert(cums.toSeq == shares.scanLeft(0L)(_ + _).tail.toSeq)
    assert(cums.last <= 1000000L)
    // top-1 agrees with an independent recompute
    val top1 = Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("w"))
      .groupBy($"w").count().orderBy($"count".desc, $"w").limit(1).collect()(0)
    assert(v.find(_.getAs[Long]("rank") == 1L).get.getAs[String]("word") == top1.getString(0))
    assert(v.find(_.getAs[Long]("rank") == 1L).get.getAs[Long]("n") == top1.getLong(1))
  }

  test("bm25 ranks are dense, scores ordered, and every ranked doc contains a query term") {
    val terms = Seq("vector", "spark", "stream")
    val r = TextAnalysis.bm25(spark, sfDir, terms, topK = 10).collect()
    assert(r.length == 10)
    assert(r.map(_.getAs[Long]("rank")).toSeq == (1L to 10L))
    assert(r.forall(_.getAs[Long]("score_micro") > 0))
    assert(r.forall(x => x.getAs[Long]("n_terms") >= 1 && x.getAs[Long]("n_terms") <= terms.size))
    val scores = r.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("score_micro"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "scores non-increasing")
    val ids = r.map(_.getAs[Long]("doc_id")).toSeq
    val withTerm = Tables.documents(spark, sfDir)
      .filter($"doc_id".isin(ids: _*))
      .filter(size(array_intersect(split($"text", " "), typedlit(terms))) > 0)
    assert(withTerm.count() == ids.length)
  }

  test("redact masks PII-shaped text, leaves the clean corpus intact, and is idempotent") {
    // documents carry no PII by construction → redaction is the identity
    val docs = TextAnalysis.redact(Tables.documents(spark, sfDir), "text")
    assert(docs.filter($"redacted" =!= $"text" ||
      $"n_ips" + $"n_nums" + $"n_emails" =!= 0L).count() == 0)
    // the packet feed: every row carries exactly one IPv4; digit runs only
    // where i*10 has ≥4 digits — the op must bite differentially
    val pk = TextAnalysis.redactQuery(spark).collect()
    assert(pk.forall(_.getAs[Long]("n_ips") == 1L))
    assert(pk.forall(r => !r.getAs[String]("redacted").contains("192.168")))
    val masked = pk.count(_.getAs[Long]("n_nums") == 1L)
    assert(masked == 400 && pk.length == 500, s"digit-run rows: $masked")
    // independent recompute of one row
    val r123 = pk.find(_.getAs[Long]("frame_number") == 123L).get
    assert(r123.getAs[String]("redacted") == "123 <IP> TCP packet <NUM>")
    // idempotence: mask tokens contain nothing maskable
    val again = TextAnalysis.redact(
      TextAnalysis.redactQuery(spark).select($"frame_number", $"redacted".as("t")), "t")
    assert(again.filter($"redacted" =!= $"t").count() == 0)
  }

  test("decontaminate matches an independent driver-side recompute") {
    val texts = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def grams(t: String, k: Int): Set[String] =
      t.split(" ", -1).sliding(k).filter(_.length == k).map(_.mkString(" ")).toSet
    val evalGrams = texts.filter(_._1 % 97 == 0).flatMap(t => grams(t._2, 4)).toSet
    val want = texts.filter(_._1 % 97 != 0)
      .map { case (id, t) => id -> grams(t, 4).count(evalGrams) }
      .filter(_._2 > 0).toMap
    val got = TextAnalysis.decontaminate(spark, sfDir)
      .as[(Long, Long)].collect().map { case (id, n) => id -> n.toInt }.toMap
    assert(got == want, s"spark=$got scala=$want")
  }

  test("commonness matches an independent driver-side recompute") {
    val texts = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val all = texts.flatMap(_._2.split(" ", -1))
    val cnt = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = all.length.toLong
    val want = texts.map { case (id, t) =>
      val toks = t.split(" ", -1)
      val sm = toks.map(w => cnt(w) * 1000000L / total).sum
      (id, toks.length.toLong, sm / toks.length)
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.commonness(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
  }

  test("bucketed range join equals the naive cross-filter overlap join") {
    val ev = Tables.events(spark, sfDir)
    val spans = ev.select($"user_id", unix_timestamp($"ts").as("ep"))
      .withColumn("day", expr("ep DIV 86400"))
      .groupBy($"user_id", $"day").agg(min($"ep").as("s"), max($"ep").as("e"))
    val incidents = ev.filter($"event_type" === "error" && $"event_id" % 199 === 0)
      .select($"event_id".as("incident_id"),
        (unix_timestamp($"ts") - 120L).as("a"), (unix_timestamp($"ts") + 120L).as("b"))
    val naive = spans.crossJoin(incidents)
      .filter($"s" <= $"b" && $"a" <= $"e")
      .groupBy($"user_id", $"day")
      .agg(count(lit(1)).as("n_incidents"), min($"incident_id").as("first_incident"))
      .orderBy($"user_id", $"day")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val bucketed = Temporal.rangeJoinBucketed(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(bucketed == naive)
    assert(bucketed.nonEmpty)
  }

  test("bigram LM score matches an independent driver-side recompute and is bounded") {
    val texts = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def bigrams(t: String): Array[String] = {
      val ws = t.split(" ", -1)
      if (ws.length < 2) Array.empty[String]
      else ws.sliding(2).map(_.mkString(" ")).toArray
    }
    def prefix(bg: String): String = bg.takeWhile(_ != ' ')
    val allB = texts.flatMap(x => bigrams(x._2))
    val cab = allB.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ca = allB.groupBy(prefix).view.mapValues(_.length.toLong).toMap
    val v = texts.flatMap(_._2.split(" ", -1)).distinct.length.toLong
    val want = texts.flatMap { case (id, t) =>
      val bs = bigrams(t)
      if (bs.isEmpty) None
      else {
        val sm = bs.map(b => (cab(b) + 1) * 1000000L / (ca(prefix(b)) + v)).sum
        Some((id, bs.length.toLong, sm / bs.length))
      }
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.lmScore(spark, sfDir).as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
    // C(ab) ≤ C(a·) and V ≥ 1 ⇒ every per-bigram micro ≤ 10⁶; smoothing ⇒ > 0
    assert(got.forall { case (_, _, m) => m >= 0 && m <= 1000000L })
  }

  test("quality gate actually discriminates: drops 10-90% of the corpus") {
    val total = Tables.documents(spark, sfDir).count()
    val kept = graft.operators.TextAnalysis.qualityGate(spark, sfDir).count()
    assert(kept > total / 10 && kept < total * 9 / 10,
      s"gate kept $kept of $total — not a discriminative filter")
  }

  test("approx_count_distinct is within 10% of exact") {
    val approx = Relational.aggApproxDistinct(spark, sfDir)
      .select($"l_returnflag", $"approx_orders").as[(String, Long)].collect().toMap
    val exact = Relational.aggDistinct(spark, sfDir)
      .select($"l_returnflag", $"n_orders").as[(String, Long)].collect().toMap
    exact.foreach { case (k, e) =>
      assert(math.abs(approx(k) - e).toDouble / e < 0.1, s"$k: ${approx(k)} vs $e")
    }
  }

  test("approx_percentile is close to the exact percentile") {
    val approx = Relational.aggApproxPercentile(spark, sfDir)
      .select($"l_returnflag", $"price_p50_approx").as[(String, Double)].collect().toMap
    val exact = Relational.aggPercentiles(spark, sfDir)
      .select($"l_returnflag", $"price_p50_micro").as[(String, Long)].collect().toMap
    exact.foreach { case (k, eMicro) =>
      val e = eMicro / 1e6
      assert(math.abs(approx(k) - e) / e < 0.05, s"$k: ${approx(k)} vs $e")
    }
  }

  test("moment aggregates satisfy corr = covar/(σx·σy)") {
    val r = Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(corr($"l_quantity", $"l_extendedprice").as("c"),
        covar_samp($"l_quantity", $"l_extendedprice").as("cv"),
        stddev_samp($"l_quantity").as("sq"),
        stddev_samp($"l_extendedprice").as("sp"))
      .collect()
    r.foreach { row =>
      val (c, cv, sq, sp) = (row.getDouble(1), row.getDouble(2), row.getDouble(3), row.getDouble(4))
      assert(math.abs(c - cv / (sq * sp)) < 1e-9, s"corr identity broken: $row")
      assert(c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12)
    }
  }

  test("multimodal decode emits the typed meta contract") {
    val out = EmbedQueries.mediaDecode(spark, sfDir).collect()
    assert(out.forall { r =>
      val (w, h, f) = (r.getLong(1), r.getLong(2), r.getString(3))
      w >= 256 && w < 1280 && h >= 256 && h < 1280 && (f == "png" || f == "jpeg")
    })
    // deterministic: same bytes, same meta
    val again = EmbedQueries.mediaDecode(spark, sfDir).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("real javax.imageio decode round-trips generated PNG and JPEG fixtures") {
    import graft.operators.Multimodal
    // PNG: encode with known dims, decode with the real codec
    for ((w, h, seed) <- Seq((8, 8, 1L), (23, 14, 42L), (16, 9, 7L))) {
      val (dw, dh, fmt) = Multimodal.imageDecode(Multimodal.encodePng(w, h, seed))
      assert((dw, dh, fmt) == (w, h, "png"), s"png $w x $h decoded as ($dw, $dh, $fmt)")
    }
    // JPEG: same contract through a second real codec
    val img = new java.awt.image.BufferedImage(20, 11, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val (jw, jh, jf) = Multimodal.imageDecode(bos.toByteArray)
    assert((jw, jh, jf) == (20, 11, "jpeg"))
    // resize is a real re-encode: decoding the output yields the target box
    val resized = Multimodal.imageResize(Multimodal.encodePng(23, 14, 42L), 12, 9)
    assert(Multimodal.imageDecode(resized) == ((12, 9, "png")))
    // garbage bytes are data, not exceptions
    assert(Multimodal.imageDecode("not an image".getBytes) == ((0, 0, "unknown")))
    assert(Multimodal.imageDecode(null) == ((0, 0, "unknown")))
    assert(Multimodal.imageResize("junk".getBytes, 4, 4).isEmpty)
  }

  test("real decode query matches the fixture dimension formulas end-to-end") {
    import graft.operators.Multimodal
    val out = Multimodal.realDecodeQuery(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == 8 + id % 16, s"width mismatch at $id")
      assert(r.getLong(2) == 8 + id % 7, s"height mismatch at $id")
      assert(r.getString(3) == "png")
      assert(r.getLong(4) == 12 && r.getLong(5) == 9)
    }
  }

  test("scd2 build: intervals tile each user's timeline, one current row, events conserved") {
    val rows = Temporal.scd2Build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getLong(0))
    byUser.foreach { case (u, vs) =>
      val sorted = vs.sortBy(_.getLong(1))
      // versions are 1..n dense
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq, s"user $u")
      // exactly one current row, and it's the last version
      val current = sorted.filter(_.getLong(5) == 1L)
      assert(current.length == 1 && current.head.getLong(1) == sorted.length, s"user $u")
      // valid_to of version v == valid_from of version v+1; only the last is null
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(!a.isNullAt(4) && a.getLong(4) == b.getLong(3), s"user $u gap/overlap")
          // consecutive versions must actually change the tracked attribute
          assert(a.getString(2) != b.getString(2), s"user $u non-change split")
        case _ =>
      }
      assert(sorted.last.isNullAt(4), s"user $u current valid_to")
    }
    // run metadata conserves the log: counts and cents sum to the raw table
    val total = Tables.events(spark, sfDir)
      .agg(count(lit(1)), sum(($"value".cast("decimal(18,2)") * 100).cast("long")))
      .head()
    assert(rows.map(_.getLong(6)).sum == total.getLong(0))
    assert(rows.map(_.getLong(7)).sum == total.getLong(1))
  }

  test("scd2 merge equals the full rebuild and never rescans the history") {
    val merged = Temporal.scd2Merge(spark, sfDir)
    val full = Temporal.scd2Build(spark, sfDir)
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty,
      "incremental merge must be row-identical to the full rebuild")
    assert(merged.count() > 0)
    // the scale property: the raw log is scanned ONCE (the delta slice);
    // history arrives via the persisted base table
    val plan = Temporal.scd2Merge(spark, sfDir).queryExecution.executedPlan.toString
    val rawScans = "events\\.parquet".r.findAllIn(plan).length
    assert(rawScans == 1, s"expected exactly one raw events scan, saw $rawScans")
    assert(plan.contains("graft_scd2_base_"), "history must come from the persisted base")
    // the merge genuinely extends/closes/keeps: the base's current rows
    // and the merged current rows must differ for at least one key (the
    // delta is 6 of 30 days, so some user changed state)
    val base = spark.table(Temporal.ensureScd2Base(spark, sfDir))
    assert(base.filter($"valid_to_us".isNull).count() !=
      merged.filter($"is_current" === 1 && $"version" === 1).count() ||
      base.count() < merged.count(),
      "day-2 slice should have moved at least one key's state")
  }

  test("scd2 point-in-time lookup: every purchase resolves to exactly one prior state") {
    val got = Temporal.scd2PitLookup(spark, sfDir).cache()
    val nPurchases = Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase").count()
    assert(got.count() == nPurchases && nPurchases > 0,
      "left join + tiling: exactly one row per purchase")
    assert(got.select($"purchase_event").distinct().count() == nPurchases,
      "no purchase may match two versions")
    // strictly-before semantics: the prior state is 'purchase' only for a
    // non-leading purchase of a purchase run — both cases must occur
    val types = got.select($"state_type").distinct().as[String].collect().toSet
    assert(types.contains("purchase") && (types - "purchase").nonEmpty, types.toString)
    assert(got.filter($"valid_from_ep" > $"at_ep").count() == 0)
    // a 'none' row is exactly a purchase that is its user's first event
    val firstEvents = Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")))
      .filter($"rn" === 1 && $"event_type" === "purchase")
      .select($"event_id").as[Long].collect().toSet
    val noneRows = got.filter($"state_type" === "none")
      .select($"purchase_event").as[Long].collect().toSet
    assert(noneRows == firstEvents, s"none=$noneRows firsts=$firstEvents")
    got.unpersist()
  }

  test("SQL-surface PIT lookup is row-identical to the DataFrame path") {
    val viaSql = Temporal.sqlPitQuery(spark, sfDir).collect().toSeq
    val viaDf = Temporal.scd2PitLookup(spark, sfDir).collect().toSeq
    assert(viaSql.map(_.toSeq) == viaDf.map(_.toSeq))
  }

  test("last-touch attribution conserves purchases and matches a per-row reference") {
    val e = Tables.events(spark, sfDir)
      .select($"user_id".as[Long], $"ts".as[java.sql.Timestamp], $"event_id".as[Long],
        $"event_type".as[String],
        ($"value".cast("decimal(18,2)") * 100).cast("long").as[Long])
      .collect()
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    def key(r: (Long, java.sql.Timestamp, Long, String, Long)): (Long, Long) = (us(r._2), r._3)
    val ord = Ordering.Tuple2[Long, Long]
    val byUser = e.groupBy(_._1).map { case (u, rs) => u -> rs.sortBy(key)(ord) }
    val expected = byUser.values.flatten.toSeq
      .filter(_._4 == "purchase")
      .map { p =>
        val prior = byUser(p._1).takeWhile(r => ord.lt(key(r), key(p)))
          .filter(_._4 != "purchase")
        prior.lastOption match {
          case Some(t) if us(p._2) - us(t._2) <= 7L * 86400L * 1000000L =>
            (t._4, p._5)
          case _ => ("direct", p._5)
        }
      }
      .groupBy(_._1)
      .map { case (ch, xs) => (ch, xs.length.toLong, xs.map(_._2).sum) }
      .toSet
    val got = Temporal.lastTouchAttribution(spark, sfDir)
      .select($"channel".as[String], $"n_purchases".as[Long], $"revenue_c".as[Long])
      .collect().toSet
    assert(got == expected, s"got $got\nexpected $expected")
    // every purchase is credited exactly once
    val nPurchases = e.count(_._4 == "purchase").toLong
    assert(got.toSeq.map(_._2).sum == nPurchases && nPurchases > 0)
  }

  test("asof join matches a per-row reference computation") {
    val e = Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", $"event_type", $"ts".cast("long").as("ep"),
        $"ts")
      .collect()
    val views = e.filter(_.getString(2) == "view")
    val clicks = e.filter(_.getString(2) == "click")
    val expected = clicks.map { c =>
      val uid = c.getLong(0)
      val cts = c.getTimestamp(4)
      val eligible = views.filter(v => v.getLong(0) == uid &&
        !v.getTimestamp(4).after(cts))
      val best = if (eligible.isEmpty) null
        else eligible.maxBy(v => (v.getTimestamp(4).getTime, v.getLong(1))).getLong(1)
      (c.getLong(1), Option(best))
    }.toMap
    val got = Temporal.asofClickView(spark, sfDir)
      .select($"click_id", $"matched_view").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == expected.map { case (k, v) => k -> v.map(_.asInstanceOf[Long]) })
  }

  test("phrase search matches a per-doc sliding-window reference, any phrase length") {
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id".as[Long], $"text".as[String]).collect()
    for (phrase <- Seq(Seq("table", "value"), Seq("the", "line", "sort"))) {
      val expected = docs.flatMap { case (id, t) =>
        val ws = t.split(" ")
        val hits = ws.indices.filter(i => i + phrase.length <= ws.length &&
          phrase.indices.forall(j => ws(i + j) == phrase(j)))
        if (hits.isEmpty) None else Some((id, hits.length.toLong, hits.min.toLong))
      }.sortBy(_._1).toSeq
      val got = TextAnalysis.phraseSearch(spark, sfDir, phrase)
        .select($"doc_id".as[Long], $"n_hits".as[Long], $"first_pos".as[Long])
        .collect().toSeq
      assert(got == expected, s"phrase $phrase: $got vs $expected")
    }
  }

  test("incremental refresh equals the full merge and never rescans the history") {
    val got = Relational.incrementalRefresh(spark, sfDir)
    val full = Relational.partialMerge(spark, sfDir) // == full recompute (its oracle)
    assert(got.exceptAll(full).isEmpty && full.exceptAll(got).isEmpty,
      "persisted-base merge must be byte-identical to the full recompute")
    // the scale property: the refresh plan reads the raw events ONCE (the
    // delta side); the history arrives via the persisted |keys|-row base
    val plan = Relational.incrementalRefresh(spark, sfDir)
      .queryExecution.executedPlan.toString
    val rawScans = "events\\.parquet".r.findAllIn(plan).length
    assert(rawScans == 1, s"expected exactly one raw events scan, saw $rawScans")
    assert(plan.contains("graft_agg_base_"), "the base must come from the persisted table")
  }

  test("triangles: degree-ordered count equals the naive ordered 3-join census") {
    val got = Relational.graphTriangles(spark, sfDir).collect().head
    // naive replay: u<v<w with all three edges present, each triangle once
    val li = Tables.lineitem(spark, sfDir).filter($"l_quantity" >= 30)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val e = li.as("a").join(li.as("b"), $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .select($"a.pk".as("u"), $"b.pk".as("v")).distinct().cache()
    val e1 = e.select($"u".as("x"), $"v".as("y"))
    val e2 = e.select($"u".as("y"), $"v".as("z"))
    val e3 = e.select($"u".as("x2"), $"v".as("z2"))
    val naive = e1.join(e2, "y")
      .join(e3, $"x" === $"x2" && $"z" === $"z2")
      .count()
    assert(got.getAs[Long]("n_triangles") == naive,
      s"degree-ordered count ${got.getAs[Long]("n_triangles")} != naive $naive")
    assert(got.getAs[Long]("n_edges") == e.count())
    e.unpersist()
  }

  test("kmv set-ops: below k the union sketch holds the whole union — estimates are exact, verdicts green") {
    val audit = graft.operators.HeavyHitters.kmvSetOpsAudit(spark, sfDir).collect()
    assert(audit.length == 10, s"expected C(5,2)=10 type pairs, got ${audit.length}")
    audit.foreach { r =>
      assert(r.getAs[Long]("within_bound") == 1L)
      // sf0.001 has ~15 users << k=256: small-cardinality exactness
      assert(r.getAs[Long]("est_union") == r.getAs[Long]("exact_union"),
        s"${r.getAs[String]("type_a")}x${r.getAs[String]("type_b")}: est_union != exact below k")
      assert(r.getAs[Long]("est_inter") == r.getAs[Long]("exact_inter"))
    }
  }

  test("gram matrix: full-dim diagonal mass equals the unit-norm row count, within floor slack") {
    val dims = 64
    val g = EmbedQueries.gramMatrix(spark, sfDir, dims).collect()
    assert(g.length == dims * (dims + 1) / 2)
    val n = Tables.embeddings(spark, sfDir).count()
    assert(g.forall(_.getAs[Long]("n") == n), "every cell aggregates every row")
    // embeddings are L2-normalized: Σᵢ xᵢ² = 1 per row, so the diagonal's
    // total micro mass is n·10⁶ shy of at most `dims` unit floors per row
    val diag = g.filter(r => r.getAs[Long]("i") == r.getAs[Long]("j"))
      .map(_.getAs[Long]("gram_sum_micro")).sum
    assert(diag <= n * 1000000L && diag >= n * (1000000L - dims), s"diag=$diag n=$n")
  }

  test("power-iteration eigenvalue agrees with a driver-side double-precision iteration") {
    val out = EmbedQueries.topEigen(spark, sfDir).collect()
    assert(out.length == 16)
    val lam = out.head.getAs[Long]("lambda_micro")
    val share = out.head.getAs[Long]("top_share_permille")
    assert(share > 0 && share <= 1000, s"share=$share")
    // reference: double power iteration on the collected 16×16 micro matrix
    val g = EmbedQueries.gramMatrix(spark, sfDir).collect()
      .map(r => ((r.getAs[Long]("i").toInt, r.getAs[Long]("j").toInt),
        r.getAs[Long]("gram_sum_micro").toDouble)).toMap
    def gAt(i: Int, j: Int) = g.getOrElse((math.min(i, j), math.max(i, j)), 0.0)
    var v = Array.fill(16)(1.0)
    for (_ <- 1 to 50) {
      val u = Array.tabulate(16)(i => (0 until 16).map(j => gAt(i, j) * v(j)).sum)
      val n = math.sqrt(u.map(x => x * x).sum)
      v = u.map(_ / n)
    }
    val lamRef = {
      val u = Array.tabulate(16)(i => (0 until 16).map(j => gAt(i, j) * v(j)).sum)
      (0 until 16).map(i => v(i) * u(i)).sum
    }
    // integer milli-quantized 5-round iteration vs converged double: 5%
    assert(math.abs(lam - lamRef) / lamRef < 0.05, s"lam=$lam ref=$lamRef")
  }

  test("join-size estimate: exact side is the true join count, estimate is sane, sample is 1/16-ish") {
    val r = Relational.joinSizeEstimate(spark, sfDir).collect().head
    val exact = r.getAs[Long]("exact_rows")
    val est = r.getAs[Long]("est_rows")
    val nKeys = r.getAs[Long]("n_keys")
    val sampled = r.getAs[Long]("sampled_keys")
    // the "exact" branch really is the join size
    val trueJoin = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey").count()
    assert(exact == trueJoin, s"exact_rows $exact != true join $trueJoin")
    // the md5-nibble sample hits ~1/16 of the key domain (binomial tolerance)
    assert(sampled > 0 && sampled < nKeys / 4,
      s"sample fraction off: $sampled of $nKeys keys")
    // unbiased estimator at this scale: within 50% of truth (CLT, not luck —
    // sf0.001 has ~1.5k join keys, ~90 sampled)
    assert(math.abs(est - exact).toDouble / exact < 0.5,
      s"estimate too far: est=$est exact=$exact")
    assert(r.getAs[String]("verdict") == "ok")
  }
}
