package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.operators.{AsOf, Dedup, Forecast, Sampling, Scalers, Sessions}
import graft.functions.Hll

/** The round-3 pipeline operators: as-of join, sessionization, incremental
  * Bloom-pruned dedup, deterministic sampling, baseline forecasts, quantile
  * binning, and the HLL cardinality sketch (oracle-covered end-to-end by
  * q69–q76; these tests pin the semantics and the scale-relevant invariants
  * the SQL twin can't see — Bloom prune ≡ plain anti-join, HLL merge ≡
  * register max, prune-vs-window sampling equivalence).
  */
class PipelineOpsSpec extends SparkSuite {
  import spark.implicits._

  // ------------------------------------------------------------- as-of join

  test("asofJoin: backward inclusive, per-key, null before first snapshot") {
    val left = Seq((1L, 5L), (1L, 10L), (1L, 15L), (2L, 7L))
      .toDF("k", "s")
      .withColumn("ts", timestamp_seconds(col("s"))).drop("s")
      .withColumn("payload", col("k") * 100)
    val right = Seq((1L, 10L, 1.0), (1L, 12L, 2.0), (2L, 99L, 3.0))
      .toDF("k", "s", "v")
      .withColumn("rts", timestamp_seconds(col("s"))).drop("s")
    val out = AsOf.asofJoin(left, right, Seq("k"), "ts", "rts", Seq("v"))
      .select(col("k"), unix_timestamp(col("ts")).as("t"),
        unix_timestamp(col("matched_ts")).as("m"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).sortBy(x => (x._1, x._2))
    assert(out(0) == ((1L, 5L, -1L, out(0)._4)) && out(0)._4.isNaN) // before first
    assert(out(1) == ((1L, 10L, 10L, 1.0)))                         // tie → inclusive
    assert(out(2) == ((1L, 15L, 12L, 2.0)))                         // most recent
    assert(out(3)._3 == -1L)                                        // key 2: snapshot after
  }

  test("asofJoin: null fields of the matched row stay null (struct LOCF)") {
    val left = Seq((1L, 20L)).toDF("k", "s")
      .withColumn("ts", timestamp_seconds(col("s"))).drop("s")
    val right = Seq((1L, 5L, Some(1.0)), (1L, 10L, None))
      .toDF("k", "s", "v")
      .withColumn("rts", timestamp_seconds(col("s"))).drop("s")
    val r = AsOf.asofJoin(left, right, Seq("k"), "ts", "rts", Seq("v")).head()
    // matched row is ts=10 whose v is null — must NOT leak ts=5's value
    assert(r.getAs[java.sql.Timestamp]("matched_ts").getTime == 10000L)
    assert(r.isNullAt(r.fieldIndex("v")))
  }

  // --------------------------------------------------------- sessionization

  test("sessionize: gap splits sessions, sub-second gaps respected") {
    val df = Seq(
      (1L, "2024-01-01 00:00:00.4"), (1L, "2024-01-01 00:00:30.2"),
      (1L, "2024-01-01 00:31:00.0"),  // 30m29.8s after previous → new session
      (2L, "2024-01-01 00:00:00.0"))
      .toDF("k", "t").withColumn("ts", col("t").cast("timestamp"))
    val s = Sessions.sessionize(df, Seq("k"), "ts", gapSeconds = 1800L)
      .select("k", "session_idx").as[(Long, Long)].collect().sorted
    assert(s.toSeq == Seq((1L, 1L), (1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("sessionStats: counts, duration, and sums per session") {
    val df = Seq((1L, 0L, 1.0), (1L, 100L, 2.0), (1L, 5000L, 4.0))
      .toDF("k", "s", "v").withColumn("ts", timestamp_seconds(col("s")))
    val st = Sessions.sessionStats(df, Seq("k"), "ts", 1800L, "v")
      .orderBy("session_idx")
      .select("session_idx", "duration_sec", "n_events", "sum_value")
      .as[(Long, Long, Long, Double)].collect()
    assert(st.toSeq == Seq((1L, 100L, 2L, 3.0), (2L, 0L, 1L, 4.0)))
  }

  test("cohortRetention: first-seen cohorts, offsets, multi-visit counted once") {
    val df = Seq(
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 23:00:00"), // same day: once
      (1L, "2024-01-03 01:00:00"),                              // offset 2
      (2L, "2024-01-01 05:00:00"),                              // same cohort as 1
      (3L, "2024-01-02 00:00:00"), (3L, "2024-01-03 00:00:00")) // later cohort
      .toDF("u", "t").withColumn("ts", col("t").cast("timestamp"))
    val out = Sessions.cohortRetention(df, "u", "ts")
      .select(date_format(col("cohort_day"), "MM-dd").as("c"), col("offset_days"), col("n_active"))
      .as[(String, Int, Long)].collect().sorted
    assert(out.toSeq == Seq(("01-01", 0, 2L), ("01-01", 2, 1L),
      ("01-02", 0, 1L), ("01-02", 1, 1L)))
  }

  test("windowFunnel: strict order, window expiry, chain break, max_step 0") {
    val W = 100L
    val df = Seq(
      // u1: full chain inside the window
      (1L, "a", 0L), (1L, "b", 10L), (1L, "c", 20L),
      // u2: b BEFORE a → not counted; no b after a → stops at step 1
      (2L, "b", 0L), (2L, "a", 5L), (2L, "c", 10L),
      // u3: b lands outside the window of t1 → stops at step 1
      (3L, "a", 0L), (3L, "b", 150L), (3L, "c", 160L),
      // u4: never does step a → max_step 0 even though b,c present
      (4L, "b", 0L), (4L, "c", 1L),
      // u5: second 'a' irrelevant — chain anchors at the FIRST a
      (5L, "a", 0L), (5L, "a", 90L), (5L, "b", 95L), (5L, "c", 99L))
      .toDF("u", "t", "s").withColumn("ts", timestamp_seconds(col("s")))
    val out = Sessions.windowFunnel(df, Seq("u"), "ts", "t",
        Seq("a", "b", "c"), windowSeconds = W)
      .select(col("u"), col("max_step"), unix_timestamp(col("t3")).as("t3s"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 3, 20L), (2L, 1, -1L), (3L, 1, -1L),
      (4L, 0, -1L), (5L, 3, 99L)))
  }

  // --------------------------------------------------------- tf-idf / bm25

  test("tfidf: hand-computed smooth idf; minDf prunes rare terms") {
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "cat dog cat"), (2L, "dog fish"), (3L, "dog")).toDF("id", "text")
    val out = TextAnalysis.tfidf(docs, "id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    def idf(df: Long) = math.log(4.0 / (1 + df)) + 1
    assert(out((1L, "cat")) == ((2L, 1L, 2 * idf(1))))
    assert(out((1L, "dog")) == ((1L, 3L, 1 * idf(3))))
    assert(out((2L, "fish")) == ((1L, 1L, 1 * idf(1))))
    assert(out.size == 5)
    // minDf = 2 keeps only 'dog' (df 3) and 'cat'? cat df=1 → pruned
    val pruned = TextAnalysis.tfidf(docs, "id", "text", minDf = 2L)
      .select("term").distinct().as[String].collect().toSet
    assert(pruned == Set("dog"))
  }

  test("bm25: single-term corpus ranks by tf/length; no-hit doc scores null") {
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "x x x y"), (2L, "x y y y"), (3L, "y y")).toDF("id", "text")
    val out = TextAnalysis.bm25(docs, "id", "text", Seq("x"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) Double.NaN else r.getDouble(1), r.getLong(2))).toMap
    val (k1, b) = (1.2, 0.75)
    val idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    def s(tf: Long, len: Double) =
      idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len / (10.0 / 3)))
    assert(math.abs(out(1L)._1 - s(3, 4)) < 1e-12 && out(1L)._2 == 1L)
    assert(math.abs(out(2L)._1 - s(1, 4)) < 1e-12)
    assert(out(3L)._1.isNaN && out(3L)._2 == 0L) // no query term → null score
    assert(out(1L)._1 > out(2L)._1)              // higher tf wins at equal length
  }

  test("lineFilter: C4 line rules — punct, min words, blacklist; ordered reassembly") {
    import graft.operators.TextAnalysis
    val page = Seq(
      "This is a perfectly fine prose sentence.",  // kept
      "nav menu home about contact",                // no terminal punct → drop
      "Please enable javascript to continue.",      // blacklist → drop
      "Too short.",                                 // < 5 words → drop
      "We use cookie banners on every page today!", // blacklist (cookie) → drop
      "Another good long sentence ends properly?"   // kept
    ).mkString("\n")
    val out = TextAnalysis.lineFilter(Seq((1L, page)).toDF("id", "text"), "id", "text")
      .collect()(0)
    assert(out.getLong(out.fieldIndex("n_lines")) == 6L)
    assert(out.getLong(out.fieldIndex("n_kept")) == 2L)
    assert(out.getString(out.fieldIndex("clean_text")) ==
      "This is a perfectly fine prose sentence.\nAnother good long sentence ends properly?")
  }

  test("lmScore: hand add-1 bits; vocab cap routes tail to OOV; empty doc null") {
    import graft.operators.TextAnalysis
    // counts: a:3 b:1 c:1 → N=5, V=3 → p(a)=4/8, p(b)=p(c)=2/8, OOV=1/8
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "")).toDF("id", "text")
    val out = TextAnalysis.lmScore(docs, "id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    assert(out(1L)._1 == 3L && math.abs(out(1L)._2 - 4.0 / 3) < 1e-12)
    assert(out(2L)._1 == 2L && math.abs(out(2L)._2 - 1.5) < 1e-12)
    assert(out(3L)._1 == 0L && out(3L)._2.isNaN)
    // maxVocab=1 keeps only 'a'; b and c fall into the 1/8 OOV mass (the
    // N+V normalizer still reflects the FULL counts)
    val capped = TextAnalysis.lmScore(docs, "id", "text", maxVocab = Some(1))
      .collect().filterNot(_.isNullAt(2)).map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(capped(1L) - 5.0 / 3) < 1e-12) // (1 + 1 + 3)/3
    assert(math.abs(capped(2L) - 2.0) < 1e-12)     // (1 + 3)/2
  }

  // ------------------------------------------------------ incremental dedup

  test("incrementalDedup ≡ plain anti-join for any fpp (Bloom is only a prune)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val history = docs.filter(col("doc_id") % 3 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 0)
    val expected = batch.withColumn("_d", md5(col("text")))
      .join(history.select(md5(col("text")).as("_d")), Seq("_d"), "left_anti")
      .select("doc_id").as[Long].collect().sorted
    for (fpp <- Seq(0.5, 0.01)) { // high fpp → many false positives, same answer
      val got = Dedup.incrementalDedup(batch, history, "text",
          expectedHistoryItems = 100L, fpp = fpp)
        .select("doc_id").as[Long].collect().sorted
      assert(got.toSeq == expected.toSeq, s"fpp=$fpp")
    }
  }

  // ---------------------------------------------------------------- sampling

  test("stratifiedBottomK: exact k per stratum, deterministic, order-free") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "lang")
    val a = Sampling.stratifiedBottomK(docs, Seq("lang"), "doc_id", 5)
      .select("lang", "doc_id").as[(String, Long)].collect().sorted
    val b = Sampling.stratifiedBottomK(docs.repartition(13), Seq("lang"), "doc_id", 5)
      .select("lang", "doc_id").as[(String, Long)].collect().sorted
    assert(a.toSeq == b.toSeq) // partitioning-independent
    val counts = a.groupBy(_._1).map(_._2.length).toSet
    assert(counts == Set(5))
  }

  test("hashSample: pure filter (no shuffle) and replayable membership") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val s1 = Sampling.hashSample(docs, col("doc_id").cast("string"), 1, 10)
    assert(!s1.queryExecution.executedPlan.toString.contains("Exchange"),
      "hashSample must stay a narrow filter")
    val ids = s1.select("doc_id").as[Long].collect().toSet
    val ids2 = Sampling.hashSample(docs.repartition(9), col("doc_id").cast("string"), 1, 10)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == ids2 && ids.nonEmpty && ids.size < 500)
  }

  // --------------------------------------------------------------- forecasts

  test("seasonalNaive: yhat repeats the last season; bands widen with √k") {
    // key 1: 14 daily points, value = day index
    val hist = (0 until 14).map(d => (1L, d * 86400L, d.toDouble))
      .toDF("k", "s", "v").withColumn("d", timestamp_seconds(col("s"))).drop("s")
    val f = Forecast.seasonalNaive(hist, Seq("k"), "d", "v",
        period = 7, horizon = 8, stepSeconds = 86400L)
      .orderBy("step").select("step", "yhat", "lo", "hi")
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    // step s → source = day 13 + s - 7⌈s/7⌉: s=1→7, s=7→13, s=8→7 (k=2)
    assert(f(0)._2 == 7.0 && f(6)._2 == 13.0 && f(7)._2 == 7.0)
    // residuals are all exactly 7 → σ=0 → bands collapse onto yhat
    assert(f.forall(x => x._3 == x._2 && x._4 == x._2))
  }

  test("drift: line through first and last observation") {
    val hist = Seq((1L, 0L, 10.0), (1L, 86400L, 11.0), (1L, 172800L, 16.0))
      .toDF("k", "s", "v").withColumn("d", timestamp_seconds(col("s"))).drop("s")
    val f = Forecast.drift(hist, Seq("k"), "d", "v", horizon = 2, stepSeconds = 86400L)
      .orderBy("step").select("yhat").as[Double].collect()
    // slope = (16-10)/2 = 3 → 19, 22
    assert(f.toSeq == Seq(19.0, 22.0))
  }

  // ----------------------------------------------------------------- binning

  test("quantileBin edges path ≈ ntile path; applyEdges is narrow") {
    val df = (1 to 1000).map(i => (i.toLong, (i * 7919 % 1000).toDouble)).toDF("id", "v")
    val edges = Scalers.fitQuantileEdges(df, "v", 4, relErr = 0.0)
    val binned = Scalers.applyEdges(df, "v", edges)
    assert(!binned.queryExecution.executedPlan.toString.contains("Exchange"),
      "applyEdges must stay a narrow projection")
    val byBin = binned.groupBy("bin").count().as[(Int, Long)].collect().toMap
    assert(byBin.keySet == Set(1, 2, 3, 4))
    assert(byBin.values.forall(c => c >= 230 && c <= 270)) // ~250 per quartile
  }

  // --------------------------------------------------------------------- HLL

  test("HLL: ≤5% error at 10k distinct; exact-ish small range; empty = 0") {
    val regs = new Array[Byte](Hll.M)
    (0 until 10000).foreach(i => Hll.update(regs, s"item_$i"))
    val est = Hll.estimate(regs)
    assert(math.abs(est - 10000) / 10000.0 < 0.05, s"est=$est")
    val small = new Array[Byte](Hll.M)
    (0 until 20).foreach(i => Hll.update(small, s"x$i"))
    assert(math.abs(Hll.estimate(small) - 20) < 1.0)
    assert(Hll.estimate(new Array[Byte](Hll.M)) == 0.0)
  }

  test("HLL promote: merged 1m sketches are REGISTER-identical to direct 1h") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("m", date_trunc("minute", col("ts")))
      .withColumn("h", date_trunc("hour", col("ts")))
    val direct = ev.groupBy("user_id", "h")
      .agg(Hll.hllSketch(col("event_type")).as("sk"))
    val promoted = ev.groupBy("user_id", "m", "h")
      .agg(Hll.hllSketch(col("event_type")).as("sk1m"))
      .groupBy("user_id", "h")
      .agg(Hll.hllMerge(col("sk1m")).as("sk"))
    val joined = direct.as("d").join(promoted.as("p"), Seq("user_id", "h"))
      .select(col("d.sk"), col("p.sk")).collect()
    assert(joined.nonEmpty)
    joined.foreach { case Row(a: Array[Byte], b: Array[Byte]) =>
      assert(java.util.Arrays.equals(a, b))
    }
  }

  test("HLL slidingDistinct: windowed estimate == direct union build; exact per bucket") {
    val rnd = new scala.util.Random(41L)
    val t0 = 1700000000L - 1700000000L % 600
    val input = (0 until 4000).map { i =>
      ("g" + (i % 2), t0 + (i.toLong * 11) % 3600, s"u${rnd.nextInt(300)}")
    }
    val raw = input.toArray
    // an item column named like a column the function could use inside must
    // still be counted as the items
    for (itemCol <- Seq("item", "_ts_sec")) {
      val rows = input.toDF("g", "sec", itemCol).withColumn("ts", timestamp_seconds(col("sec")))
      val out = Hll.slidingDistinct(rows, Seq("g"), "ts", itemCol,
          bucketSeconds = 600L, k = 3)
        .collect().map(r => ((r.getString(0), r.getLong(1)),
          (r.getLong(2), r.getDouble(3)))).toMap
      assert(out.nonEmpty)
      out.foreach { case ((g, b), (bucketDistinct, est)) =>
        val inBucket = raw.filter(x => x._1 == g && x._2 - x._2 % 600 == b)
        assert(bucketDistinct == inBucket.map(_._3).distinct.length)
        // direct union build over the trailing range — register-deterministic,
        // so the estimate must match the windowed merge EXACTLY
        val inWin = raw.filter(x =>
          x._1 == g && x._2 - x._2 % 600 >= b - 1200 && x._2 - x._2 % 600 <= b)
        val regs = new Array[Byte](Hll.M)
        inWin.map(_._3).distinct.foreach(Hll.update(regs, _))
        assert(Hll.estimate(regs) == est, s"($g,$b)")
        // ...and the estimate is actually close to truth
        val truth = inWin.map(_._3).distinct.length.toDouble
        assert(math.abs(est - truth) / truth < 0.10, s"($g,$b) est=$est truth=$truth")
      }
    }
    // a key named like the output bucket column is refused by name
    val clash = intercept[IllegalArgumentException](Hll.slidingDistinct(
      input.toDF("bucket_start", "sec", "item").withColumn("ts", timestamp_seconds(col("sec"))),
      Seq("bucket_start"), "ts", "item", bucketSeconds = 600L, k = 3))
    assert(clash.getMessage.contains("bucket_start"))
  }

  // ------------------------------------------------------ connected components

  test("connectedComponents: chains, stars, and singles get min-id components") {
    // chain 1-2-3-4 (diameter 3 — needs >1 propagation round), star 10-{11,12},
    // isolated pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L), (21L, 20L))
      .toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    Seq(1L, 2L, 3L, 4L).foreach(i => assert(out(i) == ((1L, 4L, i == 1L)), s"node $i"))
    Seq(10L, 11L, 12L).foreach(i => assert(out(i) == ((10L, 3L, i == 10L))))
    Seq(20L, 21L).foreach(i => assert(out(i) == ((20L, 2L, i == 20L))))
    assert(out.size == 9)
  }

  test("connectedComponents: long path converges; maxIter too small throws") {
    // path 0-1-2-...-12: min label must travel 12 hops
    val path = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(path).select("component").distinct().collect()
    assert(comps.map(_.getLong(0)).toSeq == Seq(0L))
    intercept[IllegalStateException] {
      Dedup.connectedComponents(path, maxIter = 2).count()
    }
  }

  // ------------------------------------------------------------------- ACF

  test("acf: pandas-autocorr semantics (linear → 1, hand-checked alternating)") {
    val lin = (1 to 20).map(i => (1L, i.toLong, i.toDouble)).toDF("k", "t", "v")
      .withColumn("ts", timestamp_seconds(col("t")))
    val a = graft.operators.Features.acf(lin, Seq("k"), "ts", "v", Seq(1, 3))
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    assert(math.abs(a(1) - 1.0) < 1e-12 && math.abs(a(3) - 1.0) < 1e-12)

    // alternating ±1: lag-1 pairs are (+1,-1)... perfectly anti-correlated
    val alt = (1 to 20).map(i => (1L, i.toLong, if (i % 2 == 0) 1.0 else -1.0))
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val b = graft.operators.Features.acf(alt, Seq("k"), "ts", "v", Seq(1, 2))
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    assert(math.abs(b(1) + 1.0) < 1e-12 && math.abs(b(2) - 1.0) < 1e-12)
  }

  // ------------------------------------------------------------------- SES

  test("ses: closed-form level equals the recursive definition; nulls skipped") {
    val ys = Seq(3.0, 7.0, 2.0, 9.0, 4.0, 6.0)
    val alpha = 0.3
    val expected = ys.tail.foldLeft(ys.head)((l, y) => alpha * y + (1 - alpha) * l)
    val df = ys.zipWithIndex.map { case (y, i) => (1L, i.toLong * 86400, Some(y)) }
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val out = Forecast.ses(df, Seq("k"), "ts", "v", alpha, horizon = 3, stepSeconds = 86400L)
      .orderBy("step").collect()
    assert(out.length == 3)
    out.foreach(r => assert(math.abs(r.getDouble(3) - expected) < 1e-9))
    // a null observation must not reset the recursion — same as dropping it
    val withNull = (ys.take(3) ++ Seq(Double.NaN) ++ ys.drop(3)).zipWithIndex
      .map { case (y, i) => (1L, i.toLong * 86400, if (y.isNaN) None else Some(y)) }
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val out2 = Forecast.ses(withNull, Seq("k"), "ts", "v", alpha, 1, 86400L).head()
    assert(math.abs(out2.getDouble(3) - expected) < 1e-9)
  }

  // ------------------------------------------------------------------- CMS

  test("CMS: never underestimates; exact on a sparse domain; ε·N bound holds") {
    import graft.functions.Cms
    val sk = new Array[Byte](Cms.Bytes)
    val freq = (0 until 200).map(i => s"w$i" -> (i % 7 + 1).toLong).toMap
    freq.foreach { case (w, n) => (0L until n).foreach(_ => Cms.update(sk, w)) }
    val total = freq.values.sum
    freq.foreach { case (w, n) =>
      val est = Cms.query(sk, w)
      assert(est >= n, s"$w underestimated: $est < $n")
      // ε = e/W with probability 1−e^−D; at 200 items in 1024 buckets the
      // deterministic bound below is loose enough to never flake
      assert(est - n <= math.ceil(math.E / Cms.W * total).toLong + 3, s"$w est=$est n=$n")
    }
    assert(Cms.query(sk, "never-seen") >= 0) // collisions may make it > 0
  }

  test("CMS promote: merged 1m sketches are COUNTER-identical to direct 1h") {
    import graft.functions.Cms
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("m", date_trunc("minute", col("ts")))
      .withColumn("h", date_trunc("hour", col("ts")))
    val direct = ev.groupBy("user_id", "h")
      .agg(Cms.cmsSketch(col("event_type")).as("sk"))
    val promoted = ev.groupBy("user_id", "m", "h")
      .agg(Cms.cmsSketch(col("event_type")).as("sk1m"))
      .groupBy("user_id", "h")
      .agg(Cms.cmsMerge(col("sk1m")).as("sk"))
    val joined = direct.as("d").join(promoted.as("p"), Seq("user_id", "h"))
      .select(col("d.sk"), col("p.sk")).collect()
    assert(joined.nonEmpty)
    joined.foreach { case Row(a: Array[Byte], b: Array[Byte]) =>
      assert(java.util.Arrays.equals(a, b))
    }
  }

  // --------------------------------------------------------- decontamination

  test("decontaminate: containment fractions, short-doc null, broadcast plan") {
    import graft.operators.TextAnalysis
    val bench = Seq((0L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val cands = Seq(
      (1L, "the quick brown fox jumps"),       // fully contained → 1.0
      (2L, "quick brown fox over lazy dogs"),  // 1 of 4 shingles hit
      (3L, "entirely different words here now"), // disjoint → 0.0
      (4L, "too short")                        // < 3 words → null
    ).toDF("doc_id", "text")
    val out = TextAnalysis.decontaminate(cands, bench, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out(0).getDouble(3) == 1.0 && out(0).getLong(1) == 3)
    assert(out(1).getLong(1) == 4 && out(1).getLong(2) == 1 && out(1).getDouble(3) == 0.25)
    assert(out(2).getDouble(3) == 0.0)
    assert(out(3).getLong(1) == 0L && out(3).isNullAt(3))
    val plan = TextAnalysis.decontaminate(cands, bench, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "benchmark side must broadcast")
  }

  // ------------------------------------------------------------- Croston

  test("croston: z/p recursions match the hand-rolled reference; all-zero key absent") {
    // grid positions:        1    2    3    4    5    6    7
    val ys = Seq(0.0, 4.0, 0.0, 0.0, 6.0, 2.0, 0.0)
    val alpha = 0.3
    // non-zero demands z = (4, 6, 2) at positions (2, 5, 6) → intervals q = (2, 3, 1)
    def sesLevel(xs: Seq[Double]) = xs.tail.foldLeft(xs.head)((l, y) => alpha * y + (1 - alpha) * l)
    val expected = sesLevel(Seq(4.0, 6.0, 2.0)) / sesLevel(Seq(2.0, 3.0, 1.0))
    val df = (ys.zipWithIndex.map { case (y, i) => (1L, i.toLong * 86400, y) } ++
      (0 until 7).map(i => (2L, i.toLong * 86400, 0.0))) // key 2: never demands
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val out = Forecast.croston(df, Seq("k"), "ts", "v", alpha, horizon = 2, stepSeconds = 86400L)
      .orderBy("k", "step").collect()
    assert(out.length == 2, "all-zero key must be absent; h=2 rows for key 1")
    out.foreach { r =>
      assert(r.getLong(0) == 1L)
      assert(math.abs(r.getDouble(3) - expected) < 1e-12)
    }
    // forecast origin is the LAST grid point (position 7), not the last demand
    assert(out(0).getAs[java.sql.Timestamp](1).getTime == 7L * 86400 * 1000)
  }

  // ---------------------------------------------------------------- MASE

  test("intervalScore: hand Winkler terms, coverage share, narrow beats wide on hits") {
    import graft.operators.Metrics
    // bands [0, 10]; actuals: inside (W=10), below by 2 (10+10·2=30),
    // above by 1 (10+10·1=20) at alpha=0.2
    val df = Seq((1L, 5.0), (1L, -2.0), (1L, 11.0))
      .toDF("k", "y").withColumn("lo", lit(0.0)).withColumn("hi", lit(10.0))
    val r = Metrics.intervalScore(df, Seq("k"), "y", "lo", "hi", alpha = 0.2)
      .collect()(0)
    assert(math.abs(r.getDouble(r.fieldIndex("interval_score")) - 20.0) < 1e-9) // (10+30+20)/3
    assert(math.abs(r.getDouble(r.fieldIndex("coverage")) - 1.0 / 3) < 1e-12)
    assert(r.getLong(r.fieldIndex("n")) == 3L)
    // same actual inside both bands: the narrower band scores better
    val two = Seq((1L, 5.0)).toDF("k", "y")
    val narrow = Metrics.intervalScore(two.withColumn("lo", lit(4.0))
      .withColumn("hi", lit(6.0)), Seq("k"), "y", "lo", "hi", 0.2)
      .collect()(0).getDouble(1)
    val wide = Metrics.intervalScore(two.withColumn("lo", lit(0.0))
      .withColumn("hi", lit(10.0)), Seq("k"), "y", "lo", "hi", 0.2)
      .collect()(0).getDouble(1)
    assert(narrow < wide)
  }

  test("conformal: k-th smallest residual, too-few-points key dropped, bands centered") {
    import graft.operators.Conformal
    // key 1: residuals 1..9 (pred=0, actual=i), alpha=0.2 -> k=ceil(10*0.8)=8 -> qhat=8
    // key 2: only 3 points at alpha=0.05 -> k=ceil(4*0.95)=4 > 3 -> no row
    val calib1 = (1 to 9).map(i => (1L, i.toDouble, 0.0)).toDF("k", "y", "p")
    val f1 = Conformal.fitSplitConformal(calib1, Seq("k"), "y", "p", alpha = 0.2).collect()
    assert(f1.length == 1)
    assert(f1(0).getDouble(f1(0).fieldIndex("qhat")) == 8.0)
    assert(f1(0).getLong(f1(0).fieldIndex("n_calib")) == 9L)
    val calib2 = Seq((2L, 1.0, 0.0), (2L, 2.0, 0.0), (2L, 3.0, 0.0)).toDF("k", "y", "p")
    assert(Conformal.fitSplitConformal(calib2, Seq("k"), "y", "p", alpha = 0.05).isEmpty)
    // bands: pred +/- qhat; unfitted keys dropped by the inner join
    val test = Seq((1L, 10.0), (3L, 5.0)).toDF("k", "p")
    val banded = Conformal.applyBands(test,
      Conformal.fitSplitConformal(calib1, Seq("k"), "y", "p", 0.2), Seq("k"), "p")
      .collect()
    assert(banded.length == 1)
    assert(banded(0).getDouble(banded(0).fieldIndex("lo")) == 2.0)
    assert(banded(0).getDouble(banded(0).fieldIndex("hi")) == 18.0)
  }

  test("conformal: empirical coverage >= 1-alpha on an exchangeable seeded split") {
    import graft.operators.Conformal
    // iid residuals split into calib/test: the guarantee says
    // P(covered) >= 1-alpha; with 400 calib + 400 test draws from the same
    // generator, empirical coverage should land at or above 0.8 - noise
    val rnd = new scala.util.Random(7)
    val rows = (1 to 800).map { i =>
      (if (i % 2 == 0) "calib" else "test", 100.0 + rnd.nextGaussian() * 5.0, 100.0)
    }
    val df = rows.toDF("part", "y", "p").withColumn("k", lit(1L))
    val fitted = Conformal.fitSplitConformal(
      df.filter(col("part") === "calib"), Seq("k"), "y", "p", alpha = 0.2)
    val banded = Conformal.applyBands(
      df.filter(col("part") === "test"), fitted, Seq("k"), "p")
    val cov = banded.agg(
      avg(when(col("y") >= col("lo") && col("y") <= col("hi"), 1.0).otherwise(0.0)))
      .collect()(0).getDouble(0)
    assert(cov >= 0.75, s"coverage $cov should be near or above 1-alpha=0.8")
  }

  test("ndcg/mrr: perfect ranking = 1, worst-first discounts, no-relevant handled") {
    import graft.operators.Calibration
    // 4 docs, one relevant; perfect ranker puts it first
    def frame(relPos: Int) = (1 to 4).map(i =>
      (1L, (5 - i).toDouble, if (i == relPos) 1.0 else 0.0, i.toLong))
      .toDF("q", "s", "rel", "id")
    val perfect = Calibration.ndcg(frame(1), Seq("q"), "s", "rel", "id", k = 4)
      .collect()(0)
    assert(perfect.getDouble(perfect.fieldIndex("ndcg")) == 1.0)
    // relevant item ranked last: dcg = 1/log2(5), idcg = 1
    val worst = Calibration.ndcg(frame(4), Seq("q"), "s", "rel", "id", k = 4)
      .collect()(0)
    assert(math.abs(worst.getDouble(worst.fieldIndex("ndcg")) -
      1.0 / (math.log(5) / math.log(2))) < 1e-12)
    // no relevant rows -> idcg 0 -> ndcg null
    val none = (1 to 3).map(i => (1L, i.toDouble, 0.0, i.toLong))
      .toDF("q", "s", "rel", "id")
    val noneRow = Calibration.ndcg(none, Seq("q"), "s", "rel", "id", 3).collect()(0)
    assert(noneRow.isNullAt(noneRow.fieldIndex("ndcg")))
    // MRR: q1 hits at rank 1, q2 at rank 2, q3 never -> (1 + 0.5 + 0)/3
    val three = Seq(
      (1L, 9.0, 1.0, 1L), (1L, 8.0, 0.0, 2L),
      (2L, 9.0, 0.0, 3L), (2L, 8.0, 1.0, 4L),
      (3L, 9.0, 0.0, 5L)).toDF("q", "s", "rel", "id")
    val m = Calibration.mrr(three, Seq("q"), "s", "rel", "id").collect()(0)
    assert(math.abs(m.getDouble(m.fieldIndex("mrr")) - 1.5 / 3) < 1e-12)
    assert(m.getLong(m.fieldIndex("n_queries")) == 3L)
    assert(m.getLong(m.fieldIndex("n_hit")) == 2L)
  }

  test("assoc rules: hand support/confidence/lift, duplicate items deduped per basket") {
    import graft.operators.Assoc
    // baskets 1:{A,B} 2:{A,B} 3:{A} 4:{B,C}; a duplicate A in basket 3
    // must not inflate counts
    val rows = Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"), (3L, "A"),
      (3L, "A"), (4L, "B"), (4L, "C")).toDF("bk", "it")
    val out = Assoc.pairRules(rows, Seq("bk"), "it")
      .orderBy("item_a", "item_b").collect()
    assert(out.length == 2) // (A,B) and (B,C)
    val ab = out(0)
    assert(ab.getString(0) == "A" && ab.getString(1) == "B")
    assert(ab.getLong(ab.fieldIndex("c_a")) == 3L)
    assert(ab.getLong(ab.fieldIndex("c_ab")) == 2L)
    assert(ab.getLong(ab.fieldIndex("n_baskets")) == 4L)
    assert(math.abs(ab.getDouble(ab.fieldIndex("support")) - 0.5) < 1e-12)
    assert(math.abs(ab.getDouble(ab.fieldIndex("conf_ab")) - 2.0 / 3) < 1e-12)
    assert(math.abs(ab.getDouble(ab.fieldIndex("lift")) - 8.0 / 9) < 1e-12)
    val bc = out(1)
    assert(bc.getString(0) == "B" && bc.getString(1) == "C")
    assert(math.abs(bc.getDouble(bc.fieldIndex("conf_ba")) - 1.0) < 1e-12) // C always with B
    assert(bc.getDouble(bc.fieldIndex("lift")) > 1.0)
  }

  test("ece: 0 for a perfectly calibrated binned score, large for anti-calibrated; brier exact") {
    import graft.operators.Calibration
    // bin 0 (p=0.05): 5% positive of 20; bin 9 (p=0.95): 95% of 20 ->
    // acc == conf in every bin -> ECE = 0
    val cal = (0 until 20).map(i => (0.05, if (i < 1) 1.0 else 0.0)) ++
      (0 until 20).map(i => (0.95, if (i < 19) 1.0 else 0.0))
    val r = Calibration.ece(cal.toDF("p", "y"), "p", "y").collect()(0)
    assert(math.abs(r.getDouble(r.fieldIndex("ece"))) < 1e-12)
    // brier = mean((p-y)^2) = (1*(.95^2)+19*(.05^2) + 19*(.05^2)+1*(.95^2))/40
    val brierExp = (2 * 0.95 * 0.95 + 38 * 0.05 * 0.05) / 40.0
    assert(math.abs(r.getDouble(r.fieldIndex("brier")) - brierExp) < 1e-12)
    // anti-calibrated: confident-high scores, all-negative labels
    val bad = (0 until 10).map(_ => (0.95, 0.0))
    val rb = Calibration.ece(bad.toDF("p", "y"), "p", "y").collect()(0)
    assert(rb.getDouble(rb.fieldIndex("ece")) > 0.9)
  }

  test("brierDecomposition: Murphy identity exact for bin-constant forecasts") {
    import graft.operators.Calibration
    // same corpus as the ece golden: p constant within each touched bin, so
    // Brier = REL - RES + UNC holds with zero residual.
    // bin0: p=.05, acc=1/20; bin9: p=.95, acc=19/20 -> REL=0
    // ybar=.5 -> UNC=.25; RES = (20*.45^2 + 20*.45^2)/40 = .2025
    val cal = (0 until 20).map(i => (0.05, if (i < 1) 1.0 else 0.0)) ++
      (0 until 20).map(i => (0.95, if (i < 19) 1.0 else 0.0))
    val r = Calibration.brierDecomposition(cal.toDF("p", "y"), "p", "y").collect()(0)
    val (brier, rel, res, unc) = (r.getDouble(r.fieldIndex("brier")),
      r.getDouble(r.fieldIndex("reliability")),
      r.getDouble(r.fieldIndex("resolution")),
      r.getDouble(r.fieldIndex("uncertainty")))
    assert(r.getLong(r.fieldIndex("n")) == 40L)
    assert(approxEq(rel, 0.0) && approxEq(res, 0.2025) && approxEq(unc, 0.25))
    assert(approxEq(brier, 0.0475) && approxEq(brier, rel - res + unc))
    // anti-calibrated: all mass in one bin, REL = (.95-0)^2, RES = 0, UNC = 0
    val bad = (0 until 10).map(_ => (0.95, 0.0))
    val rb = Calibration.brierDecomposition(bad.toDF("p", "y"), "p", "y").collect()(0)
    assert(approxEq(rb.getDouble(rb.fieldIndex("reliability")), 0.95 * 0.95))
    assert(approxEq(rb.getDouble(rb.fieldIndex("resolution")), 0.0))
    assert(approxEq(rb.getDouble(rb.fieldIndex("uncertainty")), 0.0))
  }

  test("gainTable: perfect ranker captures everything in the positive buckets, buckets even") {
    import graft.operators.Calibration
    // 100 rows, top-10 scores are exactly the positives
    val rows = (1 to 100).map(i => (101.0 - i, if (i <= 10) 1L else 0L, i.toLong))
    val out = Calibration.gainTable(rows.toDF("s", "y", "id"), "s", "y", "id")
      .orderBy("bucket").collect()
    assert(out.length == 10)
    assert(out.forall(_.getLong(out(0).fieldIndex("n")) == 10L))
    assert(out(0).getLong(out(0).fieldIndex("positives")) == 10L)
    assert(out(0).getDouble(out(0).fieldIndex("cum_capture")) == 1.0)
    assert(out.tail.forall(_.getLong(out(0).fieldIndex("positives")) == 0L))
  }

  test("isotonic PAVA: sklearn golden, monotone output, block means preserved, weights pull") {
    import graft.operators.Isotonic
    // sklearn IsotonicRegression golden: y=[4,2,3,1,5] (unit weights) ->
    // [2.5, 2.5, 2.0, 2.0, 5.0]... derive by hand: 4,2 pool to 3; 3,1 pool
    // then violate back: blocks [4,2,3,1] -> mean 2.5; [5] stays
    val fit = Isotonic.pava(Seq(1.0, 2.0, 3.0, 4.0, 5.0)
      .zip(Seq(4.0, 2.0, 3.0, 1.0, 5.0)).map { case (x, y) => (x, y, 1.0) })
    assert(fit.map(_._2) == Seq(2.5, 2.5, 2.5, 2.5, 5.0))
    // already monotone input is returned unchanged
    val id = Isotonic.pava((1 to 5).map(i => (i.toDouble, i.toDouble, 1.0)))
    assert(id.map(_._2) == (1 to 5).map(_.toDouble))
    // monotone + weighted-mean preservation on random-ish data
    val pts = Seq(1.0 -> 3.0, 2.0 -> 1.0, 3.0 -> 4.0, 4.0 -> 1.5, 5.0 -> 2.0,
      6.0 -> 9.0).map { case (x, y) => (x, y, 1.0) }
    val f = Isotonic.pava(pts)
    assert(f.sliding(2).forall(s => s.head._2 <= s.last._2))
    assert(math.abs(f.map(_._2).sum - pts.map(_._2).sum) < 1e-12)
    // a heavy weight pulls its pooled block toward itself
    val heavy = Isotonic.pava(Seq((1.0, 4.0, 1.0), (2.0, 0.0, 9.0)))
    assert(math.abs(heavy.head._2 - 0.4) < 1e-12) // (4*1 + 0*9)/10
    // frame shape: per-key, aligned, monotone
    val df = Seq((1L, 1.0, 2.0), (1L, 2.0, 1.0), (2L, 1.0, 5.0))
      .toDF("k", "x", "y")
    val out = Isotonic.fitFrame(df, Seq("k"), "x", "y")
      .orderBy("k", "x").collect()
    assert(out.length == 3)
    assert(out(0).getDouble(2) == 1.5 && out(1).getDouble(2) == 1.5)
    assert(out(2).getDouble(2) == 5.0)
  }

  test("mutualInfo: exactly 0 on independence, mi_norm 1 on identity, entropies exact") {
    import graft.operators.Profile
    // exact independence: every (a,b) cell has the same count -> MI = 0
    val ind = Seq.tabulate(8)(i => (s"a${i % 2}", s"b${(i / 2) % 2}"))
      .toDF("x", "y")
    val r = Profile.mutualInfo(ind, "x", "y").collect()(0)
    assert(r.getDouble(r.fieldIndex("mi")) == 0.0)
    assert(math.abs(r.getDouble(r.fieldIndex("h_a")) - math.log(2)) < 1e-12)
    assert(r.getLong(r.fieldIndex("n_cells")) == 4L)
    // identity mapping: MI = H(a), normalized exactly 1
    val dep = Seq("p", "q", "r", "p", "q", "r").map(v => (v, v)).toDF("x", "y")
    val d = Profile.mutualInfo(dep, "x", "y").collect()(0)
    assert(math.abs(d.getDouble(d.fieldIndex("mi")) -
      d.getDouble(d.fieldIndex("h_a"))) < 1e-12)
    assert(math.abs(d.getDouble(d.fieldIndex("mi_norm")) - 1.0) < 1e-12)
  }

  test("weightedMedian: lower-median convention, weight skew moves it, ties merged") {
    import graft.operators.Profile
    val even = Seq((1L, 1.0, 1.0), (1L, 2.0, 1.0), (1L, 10.0, 2.0)).toDF("k", "v", "w")
    val r1 = Profile.weightedMedian(even, Seq("k"), "v", "w").collect()(0)
    assert(r1.getDouble(r1.fieldIndex("weighted_median")) == 2.0) // cum 2 of 4 qualifies
    val skew = Seq((1L, 1.0, 1.0), (1L, 2.0, 1.0), (1L, 10.0, 3.0)).toDF("k", "v", "w")
    val r2 = Profile.weightedMedian(skew, Seq("k"), "v", "w").collect()(0)
    assert(r2.getDouble(r2.fieldIndex("weighted_median")) == 10.0)
    // duplicate values merge their weights before the cumulative walk
    val dup = Seq((1L, 5.0, 1.0), (1L, 5.0, 1.0), (1L, 9.0, 1.0)).toDF("k", "v", "w")
    val r3 = Profile.weightedMedian(dup, Seq("k"), "v", "w").collect()(0)
    assert(r3.getDouble(r3.fieldIndex("weighted_median")) == 5.0)
    assert(r3.getDouble(r3.fieldIndex("total_w")) == 3.0)
  }

  test("gini: 0 on equal mass, (n-1)/n on one-owner mass, null on zero total") {
    import graft.operators.Profile
    val eq = Seq.fill(4)((1L, 5.0)).toDF("k", "v")
    assert(Profile.gini(eq, Seq("k"), "v").collect()(0).getDouble(1) == 0.0)
    val one = Seq((1L, 0.0), (1L, 0.0), (1L, 0.0), (1L, 12.0)).toDF("k", "v")
    assert(math.abs(Profile.gini(one, Seq("k"), "v").collect()(0).getDouble(1) - 0.75) < 1e-12)
    val zero = Seq((1L, 0.0), (1L, 0.0)).toDF("k", "v")
    assert(Profile.gini(zero, Seq("k"), "v").collect()(0).isNullAt(1))
  }

  test("mannKendall: S counts all pairs, monotone series significant, constant z=0") {
    import graft.operators.Features
    def mk(vals: Seq[Double]) = Features.mannKendall(
      vals.zipWithIndex.map { case (v, i) =>
        (1L, new java.sql.Timestamp((1704067200L + i * 86400L) * 1000L), v)
      }.toDF("k", "ts", "v"), Seq("k"), "ts", "v").collect()(0)
    val up = mk(Seq(1.0, 2.0, 3.0, 4.0, 5.0))
    assert(up.getLong(up.fieldIndex("s")) == 10L) // C(5,2) concordant pairs
    assert(up.getDouble(up.fieldIndex("z")) > 1.96)
    val down = mk(Seq(5.0, 4.0, 3.0, 2.0, 1.0))
    assert(down.getLong(down.fieldIndex("s")) == -10L)
    assert(down.getDouble(down.fieldIndex("z")) < -1.96)
    val const = mk(Seq(3.0, 3.0, 3.0, 3.0))
    assert(const.getLong(const.fieldIndex("s")) == 0L)
    assert(const.getDouble(const.fieldIndex("z")) == 0.0)
  }

  test("trimmedMean: outlier ejected from trim, clamped in winsor, counts honest") {
    import graft.operators.Profile
    // values 1..9 plus outlier 1000; loQ=0.1 hiQ=0.9 on 10 points:
    // band = [q10, q90] = [1.9, 991.9]... use tighter quantiles for a hand case
    val d = ((1 to 9).map(_.toDouble) :+ 1000.0).map((1L, _)).toDF("k", "v")
    val r = Profile.trimmedMean(d, Seq("k"), "v", loQ = 0.0, hiQ = 0.5).collect()(0)
    // band = [min, median] = [1, 5.5] -> kept 1..5
    assert(r.getLong(r.fieldIndex("n")) == 10L)
    assert(r.getLong(r.fieldIndex("n_kept")) == 5L)
    assert(math.abs(r.getDouble(r.fieldIndex("trimmed_mean")) - 3.0) < 1e-12)
    // winsor clamps the 5 high values to 5.5: (1+2+3+4+5 + 5*5.5)/10 = 4.25
    assert(math.abs(r.getDouble(r.fieldIndex("winsor_mean")) - 4.25) < 1e-12)
    assert(r.getDouble(r.fieldIndex("mean")) > 100.0) // the outlier owns the plain mean
  }

  test("kaplanMeier: hand product-limit with censoring, absorbing d=n, censor-only times emit no row") {
    import graft.operators.Survival
    // subjects: event@1, event@2, censor@2, event@3, censor@5
    // t=1: n=5 d=1 S=4/5; t=2: n=4 d=1 S=3/5; t=3: n=2 d=1 S=3/10; t=5: d=0 no row
    val subj = Seq((1L, 1L, 1), (1L, 2L, 1), (1L, 2L, 0), (1L, 3L, 1), (1L, 5L, 0))
      .toDF("k", "dur", "e")
    val out = Survival.kaplanMeier(subj, Seq("k"), "dur", "e")
      .orderBy("t").collect()
    assert(out.length == 3)
    assert(out.map(_.getLong(out(0).fieldIndex("n_risk"))).toSeq == Seq(5L, 4L, 2L))
    val sv = out.map(_.getDouble(out(0).fieldIndex("survival")))
    assert(math.abs(sv(0) - 0.8) < 1e-12)
    assert(math.abs(sv(1) - 0.6) < 1e-12)
    assert(math.abs(sv(2) - 0.3) < 1e-12)
    // whole remaining risk set fails -> survival exactly 0 from that time
    val wipe = Seq((1L, 1L, 1), (1L, 2L, 1), (1L, 2L, 1)).toDF("k", "dur", "e")
    val w = Survival.kaplanMeier(wipe, Seq("k"), "dur", "e")
      .orderBy("t").collect()
    assert(w.last.getDouble(w.last.fieldIndex("survival")) == 0.0)
  }

  test("psi: zero on identical windows, large on a shift, degenerate ref safe") {
    import graft.operators.Drift
    val ref = (0 to 9).map(i => (1L, i.toDouble)).toDF("k", "v")
    val same = Drift.psi(ref, ref, Seq("k"), "v").collect()(0)
    assert(same.getDouble(same.fieldIndex("psi")) == 0.0)
    assert(same.getLong(same.fieldIndex("n_ref")) == 10L)
    // all current mass in the top bin: ref shares 1.5/15 per bin, cur 0.5/15
    // except bin 9 at 10.5/15 — hand PSI replayed term by term
    val shifted = (1 to 10).map(_ => (1L, 9.0)).toDF("k", "v")
    val got = Drift.psi(ref, shifted, Seq("k"), "v").collect()(0)
      .getDouble(1)
    val pr = 1.5 / 15.0
    val expected = (0 until 9).map { _ =>
      val pc = 0.5 / 15.0; (pc - pr) * math.log(pc / pr)
    }.sum + { val pc = 10.5 / 15.0; (pc - pr) * math.log(pc / pr) }
    assert(math.abs(got - expected) < 1e-12)
    assert(got > 0.25, "a full shift must read as 'shifted' on the PSI scale")
    // constant reference: everything lands in bin 0, result finite
    val const = Seq((1L, 5.0), (1L, 5.0)).toDF("k", "v")
    val d = Drift.psi(const, ref, Seq("k"), "v").collect()(0).getDouble(1)
    assert(!d.isNaN && !d.isInfinite)
  }

  test("ks: hand D on offset samples, zero on identical, one-sided key dropped") {
    import graft.operators.Drift
    val ref = Seq(1.0, 2.0, 3.0, 4.0).map((1L, _)).toDF("k", "v")
    val cur = Seq(3.0, 4.0, 5.0, 6.0).map((1L, _)).toDF("k", "v")
    val r = Drift.ks(ref, cur, Seq("k"), "v").collect()(0)
    assert(r.getDouble(r.fieldIndex("ks")) == 0.5)
    assert(Drift.ks(ref, ref, Seq("k"), "v").collect()(0).getDouble(1) == 0.0)
    // a key missing from one window yields no row (both ECDFs required)
    val curOther = Seq((2L, 1.0)).toDF("k", "v")
    assert(Drift.ks(ref, curOther, Seq("k"), "v").isEmpty)
  }

  test("arFit2: matches an independent normal-equations solve; degenerate series null") {
    import graft.operators.Forecast
    val rnd = new scala.util.Random(99)
    val xs = Array.iterate(Array(1.0, 0.5), 40)(a =>
      Array(0.6 * a(0) - 0.2 * a(1) + rnd.nextGaussian(), a(0))).map(_(0))
    val rows = xs.zipWithIndex.map { case (v, i) =>
      (1L, new java.sql.Timestamp((1704067200L + i * 86400L) * 1000L), v) }
    val got = Forecast.arFit2(rows.toSeq.toDF("k", "ts", "v"), Seq("k"), "ts", "v")
      .collect()(0)
    // independent solve: center, lag, five sums, Cramer
    val m = xs.sum / xs.length
    val y = xs.map(_ - m)
    val trip = (2 until y.length).map(i => (y(i), y(i - 1), y(i - 2)))
    val s11 = trip.map(t => t._2 * t._2).sum; val s22 = trip.map(t => t._3 * t._3).sum
    val s12 = trip.map(t => t._2 * t._3).sum
    val s01 = trip.map(t => t._1 * t._2).sum; val s02 = trip.map(t => t._1 * t._3).sum
    val det = s11 * s22 - s12 * s12
    val phi1 = (s01 * s22 - s02 * s12) / det
    val phi2 = (s11 * s02 - s12 * s01) / det
    assert(math.abs(got.getDouble(got.fieldIndex("phi1")) - phi1) < 1e-9)
    assert(math.abs(got.getDouble(got.fieldIndex("phi2")) - phi2) < 1e-9)
    val rmse = math.sqrt(trip.map { case (yy, x1, x2) =>
      val e = yy - phi1 * x1 - phi2 * x2; e * e }.sum / trip.length)
    assert(math.abs(got.getDouble(got.fieldIndex("rmse")) - rmse) < 1e-9)
    // the generating process had phi ~ (0.6, -0.2): the fit should be near
    assert(math.abs(phi1 - 0.6) < 0.35 && math.abs(phi2 + 0.2) < 0.35)
    // constant series: centered y == 0, det == 0 -> null coefficients
    val const = (1 to 10).map(i =>
      (2L, new java.sql.Timestamp((1704067200L + i * 86400L) * 1000L), 5.0))
    val d = Forecast.arFit2(const.toDF("k", "ts", "v"), Seq("k"), "ts", "v")
      .collect()(0)
    assert(d.isNullAt(d.fieldIndex("phi1")))
  }

  test("trapezoidIntegral: hand segments, single point contributes nothing") {
    import graft.operators.Features
    def ts(day: Int) = new java.sql.Timestamp((1704067200L + day * 86400L) * 1000L)
    // v: 0 -> 2 over one day (area 1), 2 -> 2 over one day (area 2): total 3
    val rows = Seq((1L, ts(0), 0.0), (1L, ts(1), 2.0), (1L, ts(2), 2.0),
      (2L, ts(0), 9.0)) // single point: no segment, integral null
      .toDF("k", "day", "v")
    val out = Features.trapezoidIntegral(rows, Seq("k"), "day", "v")
      .orderBy("k").collect()
    assert(out(0).getDouble(out(0).fieldIndex("integral")) == 3.0)
    assert(out(1).isNullAt(out(1).fieldIndex("integral")))
    assert(out(1).getLong(out(1).fieldIndex("n_points")) == 1L)
  }

  test("expFitKs: exponential-quantile gaps accept, constant gaps reject at 1-1/e") {
    import graft.operators.Drift
    def mk(gaps: Seq[Double]) = {
      var t = 0.0
      gaps.zipWithIndex.map { case (g, i) =>
        t += g
        (1L, new java.sql.Timestamp(1704067200000L + (t * 1000).toLong))
      }.toDF("k", "ts")
    }
    // gaps at exponential quantiles F^-1((i-0.5)/n): near-perfect fit
    val n = 40
    val expGaps = (1 to n).map(i => -math.log(1.0 - (i - 0.5) / n))
    val good = Drift.expFitKs(mk(scala.util.Random.shuffle(expGaps.toList)),
      Seq("k"), "ts").collect()(0)
    assert(good.getDouble(good.fieldIndex("ks_stat")) < 0.1,
      s"quantile-spaced gaps should fit, D=${good.getDouble(2)}")
    // constant gaps: D = 1 - 1/e exactly (all mass at one point of the CDF)
    val const = Drift.expFitKs(mk(Seq.fill(20)(5.0)), Seq("k"), "ts").collect()(0)
    assert(math.abs(const.getDouble(const.fieldIndex("ks_stat")) -
      (1.0 - math.exp(-1.0))) < 1e-9)
    assert(math.abs(const.getDouble(const.fieldIndex("lambda")) - 0.2) < 1e-9)
  }

  test("precisionRecallAtK: perfect top-k, miss splits, no-relevant recall null") {
    import graft.operators.Calibration
    // 2 relevant among 6, both in the top-2 by score
    val rows = Seq((1L, 9.0, 1L, 1L), (1L, 8.0, 1L, 2L), (1L, 7.0, 0L, 3L),
      (1L, 6.0, 0L, 4L), (1L, 5.0, 0L, 5L), (1L, 4.0, 0L, 6L))
      .toDF("q", "s", "rel", "id")
    val r = Calibration.precisionRecallAtK(rows, Seq("q"), "s", "rel", "id", k = 2)
      .collect()(0)
    assert(r.getLong(r.fieldIndex("hits")) == 2L)
    assert(r.getDouble(r.fieldIndex("precision_k")) == 1.0)
    assert(r.getDouble(r.fieldIndex("recall_k")) == 1.0)
    // one relevant ranked below the cut: p@2 = 0.5, r@2 = 0.5
    val split = Seq((1L, 9.0, 1L, 1L), (1L, 8.0, 0L, 2L), (1L, 7.0, 1L, 3L))
      .toDF("q", "s", "rel", "id")
    val r2 = Calibration.precisionRecallAtK(split, Seq("q"), "s", "rel", "id", 2)
      .collect()(0)
    assert(r2.getDouble(r2.fieldIndex("precision_k")) == 0.5)
    assert(r2.getDouble(r2.fieldIndex("recall_k")) == 0.5)
    // no relevant rows at all: precision 0, recall undefined
    val none = Seq((1L, 9.0, 0L, 1L)).toDF("q", "s", "rel", "id")
    val r3 = Calibration.precisionRecallAtK(none, Seq("q"), "s", "rel", "id", 2)
      .collect()(0)
    assert(r3.getDouble(r3.fieldIndex("precision_k")) == 0.0)
    assert(r3.isNullAt(r3.fieldIndex("recall_k")))
  }

  test("proportionZ: hand pooled z, zero on identical rates, degenerate pool null") {
    import graft.operators.Drift
    def win(successes: Int, n: Int, k: Long = 1L) =
      (0 until n).map(i => (k, if (i < successes) 1L else 0L)).toDF("k", "s")
    val r = Drift.proportionZ(win(5, 10), win(1, 10), Seq("k"), "s").collect()(0)
    val seExp = math.sqrt(0.3 * 0.7 * (1.0 / 10 + 1.0 / 10))
    assert(math.abs(r.getDouble(r.fieldIndex("z")) - 0.4 / seExp) < 1e-12)
    assert(math.abs(r.getDouble(r.fieldIndex("rate_ref")) - 0.5) < 1e-15)
    val same = Drift.proportionZ(win(3, 10), win(3, 10), Seq("k"), "s").collect()(0)
    assert(same.getDouble(same.fieldIndex("z")) == 0.0)
    // pooled rate 1 (all successes both sides): no variance, z null
    val degen = Drift.proportionZ(win(4, 4), win(4, 4), Seq("k"), "s").collect()(0)
    assert(degen.isNullAt(degen.fieldIndex("z")))
  }

  test("wasserstein1: equals the mean shift on translated samples, zero on identical") {
    import graft.operators.Drift
    // translation by +3: W1 between X and X+3 is exactly 3
    val ref = Seq(1.0, 2.0, 5.0, 9.0).map((1L, _)).toDF("k", "v")
    val cur = Seq(4.0, 5.0, 8.0, 12.0).map((1L, _)).toDF("k", "v")
    val r = Drift.wasserstein1(ref, cur, Seq("k"), "v").collect()(0)
    assert(math.abs(r.getDouble(r.fieldIndex("w1")) - 3.0) < 1e-12)
    assert(Drift.wasserstein1(ref, ref, Seq("k"), "v").collect()(0).getDouble(1) == 0.0)
    // hand case with overlap: ref={0,1}, cur={1,2}: |F gaps| are 0.5 on
    // [0,1) and 0.5 on [1,2) -> W1 = 1.0... actually F_ref(1)=1, F_cur(1)=0.5
    val r2 = Drift.wasserstein1(
      Seq(0.0, 1.0).map((1L, _)).toDF("k", "v"),
      Seq(1.0, 2.0).map((1L, _)).toDF("k", "v"), Seq("k"), "v").collect()(0)
    assert(math.abs(r2.getDouble(1) - 1.0) < 1e-12)
  }

  test("wasserstein1Quantized: equals the generic form on 2-decimal data, translation exact") {
    import graft.operators.Drift
    val ref = Seq(1.25, 2.50, 5.75, 9.00).map((1L, _)).toDF("k", "v")
    val cur = Seq(4.25, 5.50, 8.75, 12.00).map((1L, _)).toDF("k", "v")
    val q = Drift.wasserstein1Quantized(ref, cur, Seq("k"), "v", scale = 100L)
      .collect()(0).getDouble(1)
    val g = Drift.wasserstein1(ref, cur, Seq("k"), "v").collect()(0).getDouble(1)
    assert(math.abs(q - g) < 1e-9, s"quantized $q vs generic $g")
    assert(q == 3.0) // pure translation by +3.00: integer-exact
    assert(Drift.wasserstein1Quantized(ref, ref, Seq("k"), "v")
      .collect()(0).getDouble(1) == 0.0)
  }

  test("rrf: hand fusion scores, union semantics for one-system docs, per-query windows") {
    import graft.operators.Fusion
    // doc A: rank 1 + rank 2 -> 1/61 + 1/62; doc B: rank 2 only; doc C: rank 1 only
    val sysa = Seq(("q1", "A", 1), ("q1", "B", 2)).toDF("q", "id", "rank")
    val sysb = Seq(("q1", "C", 1), ("q1", "A", 2)).toDF("q", "id", "rank")
    val out = Fusion.rrf(Seq(sysa, sysb), Seq("q"), Seq("id"), "rank")
      .collect().map(r => r.getString(1) ->
        (r.getDouble(r.fieldIndex("rrf_score")), r.getLong(r.fieldIndex("n_systems")),
          r.getInt(r.fieldIndex("fused_rank")))).toMap
    assert(math.abs(out("A")._1 - (1.0 / 61 + 1.0 / 62)) < 1e-15)
    assert(out("A")._2 == 2L && out("A")._3 == 1)
    assert(out("B")._2 == 1L && math.abs(out("B")._1 - 1.0 / 62) < 1e-15)
    assert(out("C")._3 == 2 && out("B")._3 == 3) // 1/61 > 1/62
    // two queries fuse independently: ranks restart per query key
    val two = Fusion.rrf(
      Seq(Seq(("q1", "A", 1), ("q2", "B", 1)).toDF("q", "id", "rank")),
      Seq("q"), Seq("id"), "rank").collect()
    assert(two.forall(_.getInt(two(0).fieldIndex("fused_rank")) == 1))
  }

  test("kalman: hand recursion, null gap grows the next gain, gain converges") {
    import graft.operators.Kalman
    // q=r=1, y=[0,2,2]: init l=0 P=1; t2: P-=2 K=2/3 z=2/sqrt(3) l=4/3 P=2/3;
    // t3: P-=5/3 K=5/8 z=(2/3)/sqrt(8/3) l=7/4
    val out = Kalman.kalmanLevelSeries(
      Seq((1L, Some(0.0)), (2L, Some(2.0)), (3L, Some(2.0))), q = 1.0, r = 1.0)
    assert(out(0) == ((1L, Some(0.0), None, None)))
    assert(math.abs(out(1)._2.get - 4.0 / 3) < 1e-12)
    assert(math.abs(out(1)._3.get - 2.0 / 3) < 1e-12)
    assert(math.abs(out(1)._4.get - 2.0 / math.sqrt(3.0)) < 1e-12)
    assert(math.abs(out(2)._2.get - 7.0 / 4) < 1e-12)
    assert(math.abs(out(2)._3.get - 5.0 / 8) < 1e-12)
    // a null observation holds the level and inflates P, so the gain at the
    // next observation exceeds the steady gain without the gap
    val gapped = Kalman.kalmanLevelSeries(
      Seq((1L, Some(1.0)), (2L, None), (3L, Some(1.0))), q = 1.0, r = 1.0)
    val solid = Kalman.kalmanLevelSeries(
      Seq((1L, Some(1.0)), (2L, Some(1.0)), (3L, Some(1.0))), q = 1.0, r = 1.0)
    assert(gapped(1) == ((2L, Some(1.0), None, None)))
    assert(gapped(2)._3.get > solid(2)._3.get)
    // constant q/r: the gain reaches its steady-state fixed point
    val long = Kalman.kalmanLevelSeries(
      (1 to 60).map(i => (i.toLong, Some(i.toDouble))), q = 4.0, r = 16.0)
    val k59 = long(58)._3.get; val k60 = long(59)._3.get
    assert(math.abs(k60 - k59) < 1e-9 && k60 > 0 && k60 < 1)
  }

  test("mase: hand-computed ratio; null when train is constant") {
    import graft.operators.Metrics
    val train = Seq((1L, 1L, 10.0), (1L, 2L, 13.0), (1L, 3L, 11.0), // naive MAE = (3+2)/2 = 2.5
      (2L, 1L, 5.0), (2L, 2L, 5.0), (2L, 3L, 5.0))                  // constant → null
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val test_ = Seq((1L, 4L, 12.0, 14.0), (1L, 5L, 10.0, 9.0),      // MAE = (2+1)/2 = 1.5
      (2L, 4L, 5.0, 6.0))
      .toDF("k", "t", "v", "p").withColumn("ts", timestamp_seconds(col("t")))
    val out = Metrics.mase(train, test_, Seq("k"), "ts", "v", "p")
      .orderBy("k").collect()
    assert(math.abs(out(0).getDouble(1) - 1.5 / 2.5) < 1e-12 && out(0).getLong(2) == 2)
    assert(out(1).isNullAt(1))
  }

  test("dieboldMariano: hand d-series stat; null when the two forecasts tie") {
    import graft.operators.Metrics
    // k=1: losses1 = 1,1,1; losses2 = 4,4,0 -> d = -3,-3,1
    // mean = -5/3, var_pop = (9+9+1)/3 - 25/9 = 32/9
    val df = Seq(
      (1L, 10.0, 9.0, 8.0), (1L, 12.0, 11.0, 14.0), (1L, 14.0, 15.0, 14.0),
      (2L, 5.0, 4.0, 4.0), (2L, 6.0, 7.0, 7.0)) // p1 == p2 -> var(d)=0
      .toDF("k", "y", "p1", "p2")
    val out = Metrics.dieboldMariano(df, Seq("k"), "y", "p1", "p2")
      .orderBy("k").collect()
    val meanD = -5.0 / 3; val varD = 32.0 / 9
    assert(out(0).getLong(1) == 3L)
    assert(approxEq(out(0).getDouble(2), meanD))
    assert(approxEq(out(0).getDouble(3), meanD / math.sqrt(varD / 3)))
    assert(out(1).isNullAt(3)) // equal losses -> no verdict, not dm=NaN
  }

  test("theilU: 1 at parity with naive, <1 when the model wins, null on exact naive") {
    import graft.operators.Metrics
    val df = Seq(
      (1L, 10.0, 11.0, 9.0), (1L, 12.0, 11.0, 13.0),  // SSE_p=2, SSE_n=2 -> 1
      (2L, 10.0, 10.5, 8.0), (2L, 12.0, 11.5, 14.0),  // SSE_p=.5, SSE_n=8
      (3L, 7.0, 9.0, 7.0))                            // naive exact -> null
      .toDF("k", "y", "p", "nv")
    val out = Metrics.theilU(df, Seq("k"), "y", "p", "nv").orderBy("k").collect()
    assert(approxEq(out(0).getDouble(1), 1.0))
    assert(approxEq(out(1).getDouble(1), math.sqrt(0.5 / 8.0)))
    assert(out(2).isNullAt(1) && out(2).getLong(2) == 1L)
  }

  // --------------------------------------------------------------- Theta

  test("theta: exact linear series → the trend line itself; flat series → flat") {
    // On y = 3 + 2t the theta-2 line z_t = 2y_t − (3+2t) = y_t, so the SES
    // level l_T ≤ y_T and ŷ = ((a+b(T+s)) + l)/2 — recompute by hand.
    val ys = (1 to 6).map(t => 3.0 + 2.0 * t)
    val alpha = 0.3
    val df = ys.zipWithIndex.map { case (y, i) => (1L, i.toLong * 86400, y) }
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val out = Forecast.theta(df, Seq("k"), "ts", "v", alpha, horizon = 2, stepSeconds = 86400L)
      .orderBy("step").collect()
    // OLS on an exactly linear series recovers a=3, b=2; SES of z=y:
    val l = ys.tail.foldLeft(ys.head)((acc, y) => alpha * y + (1 - alpha) * acc)
    val exp1 = ((3.0 + 2.0 * 7) + l) / 2
    val exp2 = ((3.0 + 2.0 * 8) + l) / 2
    assert(math.abs(out(0).getDouble(3) - exp1) < 1e-9)
    assert(math.abs(out(1).getDouble(3) - exp2) < 1e-9)

    // flat series: a = c, b = 0, z = y, l = c → ŷ = c for every step
    val flat = (1 to 5).map(i => (1L, i.toLong * 86400, 7.5))
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    Forecast.theta(flat, Seq("k"), "ts", "v", 0.5, horizon = 3, stepSeconds = 86400L)
      .collect().foreach(r => assert(math.abs(r.getDouble(3) - 7.5) < 1e-9))
  }

  // ---------------------------------------------------------------- Holt

  test("holt: fold matches the hand recursion; <2-point keys dropped") {
    val ys = Seq(10.0, 12.0, 11.0, 15.0, 14.0)
    val (alpha, beta) = (0.3, 0.2)
    var l = ys(0); var b = ys(1) - ys(0)
    ys.drop(1).foreach { y =>
      val lNew = alpha * y + (1 - alpha) * (l + b)
      b = beta * (lNew - l) + (1 - beta) * b
      l = lNew
    }
    val df = (ys.zipWithIndex.map { case (y, i) => (1L, i.toLong * 86400, y) } :+
      ((2L, 0L, 5.0))) // single-point key → dropped
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val out = Forecast.holt(df, Seq("k"), "ts", "v", alpha, beta, horizon = 3, stepSeconds = 86400L)
      .orderBy("k", "step").collect()
    assert(out.length == 3, "single-point key must be absent")
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == 1L)
      assert(math.abs(r.getDouble(3) - (l + (i + 1) * b)) < 1e-12)
    }
    // exact linear input: Holt locks on and extrapolates the line exactly
    val lin = (1 to 8).map(i => (1L, i.toLong * 86400, 3.0 + 2.0 * i))
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val lo = Forecast.holt(lin, Seq("k"), "ts", "v", 0.4, 0.3, horizon = 2, stepSeconds = 86400L)
      .orderBy("step").collect()
    assert(math.abs(lo(0).getDouble(3) - (3.0 + 2.0 * 9)) < 1e-9)
    assert(math.abs(lo(1).getDouble(3) - (3.0 + 2.0 * 10)) < 1e-9)
  }

  test("holtDamped: hand recursion with damping; phi=1 degenerates to holt") {
    val ys = Seq(10.0, 12.0, 11.0, 15.0, 14.0)
    val (alpha, beta, phi) = (0.3, 0.2, 0.875)
    var l = ys(0); var b = ys(1) - ys(0)
    ys.drop(1).foreach { y =>
      val lNew = alpha * y + (1 - alpha) * (l + phi * b)
      b = beta * (lNew - l) + (1 - beta) * (phi * b)
      l = lNew
    }
    val df = ys.zipWithIndex.map { case (y, i) => (1L, i.toLong * 86400, y) }
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val out = Forecast.holtDamped(df, Seq("k"), "ts", "v", alpha, beta, phi,
      horizon = 3, stepSeconds = 86400L).orderBy("step").collect()
    var phiSum = 0.0
    out.zipWithIndex.foreach { case (r, i) =>
      phiSum += math.pow(phi, i + 1)
      assert(math.abs(r.getDouble(3) - (l + phiSum * b)) < 1e-9)
    }
    // damping: the h→∞ forecast converges to l + φ/(1−φ)·b, so successive
    // increments shrink — unlike plain Holt's constant +b per step
    val incs = out.sliding(2).map { case Array(a, c) => c.getDouble(3) - a.getDouble(3) }.toSeq
    assert(incs(1) < incs(0) || b < 0 && incs(1) > incs(0))
    // phi = 1 must equal plain Holt exactly
    val d1 = Forecast.holtDamped(df, Seq("k"), "ts", "v", alpha, beta, 1.0,
      horizon = 3, stepSeconds = 86400L).orderBy("step").collect().map(_.getDouble(3))
    val h1 = Forecast.holt(df, Seq("k"), "ts", "v", alpha, beta,
      horizon = 3, stepSeconds = 86400L).orderBy("step").collect().map(_.getDouble(3))
    assert(d1.toSeq == h1.toSeq)
  }

  // --------------------------------------------------------- Holt-Winters

  test("holtWinters: fold matches the hand recursion; <2m keys dropped; flat series stays flat") {
    val m = 3
    val (alpha, beta, gamma) = (0.3, 0.1, 0.2)
    val ys = Seq(10.0, 14.0, 6.0, 11.0, 15.5, 6.5, 12.0, 16.0, 7.0, 13.0)
    // hand replay of the documented recursion
    var l = ys.take(m).sum / m
    var b = (ys.slice(m, 2 * m).sum - ys.take(m).sum) / (m * m)
    val s = Array.tabulate(m)(i => ys(i) - l)
    (m until ys.length).foreach { i =>
      val sOld = s(i % m)
      val lN = alpha * (ys(i) - sOld) + (1 - alpha) * (l + b)
      val bN = beta * (lN - l) + (1 - beta) * b
      s(i % m) = gamma * (ys(i) - l - b) + (1 - gamma) * sOld
      l = lN; b = bN
    }
    val df = (ys.zipWithIndex.map { case (y, i) => (1L, i.toLong * 86400, y) } ++
      (0 until 2 * m - 1).map(i => (2L, i.toLong * 86400, 5.0))) // 5 < 2m pts → dropped
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val out = Forecast.holtWinters(df, Seq("k"), "ts", "v", alpha, beta, gamma,
      period = m, horizon = 4, stepSeconds = 86400L).orderBy("k", "step").collect()
    assert(out.length == 4, "key with < 2·period points must be absent")
    out.zipWithIndex.foreach { case (r, i) =>
      val h = i + 1
      val expected = l + h * b + s((ys.length - 1 + h) % m)
      assert(r.getLong(0) == 1L)
      assert(math.abs(r.getDouble(3) - expected) < 1e-12)
    }
    // forecast origin is the last observation's timestamp
    assert(out(0).getAs[java.sql.Timestamp](1).getTime == ys.length.toLong * 86400 * 1000)

    // constant series: l=c, b=0, s=0 is a fixed point → ŷ = c at every step
    val flat = (0 until 9).map(i => (1L, i.toLong * 86400, 7.5))
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    Forecast.holtWinters(flat, Seq("k"), "ts", "v", 0.4, 0.2, 0.3,
        period = 3, horizon = 3, stepSeconds = 86400L)
      .collect().foreach(r => assert(math.abs(r.getDouble(3) - 7.5) < 1e-12))
  }

  // -------------------------------------------------------------- Anomaly

  test("holtWintersMul: hand fold; flat series fixed point; non-positive dropped") {
    import graft.operators.Forecast
    val m = 2
    val ys = Seq(10.0, 20.0, 12.0, 24.0, 14.0, 28.0) // level grows, ratio 1:2
    val (a, b0, g) = (0.3, 0.1, 0.2)
    var l = (ys(0) + ys(1)) / 2
    var b = (ys(2) + ys(3) - ys(0) - ys(1)) / 4.0
    val s = Array(ys(0) / l, ys(1) / l)
    (2 until 6).foreach { i =>
      val sOld = s(i % m)
      val lNew = a * (ys(i) / sOld) + (1 - a) * (l + b)
      s(i % m) = g * (ys(i) / (l + b)) + (1 - g) * sOld
      b = b0 * (lNew - l) + (1 - b0) * b
      l = lNew
    }
    val df = ys.zipWithIndex.map { case (y, i) => (1L, i.toLong * 86400, y) }
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val out = Forecast.holtWintersMul(df, Seq("k"), "ts", "v", a, b0, g,
      period = m, horizon = 2, stepSeconds = 86400L).orderBy("step").collect()
    // forecast slot for step h is s((n−1+h) mod m): n=6 → h=1 hits s(0)
    assert(math.abs(out(0).getDouble(3) - (l + 1 * b) * s(0)) < 1e-12)
    assert(math.abs(out(1).getDouble(3) - (l + 2 * b) * s(1)) < 1e-12)
    // perfectly periodic flat-level series: forecast reproduces the pattern
    val per = (0 until 12).map(i => (1L, i.toLong * 86400, if (i % 2 == 0) 10.0 else 20.0))
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val po = Forecast.holtWintersMul(per, Seq("k"), "ts", "v", a, b0, g,
      period = 2, horizon = 2, stepSeconds = 86400L).orderBy("step").collect()
    assert(math.abs(po(0).getDouble(3) - 10.0) < 1e-9)
    assert(math.abs(po(1).getDouble(3) - 20.0) < 1e-9)
    // a zero observation makes ratios undefined → key dropped
    val withZero = (ys.updated(3, 0.0)).zipWithIndex
      .map { case (y, i) => (2L, i.toLong * 86400, y) }
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    assert(Forecast.holtWintersMul(withZero, Seq("k"), "ts", "v", a, b0, g,
      period = m, horizon = 1, stepSeconds = 86400L).count() == 0)
  }

  test("madOutliers: hand-computed z; constant key yields null z, no flags") {
    import graft.operators.Anomaly
    // key 1: v = (1,2,3,4,100) → med=3, |v−med|=(2,1,0,1,97) → mad=1
    //        z(100) = 0.6745·97 = 65.4…  → flagged; z(1) = −1.349 → not
    val df = (Seq(1.0, 2.0, 3.0, 4.0, 100.0).zipWithIndex.map {
      case (v, i) => (1L, i.toLong, v)
    } ++ (0 until 4).map(i => (2L, i.toLong, 5.0))) // constant key → mad 0
      .toDF("k", "id", "v")
    val out = Anomaly.madOutliers(df, Seq("k"), "v").orderBy("k", "id").collect()
    val k1 = out.filter(_.getLong(0) == 1L)
    assert(k1.forall(r => r.getDouble(3) == 3.0)) // med
    assert(k1.forall(r => r.getDouble(4) == 1.0)) // mad
    assert(math.abs(k1(4).getDouble(5) - 0.6745 * 97.0) < 1e-12)
    assert(k1.map(_.getBoolean(6)).toSeq == Seq(false, false, false, false, true))
    val k2 = out.filter(_.getLong(0) == 2L)
    assert(k2.forall(r => r.isNullAt(5) && !r.getBoolean(6)), "mad=0 → null z, unflagged")
  }

  test("meanShiftScore: step series scores the jump highest; edges null") {
    import graft.operators.Anomaly
    // 6 points at 10 then 6 points at 20, w=3: the boundary row sees
    // left=(10,10,10), right=(20,20,20) → var 0 → pooled 0 → null; jitter it
    val ys = Seq(10.0, 10.1, 9.9, 10.0, 10.1, 9.9, 20.0, 20.1, 19.9, 20.0, 20.1, 19.9)
    val df = ys.zipWithIndex.map { case (v, i) => (1L, i.toLong * 60, v) }
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val out = Anomaly.meanShiftScore(df, Seq("k"), "ts", "v", w = 3)
      .orderBy("ts").collect()
    // columns: k, t, v, ts, mean_l(4), mean_r(5), shift_score(6)
    // rows 0-2: left window not full → null; rows 10-11: right not full → null
    assert((0 to 2).forall(out(_).isNullAt(6)) && (10 to 11).forall(out(_).isNullAt(6)))
    val scores = (3 to 9).map(i => out(i).getDouble(6))
    // the changepoint row (index 6: first of the 20s) must dominate
    assert(scores(3) == scores.max, s"jump row should score highest: $scores")
    assert(scores(3) > 50, "10→20 shift against 0.1 jitter is a huge t-stat")
  }

  test("ewmVar: matches the direct pandas weight-sum definition; null gates") {
    import graft.operators.Ewma
    val ys = Seq(3.0, 7.0, 4.0, 9.0, 2.0, 6.0)
    val span = 5.0
    val a = 2.0 / (span + 1.0)
    // direct O(n²) definition: weights (1-a)^(t-j), debiased weighted var
    def direct(t: Int): (Double, Double) = {
      val w = (0 to t).map(j => math.pow(1 - a, t - j))
      val sw = w.sum; val sw2 = w.map(x => x * x).sum
      val mu = w.zip(ys).map(p => p._1 * p._2).sum / sw
      val biased = w.zip(ys).map { case (wi, y) => wi * (y - mu) * (y - mu) }.sum / sw
      (mu, biased * sw * sw / (sw * sw - sw2))
    }
    val out = Ewma.ewmVarSeries(ys.zipWithIndex.map { case (y, i) => (i.toLong, Some(y)) }, span)
    assert(out(0)._2.contains(3.0) && out(0)._3.isEmpty, "var null at one obs")
    (1 until ys.size).foreach { t =>
      val (mu, v) = direct(t)
      assert(math.abs(out(t)._2.get - mu) < 1e-12, s"mean at $t")
      assert(math.abs(out(t)._3.get - v) < 1e-10, s"var at $t")
    }
    // nulls advance the decay but contribute nothing
    val withNull = Seq((0L, Some(3.0)), (1L, None), (2L, Some(7.0)))
    val on = Ewma.ewmVarSeries(withNull, span)
    assert(on(1)._3.isEmpty && on(2)._3.nonEmpty)
    val d2 = 1 - a
    val swN = d2 * d2 + 1.0 // weights (1-a)^2 (for y0) and 1 (for y2)
    val muN = (d2 * d2 * 3.0 + 7.0) / swN
    assert(math.abs(on(2)._2.get - muN) < 1e-12)
  }

  test("hampel: spike flagged+replaced, flat-window lone spike caught, edges pass") {
    import graft.operators.Anomaly
    // smooth ramp with one spike at i=6; half=2 → window of 5
    val vs = (0 until 12).map(i => if (i == 6) 500.0 else 10.0 + i)
    val df = vs.zipWithIndex.map { case (v, i) => (1L, i.toLong * 60, v) }
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val out = Anomaly.hampel(df, Seq("k"), "ts", "v", half = 2, k = 3.0)
      .orderBy("t").collect()
    val fIx = out(0).fieldIndex("hampel_flag")
    val vIx = out(0).fieldIndex("v_filtered")
    val mIx = out(0).fieldIndex("hampel_med")
    assert(out(6).getBoolean(fIx), "spike flagged")
    // window at i=6: [14,15,500,17,18] → med 17; spike replaced by it
    assert(out(6).getDouble(vIx) == 17.0)
    (0 until 12).filter(i => i != 6 && i >= 2 && i <= 9)
      .foreach(i => assert(!out(i).getBoolean(fIx), s"clean row $i unflagged"))
    // edges (incomplete centered window): med null, value passes through
    assert(out(0).isNullAt(mIx) && out(0).getDouble(vIx) == vs(0) && !out(0).getBoolean(fIx))
    assert(out(11).isNullAt(mIx))
    // perfectly flat window + lone spike: MAD 0 → zero threshold still flags
    val flat = Seq(7.0, 7.0, 7.0, 7.0, 99.0, 7.0, 7.0, 7.0).zipWithIndex
      .map { case (v, i) => (1L, i.toLong * 60, v) }
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val fo = Anomaly.hampel(flat, Seq("k"), "ts", "v", half = 2, k = 3.0)
      .orderBy("t").collect()
    assert(fo(4).getBoolean(fIx) && fo(4).getDouble(vIx) == 7.0)
    assert(!fo(3).getBoolean(fIx))
  }

  test("cusum: hand-folded step drift; constant series never alarms") {
    import graft.operators.Anomaly
    // 10 at 0.0 then 10 at 10.0: mu=5, sd=5 → z = ∓1; slack 0.5 ⇒ the
    // opposing side grows 0.5/step, the matching side decays 1.5/step
    val df = (0 until 20).map(i => (1L, i.toLong * 60, if (i < 10) 0.0 else 10.0))
      .toDF("k", "t", "v")
      .withColumn("ts", timestamp_seconds(col("t"))).withColumn("i", col("t"))
    val out = Anomaly.cusum(df, Seq("k"), "ts", "i", "v", slack = 0.5, h = 4.0)
      .orderBy("ts_sec").collect()
    val sp = out.map(r => r.getDouble(r.fieldIndex("cusum_pos")))
    val sn = out.map(r => r.getDouble(r.fieldIndex("cusum_neg")))
    // first half: sn = 0.5·(k+1), sp = 0
    (0 until 10).foreach(k => assert(sp(k) == 0.0 && sn(k) == 0.5 * (k + 1)))
    // second half: sp rebuilds 0.5/step; sn decays 1.5/step until floored
    (10 until 20).foreach(k => assert(sp(k) == 0.5 * (k - 9)))
    assert(sn(10) == 3.5 && sn(12) == 0.5 && sn(13) == 0.0 && sn(19) == 0.0)
    // h=4.0: sn alarms at steps 8,9 (4.5, 5.0); sp at steps 18,19
    val drifts = out.zipWithIndex.filter(_._1.getBoolean(out(0).fieldIndex("is_drift"))).map(_._2)
    assert(drifts.toSeq == Seq(8, 9, 18, 19))
    // constant series: sd=0 → z=0 → both sides pinned at 0, no alarms
    val flat = (0 until 8).map(i => (2L, i.toLong * 60, 7.7)).toDF("k", "t", "v")
      .withColumn("ts", timestamp_seconds(col("t"))).withColumn("i", col("t"))
    val fout = Anomaly.cusum(flat, Seq("k"), "ts", "i", "v").collect()
    assert(fout.forall(r => r.getDouble(r.fieldIndex("cusum_pos")) == 0.0 &&
      !r.getBoolean(r.fieldIndex("is_drift"))))
  }

  // --------------------------------------------------------- expectations

  test("concentration: single-category 0/1, uniform log2(k)/1-over-k, nulls out") {
    import graft.operators.Profile
    val df = Seq(
      (1L, Some("a")), (1L, Some("a")), (1L, Some("a")),             // single category
      (2L, Some("a")), (2L, Some("b")), (2L, Some("c")), (2L, Some("d")), // uniform k=4
      (3L, Some("a")), (3L, Some("a")), (3L, Some("b")), (3L, None)) // 2/3 vs 1/3 + null
      .toDF("k", "cat")
    val out = Profile.concentration(df, Seq("k"), "cat")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(out(1L) == ((3L, 1L, -0.0, 1.0)) || out(1L) == ((3L, 1L, 0.0, 1.0)))
    assert(out(2L)._1 == 4L && out(2L)._2 == 4L)
    assert(math.abs(out(2L)._3 - 2.0) < 1e-12 && math.abs(out(2L)._4 - 0.25) < 1e-12)
    // key 3: null excluded → n = 3; p = (2/3, 1/3)
    val h3 = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3)) / math.log(2)
    assert(out(3L)._1 == 3L && math.abs(out(3L)._3 - h3) < 1e-12)
    assert(math.abs(out(3L)._4 - (4.0 / 9 + 1.0 / 9)) < 1e-12)
  }

  test("expectations: per-check violation counts; one agg pass for row checks") {
    import graft.operators.Profile
    val df = Seq(
      (1L, Some("a"), 5.0), (2L, Some("b"), -1.0), (2L, None, 500.0), (3L, Some("z"), 10.0))
      .toDF("id", "cat", "v")
    val rep = Profile.expectations(df,
      notNull = Seq("cat"),
      unique = Seq(Seq("id")),
      ranges = Seq(("v", 0.0, 100.0)),
      accepted = Seq(("cat", Seq("a", "b"))))
      .orderBy("check", "target").collect()
    val byCheck = rep.map(r => (r.getString(0), (r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(byCheck("not_null") == ((1L, 4L, false)))            // one null cat
    assert(byCheck("unique") == ((1L, 4L, false)))              // id 2 twice → 1 extra
    assert(byCheck("range[0.0,100.0]") == ((2L, 4L, false)))    // -1 and 500
    assert(byCheck("accepted{a,b}") == ((1L, 4L, false)))       // 'z'
    // all-green frame
    val ok = Profile.expectations(df.filter(col("id") === 1L), notNull = Seq("cat"))
      .collect()(0)
    assert(ok.getLong(2) == 0L && ok.getBoolean(4))
  }

  test("topKBy: exact k, deterministic tie order, ascending mode") {
    val df = Seq((1L, 10L, 5.0), (1L, 11L, 5.0), (1L, 12L, 3.0), (1L, 13L, 9.0),
      (2L, 20L, 1.0)).toDF("k", "id", "v")
    val top = Sampling.topKBy(df, Seq("k"), "v", "id", k = 2)
      .orderBy("k", "rnk").collect()
    assert(top.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 13L), (1L, 10L), (2L, 20L))) // tie 5.0/5.0 → lower id first
    val bottom = Sampling.topKBy(df, Seq("k"), "v", "id", k = 1, descending = false)
      .orderBy("k").collect()
    assert(bottom.map(_.getLong(1)).toSeq == Seq(12L, 20L))
  }

  // -------------------------------------------------------- interval join

  test("intervalJoin equals the naive theta join; half-open boundaries") {
    // points every 100 s per key; intervals of mixed lengths, including one
    // LONGER than the bucket (replicates to several buckets), one ending
    // exactly on a bucket boundary, and two that overlap the same point
    val pts = (0L until 40L).map(i => (i % 2, i, i * 100))
      .toDF("k", "pid", "s")
      .withColumn("ts", timestamp_seconds(col("s"))).drop("s")
    val iv = Seq(
      (0L, 100L, 150L, 450L),   // within one bucket
      (0L, 101L, 400L, 1800L),  // crosses buckets, ends ON a boundary
      (0L, 102L, 300L, 3300L),  // longer than the bucket (5.5 buckets)
      (1L, 103L, 100L, 101L),   // 1-second sliver containing point at 100
      (1L, 104L, 3900L, 4000L)) // [incl, excl): point at 4000 must NOT match
      .toDF("k", "window_id", "s0", "s1")
      .withColumn("w_start", timestamp_seconds(col("s0")))
      .withColumn("w_end", timestamp_seconds(col("s1"))).drop("s0", "s1")
    val bucketed = graft.operators.Intervals.intervalJoin(
      pts, iv, Seq("k"), "ts", "w_start", "w_end",
      bucketSeconds = 600L, carryCols = Seq("window_id"))
      .select("k", "pid", "window_id")
    val naive = pts.join(iv,
        pts("k") === iv("k") && pts("ts") >= iv("w_start") && pts("ts") < iv("w_end"))
      .select(pts("k"), col("pid"), col("window_id"))
    assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty)
    assert(bucketed.count() > 0)
    // point 3900 in the sliver [3900,4000) matches; 4000 itself excluded
    val m104 = bucketed.filter(col("window_id") === 104L).select("pid")
      .collect().map(_.getLong(0)).toSet
    assert(m104 == Set(39L))
  }

  test("keepBest: highest score survives per cluster, min-id ties, singletons keep") {
    import graft.operators.Dedup
    // clusters {1,2,3} (chain) and {10,11}; 20 is a singleton
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val members = Seq(
      (1L, 5.0), (2L, 9.0), (3L, 9.0), // tie at 9.0 → min id 2 wins
      (10L, 1.0), (11L, 4.0),
      (20L, 0.0)).toDF("id", "score")
    val out = Dedup.keepBest(members, "id", "score", edges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == ((1L, false)) && out(2L) == ((1L, true)) && out(3L) == ((1L, false)))
    assert(out(10L) == ((10L, false)) && out(11L) == ((10L, true)))
    assert(out(20L) == ((20L, true)), "singleton keeps itself")
    assert(out.values.count(_._2) == 3)
  }

  // ----------------------------------------------------------- histogram

  test("hist: slot placement incl. boundaries/nulls; promote counter-identical") {
    val df = Seq(
      Some(-1.0), Some(0.0), Some(9.999), Some(10.0), Some(99.99),
      Some(100.0), Some(150.0), None)
      .zipWithIndex.map { case (v, i) => (1L, i.toLong, v) }
      .toDF("k", "t", "v")
      .withColumn("ts", timestamp_seconds(col("t"))).drop("t")
    val row = graft.operators.Hist.histogram(df, Seq("k"), "ts", "v",
      bucketSeconds = 3600L, lo = 0.0, hi = 100.0, nbins = 10).collect()(0)
    val h = row.getSeq[Long](row.fieldIndex("hist"))
    // slots: underflow(-1) | bin1(0.0, 9.999) | bin2(10.0) | ... | bin10(99.99) | overflow(100, 150)
    assert(h(0) == 1L && h(1) == 2L && h(2) == 1L && h(10) == 1L && h(11) == 2L)
    assert(h.sum == 7L) // the null lands in NO slot
    // promote parity: 1m hists merged to 1h == direct 1h histogram
    val pts = (0 until 600).map(i => (i.toLong % 3, i.toLong * 13,
      (i * 37 % 130).toDouble - 5.0)).toDF("k", "t", "v")
      .withColumn("ts", timestamp_seconds(col("t"))).drop("t")
    val h1m = graft.operators.Hist.histogram(pts, Seq("k"), "ts", "v", 60L, 0.0, 100.0, 10)
    val promoted = graft.operators.Hist.promote(h1m, Seq("k"), 3600L, 10)
    val direct = graft.operators.Hist.histogram(pts, Seq("k"), "ts", "v", 3600L, 0.0, 100.0, 10)
    val j = promoted.withColumnRenamed("hist", "ph")
      .join(direct, Seq("k", "bucket_start"), "full_outer")
    assert(j.filter(col("ph").isNull || col("hist").isNull).count() == 0)
    assert(j.filter(col("ph") =!= col("hist")).count() == 0)
  }

  test("hist quantileEst: hand interpolation, under/overflow clamps") {
    import graft.operators.Hist
    // values 5,15,25,35 → bins 1..4, one each; n=4
    val df = Seq(5.0, 15.0, 25.0, 35.0).zipWithIndex
      .map { case (v, i) => (1L, i.toLong, v) }.toDF("k", "t", "v")
      .withColumn("ts", timestamp_seconds(col("t"))).drop("t")
    val h = Hist.histogram(df, Seq("k"), "ts", "v", 86400L, 0.0, 100.0, 10)
    val est = Hist.quantileEst(h, Seq("k"), 0.0, 100.0, 10, Seq(0.5, 0.95))
      .orderBy("q").collect().map(r => r.getDouble(r.fieldIndex("est")))
    // q=.5: r=2 → bin2 (cum 2, before 1): 10 + ((2-1)/1)·10 = 20
    // q=.95: r=3.8 → bin4 (cum 4, before 3): 30 + 0.8·10 = 38
    assert(est.toSeq == Seq(20.0, 38.0))
    // mass in the clamp slots: -5 (underflow) ×3 and 200 (overflow) ×3
    val ext = Seq(-5.0, -5.0, -5.0, 200.0, 200.0, 200.0).zipWithIndex
      .map { case (v, i) => (1L, i.toLong, v) }.toDF("k", "t", "v")
      .withColumn("ts", timestamp_seconds(col("t"))).drop("t")
    val he = Hist.histogram(ext, Seq("k"), "ts", "v", 86400L, 0.0, 100.0, 10)
    val ee = Hist.quantileEst(he, Seq("k"), 0.0, 100.0, 10, Seq(0.25, 0.75))
      .orderBy("q").collect().map(r => r.getDouble(r.fieldIndex("est")))
    assert(ee.toSeq == Seq(0.0, 100.0)) // clamp to lo / hi
  }

  // ----------------------------------------------------------------- SAX

  test("sax: hand golden, constant series, alphabet-3 breakpoints") {
    val df = Seq(
      ("a", 0L, 1.0), ("a", 60L, 2.0), ("a", 120L, 3.0), ("a", 180L, 4.0),
      ("c", 0L, 7.5), ("c", 60L, 7.5), ("c", 120L, 7.5))
      .toDF("g", "s", "v")
      .withColumn("ts", timestamp_seconds(col("s"))).drop("s")
    // group a: mu=2.5 sd=sqrt(1.25); z = -1.342, -0.447, 0.447, 1.342 → abcd
    val out = graft.operators.Sax.sax(df, Seq("g"), "ts", "v",
      frameSeconds = 60L, alphabet = 4).orderBy("g").collect()
    assert(out(0).getString(1) == "abcd" && out(0).getLong(2) == 4L)
    // constant series: z ≡ 0 → 'c' ('0 < 0' false, '0 < 0.674' true)
    assert(out(1).getString(1) == "ccc")
    val a3 = graft.operators.Sax.sax(df.filter(col("g") === "a"), Seq("g"),
      "ts", "v", frameSeconds = 60L, alphabet = 3).collect()(0).getString(1)
    // |z| = 0.4472 straddles the ±0.4307 breakpoints outward on both sides
    assert(a3 == "aacc")
  }

  test("sax: one frame letter per frame, multiple points per frame") {
    val df = (0L until 120L).map(i => ("g", i * 30, math.sin(i / 5.0)))
      .toDF("g", "s", "v")
      .withColumn("ts", timestamp_seconds(col("s"))).drop("s")
    val paa = graft.operators.Sax.paa(df, Seq("g"), "ts", "v",
      frameSeconds = 600L, alphabet = 4)
    assert(paa.count() == 6) // 3600 s of points / 600 s frames
    val word = graft.operators.Sax.sax(df, Seq("g"), "ts", "v",
      frameSeconds = 600L, alphabet = 4).collect()(0).getString(1)
    assert(word.length == 6 && word.forall(c => c >= 'a' && c <= 'd'))
  }

  test("chao1: hand golden and no-singleton floor") {
    // counts {a:1, b:1, c:2, d:5}: D=4, f1=2, f2=1 -> 4 + 2*1/(2*2) = 4.5
    val df = (Seq("a", "b") ++ Seq.fill(2)("c") ++ Seq.fill(5)("d"))
      .map(("g", _)).toDF("g", "cat")
    val r = graft.operators.Profile.chao1(df, Seq("g"), "cat").head
    assert(r.getAs[Long]("d_observed") === 4L)
    assert(r.getAs[Long]("f1") === 2L && r.getAs[Long]("f2") === 1L)
    assert(approxEq(r.getAs[Double]("chao1"), 4.5))
    // no singletons: estimate = observed (nothing unseen is inferred)
    val sat = Seq.fill(3)(("g", "x")) ++ Seq.fill(3)(("g", "y"))
    val r2 = graft.operators.Profile.chao1(sat.toDF("g", "cat"), Seq("g"), "cat").head
    assert(approxEq(r2.getAs[Double]("chao1"), 2.0))
  }

  test("binarySegment: step series splits at the jump with exact segment means") {
    val df = (Seq.fill(4)(0.0) ++ Seq.fill(3)(10.0)).zipWithIndex
      .map { case (v, i) => ("k", i.toLong, v) }.toDF("k", "ts", "v")
    val r = graft.operators.Anomaly.binarySegment(df, Seq("k"), "ts", "v").head
    assert(r.getAs[Long]("split_ts") === 3L) // last point of the left segment
    assert(r.getAs[Int]("n_left") === 4 && r.getAs[Long]("n_right") === 3L)
    assert(approxEq(r.getAs[Double]("mean_left"), 0.0))
    assert(approxEq(r.getAs[Double]("mean_right"), 10.0))
    // flat series: zero gain everywhere, tie-break picks the earliest split
    val flat = (0 until 5).map(i => ("k", i.toLong, 2.0)).toDF("k", "ts", "v")
    val f = graft.operators.Anomaly.binarySegment(flat, Seq("k"), "ts", "v").head
    assert(f.getAs[Double]("gain") === 0.0 && f.getAs[Long]("split_ts") === 0L)
  }

  test("sba: exactly croston debiased by (1 - alpha/2)") {
    val hist = Seq(("k", 1L, 4.0), ("k", 2L, 0.0), ("k", 3L, 6.0),
      ("k", 4L, 0.0), ("k", 5L, 0.0), ("k", 6L, 3.0))
      .toDF("k", "s", "v")
      .withColumn("ts", timestamp_seconds(col("s") * 86400)).drop("s")
    val cro = Forecast.croston(hist, Seq("k"), "ts", "v",
      alpha = 0.4, horizon = 2, stepSeconds = 86400L)
      .collect().map(r => r.getAs[Int]("step") -> r.getAs[Double]("yhat")).toMap
    val sba = Forecast.sba(hist, Seq("k"), "ts", "v",
      alpha = 0.4, horizon = 2, stepSeconds = 86400L)
      .collect().map(r => r.getAs[Int]("step") -> r.getAs[Double]("yhat")).toMap
    assert(cro.keySet === sba.keySet)
    cro.foreach { case (st, y) => assert(sba(st) === y * (1.0 - 0.4 / 2.0)) }
  }

  test("lorenz: hand curve; endpoint pinned at (1, 1)") {
    // values {1, 1, 2, 4}, total 8: p_val = .125, .25, .5, 1 at p_pop quarters
    val df = Seq(("g", 10L, 1L), ("g", 11L, 1L), ("g", 12L, 2L), ("g", 13L, 4L))
      .toDF("g", "id", "v")
    val got = graft.operators.Profile.lorenz(df, Seq("g"), "v", "id")
      .collect().map(r => r.getAs[Int]("i") ->
        (r.getAs[Double]("p_pop"), r.getAs[Double]("p_val"))).toMap
    assert(got(1) === ((0.25, 0.125)) && got(2) === ((0.5, 0.25)))
    assert(got(3) === ((0.75, 0.5)) && got(4) === ((1.0, 1.0)))
    // ties rank by id: the two 1-values keep ids 10 then 11
    val byI = graft.operators.Profile.lorenz(df, Seq("g"), "v", "id")
      .collect().map(r => r.getAs[Int]("i") -> r.getAs[Long]("id")).toMap
    assert(byI(1) === 10L && byI(2) === 11L)
  }
}
