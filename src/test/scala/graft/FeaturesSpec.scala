package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators._

/** Golden per-operator tests — the reference's hand-computed-fixture style
  * (/root/reference/forecastframe/tests/test_feature_engineering.py) on a
  * small multi-series daily fixture with a date gap, nulls, negatives, a zero
  * and an outlier (testing.py:9-45 translated per FIXTURES.md §1).
  */
class FeaturesSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s + " 00:00:00")

  // (host, day, value) — series "a" has a gap on 01-03 and a null; "b" has
  // negatives and an outlier; value 0 leads series "a".
  lazy val fx = Seq(
    ("a", ts("2020-01-01"), Some(0.0)),
    ("a", ts("2020-01-02"), Some(2.0)),
    ("a", ts("2020-01-04"), None),
    ("a", ts("2020-01-05"), Some(8.0)),
    ("b", ts("2020-01-01"), Some(-20.0)),
    ("b", ts("2020-01-02"), Some(3.0)),
    ("b", ts("2020-01-03"), Some(10000.0)),
    ("b", ts("2020-01-04"), Some(5.0))
  ).toDF("host", "day", "v")

  private def collectMap(df: org.apache.spark.sql.DataFrame, valueCol: String): Map[(String, Timestamp), Option[Double]] =
    df.select(col("host"), col("day"), col(valueCol)).collect()
      .map(r => ((r.getString(0), r.getTimestamp(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap

  test("lag: per-group shift, nulls propagate") {
    val got = collectMap(Features.lagFeatures(fx, Seq("host"), "day", Seq("v"), Seq(1)), "v_lag1")
    assert(got(("a", ts("2020-01-01"))).isEmpty)
    assert(got(("a", ts("2020-01-02"))).contains(0.0))
    assert(got(("a", ts("2020-01-04"))).contains(2.0))
    assert(got(("a", ts("2020-01-05"))).isEmpty) // lag of the null row
    assert(got(("b", ts("2020-01-04"))).contains(10000.0))
  }

  test("lag rejects k=0 (anti-leakage)") {
    intercept[IllegalArgumentException] {
      Features.lagFeatures(fx, Seq("host"), "day", Seq("v"), Seq(0))
    }
  }

  test("difference: x - lag(x)") {
    val got = collectMap(Features.differenceFeatures(fx, Seq("host"), "day", Seq("v"), Seq(1)), "v_diff1")
    assert(got(("a", ts("2020-01-02"))).contains(2.0))
    assert(got(("b", ts("2020-01-02"))).contains(23.0))
    assert(got(("b", ts("2020-01-03"))).contains(9997.0))
    assert(got(("a", ts("2020-01-04"))).isEmpty)
  }

  test("pct_change: (lag1-lag2)/lag2 with 0-denominator -> null") {
    val got = collectMap(Features.percentChange(fx, Seq("host"), "day", Seq("v"), Seq(1)), "v_pct_change1")
    // series a at 01-04: lag1=2, lag2=0 -> denominator 0 -> null
    assert(got(("a", ts("2020-01-04"))).isEmpty)
    // series b at 01-03: (3 - -20)/-20 = -1.15
    assert(got(("b", ts("2020-01-03"))).exists(approxEq(_, -1.15)))
  }

  test("rolling mean: 3-day window, lag 1, min_periods gate") {
    val daily = Seq(
      ("h", ts("2020-01-01"), 1.0), ("h", ts("2020-01-02"), 2.0),
      ("h", ts("2020-01-03"), 3.0), ("h", ts("2020-01-04"), 4.0),
      ("h", ts("2020-01-05"), 5.0)).toDF("host", "day", "v")
    val out = collectMap(
      Features.rollingStats(daily, Seq("host"), "day", "v", windowDays = 3, lagDays = 1,
        ops = Seq("mean", "sum")), "v_roll3d_lag1_mean")
    // min_periods default = ceil(3^0.8) = 3 -> first two rows gated to null
    assert(out(("h", ts("2020-01-01"))).isEmpty && out(("h", ts("2020-01-03"))).isEmpty)
    assert(out(("h", ts("2020-01-04"))).exists(approxEq(_, 2.0))) // mean(1,2,3)
    assert(out(("h", ts("2020-01-05"))).exists(approxEq(_, 3.0))) // mean(2,3,4)
  }

  test("rollingQuantile: interpolating definition, gate, and q=0.5 == median op") {
    val daily = Seq(
      ("h", ts("2020-01-01"), 1.0), ("h", ts("2020-01-02"), 2.0),
      ("h", ts("2020-01-03"), 3.0), ("h", ts("2020-01-04"), 4.0),
      ("h", ts("2020-01-05"), 5.0)).toDF("host", "day", "v")
    val out = collectMap(
      Features.rollingQuantile(daily, Seq("host"), "day", "v",
        q = 0.25, windowDays = 3, lagDays = 1), "v_roll3d_lag1_p25")
    // min_periods = ceil(3^0.8) = 3: first two windows gated
    assert(out(("h", ts("2020-01-02"))).isEmpty && out(("h", ts("2020-01-03"))).isEmpty)
    // window {1,2,3}: p25 = 1 + 0.25·(3−1)·… = 1.5 (quantile_cont interpolation)
    assert(out(("h", ts("2020-01-04"))).exists(approxEq(_, 1.5)))
    assert(out(("h", ts("2020-01-05"))).exists(approxEq(_, 2.5)))
    // q=0.5 must agree with rollingStats' median op on the same frame
    val med = collectMap(Features.rollingStats(daily, Seq("host"), "day", "v",
      windowDays = 3, lagDays = 1, ops = Seq("median")), "v_roll3d_lag1_median")
    val q50 = collectMap(Features.rollingQuantile(daily, Seq("host"), "day", "v",
      q = 0.5, windowDays = 3, lagDays = 1), "v_roll3d_lag1_p50")
    assert(med.forall { case (k, v) => q50(k) == v })
  }

  test("ewma matches pandas ewm(span=3, adjust=True) literals") {
    // pandas: [1,2,3,4].ewm(span=3, adjust=True).mean() = [1, 1.6666667, 2.4285714, 3.2666667]
    val got = Ewma.ewmaSeries(Seq((0L, Some(1.0)), (1L, Some(2.0)), (2L, Some(3.0)), (3L, Some(4.0))),
      span = 3.0, lagRows = 0, minPeriods = 1).map(_._2.get)
    val exp = Seq(1.0, 5.0 / 3.0, 17.0 / 7.0, 49.0 / 15.0)
    got.zip(exp).foreach { case (g, e) => assert(approxEq(g, e), s"$g != $e") }
  }

  test("ewma skips nulls but decays by position (ignore_na=False)") {
    // pandas [1, nan, 2].ewm(span=3, adjust=True).mean() = [1, 1, (2 + 0.25*1)/(1+0.25)] = 1.8
    val got = Ewma.ewmaSeries(Seq((0L, Some(1.0)), (1L, None), (2L, Some(2.0))),
      span = 3.0, lagRows = 0, minPeriods = 1).map(_._2)
    assert(got(0).contains(1.0) && got(1).contains(1.0))
    assert(got(2).exists(approxEq(_, 2.25 / 1.25)))
  }

  test("calendar features: pandas-parity definitions") {
    val d = Seq((1L, ts("2020-01-01")), (2L, ts("2020-01-05")), (3L, ts("2019-12-30"))).toDF("id", "t")
    val out = Features.calendarFeatures(d, "t").collect().map(r => r.getLong(0) -> r).toMap
    // 2020-01-01 is a Wednesday: pandas dow=2, %U week = 0+1 = 1
    assert(out(1L).getAs[Int]("day_of_week") == 2)
    assert(out(1L).getAs[Int]("weekend_flag") == 0)
    assert(out(1L).getAs[Int]("week") == 1)
    assert(out(1L).getAs[String]("month_year") == "20M01")
    assert(out(1L).getAs[String]("quarter_year") == "20Q1")
    // 2020-01-05 is a Sunday: dow=6, weekend, starts %U week 1 -> +1 = 2
    assert(out(2L).getAs[Int]("day_of_week") == 6)
    assert(out(2L).getAs[Int]("weekend_flag") == 1)
    assert(out(2L).getAs[Int]("week") == 2)
    // 2019-12-30 Monday: dow=0; 2019 started Tuesday -> yday=363, wday=1: (363+7-1)/7=52 -> 53
    assert(out(3L).getAs[Int]("day_of_week") == 0)
    assert(out(3L).getAs[Int]("week") == 53)
    assert(out(3L).getAs[Int]("year") == 19)
  }

  test("days_since_release skips leading zeros/negatives") {
    val got = Features.daysSinceRelease(fx, Seq("host"), "day", "v")
      .select(col("host"), col("day"), col("days_since_release")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) -> r.getInt(2)).toMap
    // series a: first positive is 01-02 -> 01-01 clamps to 0, 01-05 = 3
    assert(got(("a", ts("2020-01-01"))) == 0)
    assert(got(("a", ts("2020-01-02"))) == 0)
    assert(got(("a", ts("2020-01-05"))) == 3)
    // series b: first positive 01-02
    assert(got(("b", ts("2020-01-01"))) == 0 && got(("b", ts("2020-01-04"))) == 2)
  }

  test("forward/backward fill") {
    val ff = collectMap(Features.forwardFill(fx, Seq("host"), "day", Seq("v")), "v")
    assert(ff(("a", ts("2020-01-04"))).contains(2.0))
    val bf = collectMap(Features.backwardFill(fx, Seq("host"), "day", Seq("v")), "v")
    assert(bf(("a", ts("2020-01-04"))).contains(8.0))
  }

  test("correct_negatives clamps below zero") {
    val got = collectMap(Features.correctNegatives(fx, Seq("v")), "v")
    assert(got(("b", ts("2020-01-01"))).contains(0.0))
    assert(got(("b", ts("2020-01-02"))).contains(3.0))
  }

  test("gap-fill inserts missing buckets; idempotent; LOCF never invents values") {
    val filled = GapFill.fillTimeGaps(fx, Seq("host"), "day", 86400L)
    assert(filled.count() == 10) // 2 hosts × 5 days
    val inserted = filled.filter(col("host") === "a" && col("day") === ts("2020-01-03"))
    assert(inserted.count() == 1 && inserted.head().isNullAt(2))
    val twice = GapFill.fillTimeGaps(filled, Seq("host"), "day", 86400L)
    assert(twice.count() == 10)
    val locfed = GapFill.locf(filled, Seq("host"), "day", Seq("v"))
    val vals = locfed.select("v").na.drop().collect().map(_.getDouble(0)).toSet
    val orig = fx.select("v").na.drop().collect().map(_.getDouble(0)).toSet
    assert(vals.subsetOf(orig), "LOCF invented values")
  }

  test("linear interpolation: ts-weighted between neighbors, endpoints null") {
    val s = Seq(("h", ts("2020-01-01"), Some(1.0)), ("h", ts("2020-01-02"), None),
      ("h", ts("2020-01-03"), None), ("h", ts("2020-01-04"), Some(4.0)),
      ("h", ts("2020-01-05"), None)).toDF("host", "day", "v")
    val got = collectMap(GapFill.linearInterpolate(s, Seq("host"), "day", Seq("v")), "v")
    assert(got(("h", ts("2020-01-02"))).exists(approxEq(_, 2.0)))
    assert(got(("h", ts("2020-01-03"))).exists(approxEq(_, 3.0)))
    assert(got(("h", ts("2020-01-05"))).isEmpty) // trailing: no next neighbor
  }

  test("scalers: apply + inverse round-trip; params are train-only fittable") {
    val df = fx.na.drop(Seq("v"))
    val std = Scalers.fitStandardize(df, "v")
    val mm = Scalers.fitMinMax(df, "v")
    // apply then inverse returns original values
    val vals = Scalers.inverseAll(Scalers.applyAll(df.select("host", "day", "v"), Seq(std, mm)), Seq(std, mm))
      .join(df.withColumnRenamed("v", "v0"), Seq("host", "day"))
      .select(max(abs(col("v") - col("v0")))).head().getDouble(0)
    assert(vals < 1e-9)
    // log1p inverse
    val lg = Scalers.Log1pParams("v")
    val l = Scalers.inverseAll(Scalers.applyAll(Features.correctNegatives(df, Seq("v")), Seq(lg)), Seq(lg))
    assert(l.select("v").collect().map(_.getDouble(0)).forall(v => v >= 0))
  }

  test("robust scaler: exact median/IQR center-scale, inverse, constant-column guard") {
    val df = Seq(1.0, 2.0, 3.0, 4.0, 100.0).toDF("v")
    val p = Scalers.fitRobust(df, "v")
    assert(p.median == 3.0 && p.iqr == 2.0) // p25=2, p75=4 (exact interpolation)
    val scaled = Scalers.applyAll(df, Seq(p)).as[Double].collect().sorted
    assert(scaled.head == -1.0 && scaled(2) == 0.0 && scaled.last == 48.5)
    // round-trip
    val rt = Scalers.inverseAll(Scalers.applyAll(df, Seq(p)), Seq(p))
      .as[Double].collect().sorted
    assert(rt.zip(Seq(1.0, 2.0, 3.0, 4.0, 100.0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    // constant column: iqr 0 -> scale by 1 (no div-by-zero, center only)
    val c = Scalers.fitRobust(Seq(5.0, 5.0, 5.0).toDF("v"), "v")
    assert(c.iqr == 0.0)
    assert(Scalers.applyAll(Seq(5.0).toDF("v"), Seq(c)).head().getDouble(0) == 0.0)
  }

  test("ohlc: first/last by (ts, tie), high/low, deterministic under ts ties") {
    def t(sec: Int): Timestamp = new Timestamp(1577836800000L + sec * 1000L)
    val df = Seq(
      ("k", t(0), 1L, 5.0), ("k", t(10), 2L, 9.0), ("k", t(20), 3L, 1.0),
      ("k", t(70), 4L, 3.0),
      // tied timestamps in one bucket: tie id decides open (id 5) and close (id 7)
      ("z", t(0), 6L, 50.0), ("z", t(0), 5L, 40.0), ("z", t(0), 7L, 60.0)
    ).toDF("k", "ts", "id", "v")
    val out = Features.ohlc(df, Seq("k"), "ts", "id", "v", bucketSeconds = 60L)
      .collect().map(r => (r.getString(0), r.getLong(6)) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5))).toMap
    assert(out(("k", 1577836800L)) == ((5.0, 9.0, 1.0, 1.0, 3L)))
    assert(out(("k", 1577836860L)) == ((3.0, 3.0, 3.0, 3.0, 1L)))
    assert(out(("z", 1577836800L)) == ((40.0, 60.0, 40.0, 60.0, 3L)))
  }

  test("twap: LOCF step integral over the covered span; single point -> plain value") {
    def t(sec: Int): Timestamp = new Timestamp(1577836800000L + sec * 1000L)
    val df = Seq(
      ("k", t(0), 1L, 10.0), ("k", t(10), 2L, 20.0), ("k", t(30), 3L, 0.0),
      ("s", t(5), 4L, 7.5) // lone point: zero span -> avg fallback
    ).toDF("k", "ts", "id", "v")
    val out = Features.timeWeightedAvg(df, Seq("k"), "ts", "id", "v", bucketSeconds = 3600L)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getLong(3))).toMap
    // segments: 10*(10s) + 20*(20s) over 30s = 500/30; last point carries no weight
    assert(math.abs(out("k")._1 - 500.0 / 30.0) < 1e-12 && out("k")._2 == 3L)
    assert(out("s") == ((7.5, 1L)))
  }

  test("rolling skew/kurt match pandas sample-adjusted G1/G2 literals") {
    // one series, window wide enough to hold all prior rows (lag 1 day):
    // pandas .skew()/.kurt() of [1,2,3,4] = 0.0 / -1.2; of [1,1,1,2] skew = 2.0
    val s = Seq(("h", ts("2020-01-01"), 1.0), ("h", ts("2020-01-02"), 2.0),
      ("h", ts("2020-01-03"), 3.0), ("h", ts("2020-01-04"), 4.0),
      ("h", ts("2020-01-05"), 99.0)).toDF("host", "day", "v")
    val out = Features.rollingStats(s, Seq("host"), "day", "v",
      windowDays = 10, lagDays = 1, minPeriods = Some(1), ops = Seq("skew", "kurt"))
    val sk = collectMap(out, "v_roll10d_lag1_skew")
    val ku = collectMap(out, "v_roll10d_lag1_kurt")
    assert(sk(("h", ts("2020-01-05"))).exists(approxEq(_, 0.0)))   // window [1,2,3,4]
    assert(ku(("h", ts("2020-01-05"))).exists(approxEq(_, -1.2)))
    assert(sk(("h", ts("2020-01-03"))).isEmpty) // n=2 < 3 -> null like pandas NaN
    assert(ku(("h", ts("2020-01-04"))).isEmpty) // n=3 < 4 -> null like pandas NaN
    val s2 = Seq(("h", ts("2020-01-01"), 1.0), ("h", ts("2020-01-02"), 1.0),
      ("h", ts("2020-01-03"), 1.0), ("h", ts("2020-01-04"), 2.0),
      ("h", ts("2020-01-05"), 0.0)).toDF("host", "day", "v")
    val sk2 = collectMap(Features.rollingStats(s2, Seq("host"), "day", "v",
      windowDays = 10, lagDays = 1, minPeriods = Some(1), ops = Seq("skew")), "v_roll10d_lag1_skew")
    assert(sk2(("h", ts("2020-01-05"))).exists(approxEq(_, 2.0))) // window [1,1,1,2]
  }

  test("ewma adjust=false recursive form matches pandas literals") {
    // pandas [1,2,3,4].ewm(span=3, adjust=False).mean() = [1, 1.5, 2.25, 3.125]
    val pts = Seq((1704067200L, Some(1.0)), (1704067260L, Some(2.0)),
      (1704067320L, Some(3.0)), (1704067380L, Some(4.0)))
    val got = Ewma.ewmaSeries(pts, span = 3.0, lagRows = 0, minPeriods = 1, adjust = false)
      .map(_._2.get)
    assert(got.zip(Seq(1.0, 1.5, 2.25, 3.125)).forall { case (a, b) => approxEq(a, b) })
  }

  test("error metrics: hand-computed MAPE/RMSE") {
    val d = Seq((10.0, 8.0), (20.0, 22.0)).toDF("a", "p")
    val m = Metrics.summarize(d, "a", "p").head()
    assert(approxEq(m.getAs[Double]("mape"), (0.2 + 0.1) / 2))
    assert(approxEq(m.getAs[Double]("rmse"), math.sqrt((4.0 + 4.0) / 2)))
    assert(approxEq(m.getAs[Double]("mae"), 2.0))
    assert(m.getAs[Long]("n") == 2)
  }

  test("pinball and asymmetric squared loss: hand values on both sides of the actual") {
    // pinball q=0.25: under-prediction (a ≥ p) costs q·(a−p), over-prediction
    // (1−q)·(p−a). asymmetricSe w=3: over-prediction costs w·(p−a)², else (a−p)².
    val d = Seq((10.0, 8.0), (10.0, 14.0), (10.0, 10.0), (10.0, 12.0), (10.0, 7.0))
      .toDF("a", "p")
    val got = d.select(Metrics.pinball(col("a"), col("p"), 0.25),
        Metrics.asymmetricSe(col("a"), col("p"), 3.0))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    assert(got == Seq((0.5, 4.0), (3.0, 48.0), (0.0, 0.0), (1.5, 12.0), (0.75, 9.0)))
  }

  test("purged CV: hand roles on 10 buckets, K=5, purge=embargo=1; no train inside guards") {
    // blocks of 2: fold 2 = idx {4,5} = days/ids {5,6}; purged id 4, embargo id 7
    val daily = (1 to 10).map(i => (ts(f"2020-01-$i%02d"), i.toLong)).toDF("day", "id")
    val out = CrossVal.purgedFoldAssign(daily, "day", nFolds = 5, purge = 1, embargo = 1)
    val fold2 = out.filter(col("fold") === 2)
      .select(col("id"), col("role")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fold2(5L) == "test" && fold2(6L) == "test")
    assert(fold2(4L) == "purged")
    assert(fold2(7L) == "embargo")
    assert(Seq(1L, 2L, 3L, 8L, 9L, 10L).forall(fold2(_) == "train"))
    // leakage guard holds for EVERY fold: no train bucket within purge
    // before the test block or embargo after it
    val viol = out.groupBy("fold")
      .agg(min(when(col("role") === "test", col("id"))).as("ts_"),
        max(when(col("role") === "test", col("id"))).as("te_"))
      .join(out, "fold")
      .filter(col("role") === "train" &&
        (col("id") === col("ts_") - 1 || col("id") === col("te_") + 1))
    assert(viol.isEmpty, "train row adjacent to a test block despite purge/embargo")
    // edge folds clip: fold 0 has no purged rows, last fold no embargo rows
    assert(out.filter(col("fold") === 0 && col("role") === "purged").isEmpty)
    assert(out.filter(col("fold") === 4 && col("role") === "embargo").isEmpty)
  }

  test("leak-free CV: test-row rolling features see only train-visible history") {
    val daily = (1 to 10).map(i => ("h", ts(f"2020-01-$i%02d"), i.toDouble)).toDF("host", "day", "v")
    val folds = CrossVal.timeSeriesSplits(daily, "day", nSplits = 2, gap = 0)
    val f = folds.head // train through 01-04 (test 01-05..01-07 when testSize=3)
    val out = CrossVal.leakFreeFold(daily, "day", "v", f, scalerCols = Nil,
      featureFn = d => Features.rollingStats(d, Seq("host"), "day", "v",
        windowDays = 30, lagDays = 1, minPeriods = Some(1), ops = Seq("sum")))
      .select(col("day"), col("_sample"), col("v_roll30d_lag1_sum")).collect()
      .map(r => r.getTimestamp(0) -> (r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val trainEndDay = f.trainEnd.toLocalDateTime.getDayOfMonth
    // every test row's rolling sum == sum of TRAIN values only (test target masked)
    val trainSum = (1 to trainEndDay).map(_.toDouble).sum
    out.collect { case (d, ("test", Some(sum))) => (d, sum) }.foreach { case (d, sum) =>
      assert(sum == trainSum, s"leak at $d: $sum != $trainSum")
    }
    assert(out.values.count(_._1 == "test") > 0)
  }

  test("fourier terms: period-7 identity, unit circle, k bounds enforced") {
    val df = (0 until 21).map(i => (i.toLong, i.toLong * 86400))
      .toDF("id", "t").withColumn("ts", timestamp_seconds(col("t")))
    val out = Features.fourierTerms(df, "ts", period = 7, k = 2)
      .orderBy("id").collect()
    // day d and day d+7 are the same phase
    (0 until 14).foreach { i =>
      assert(math.abs(out(i).getDouble(3) - out(i + 7).getDouble(3)) < 1e-12)
      assert(math.abs(out(i).getDouble(4) - out(i + 7).getDouble(4)) < 1e-12)
    }
    // sin² + cos² = 1 for every harmonic
    out.foreach { r =>
      assert(math.abs(r.getDouble(3) * r.getDouble(3) + r.getDouble(4) * r.getDouble(4) - 1.0) < 1e-12)
      assert(math.abs(r.getDouble(5) * r.getDouble(5) + r.getDouble(6) * r.getDouble(6) - 1.0) < 1e-12)
    }
    intercept[IllegalArgumentException] {
      Features.fourierTerms(df, "ts", period = 7, k = 4) // k > period/2
    }
  }

  test("box-cox: λ=0 is ln, λ=0.5 round-trips, non-positive → null") {
    val df = Seq((1L, 4.0), (2L, 0.25), (3L, -1.0), (4L, 0.0))
      .toDF("id", "v")
    val p0 = Scalers.BoxCoxParams("v", 0.0)
    val o0 = df.withColumn("bc", p0(col("v"))).orderBy("id").collect()
    assert(math.abs(o0(0).getDouble(2) - math.log(4.0)) < 1e-12)
    assert(o0(2).isNullAt(2) && o0(3).isNullAt(2))
    val p5 = Scalers.BoxCoxParams("v", 0.5)
    val o5 = df.withColumn("bc", p5(col("v")))
      .withColumn("back", p5.inverse(col("bc"))).orderBy("id").collect()
    assert(math.abs(o5(0).getDouble(2) - 2.0) < 1e-12) // (√4−1)/0.5 = 2
    assert(math.abs(o5(0).getDouble(3) - 4.0) < 1e-12)
    assert(math.abs(o5(1).getDouble(3) - 0.25) < 1e-12)
    // replay through the scaler pipeline machinery
    val replayed = Scalers.inverseAll(
      Scalers.applyAll(df.filter(col("v") > 0), Seq(p5)), Seq(p5))
      .orderBy("id").collect()
    assert(math.abs(replayed(0).getDouble(1) - 4.0) < 1e-12)
  }

  test("winsorize: clamps into the exact quantile band; nulls pass through") {
    val vals = (1 to 20).map(_.toDouble) // p05 = 1.95, p95 = 19.05 (interpolated)
    val df = (vals.zipWithIndex.map { case (v, i) => (1L, i.toLong, Option(v)) } :+
      ((1L, 20L, Option.empty[Double])))
      .toDF("k", "id", "v")
    val out = Scalers.winsorize(df, Seq("k"), "v").orderBy("id").collect()
    assert(math.abs(out(0).getDouble(3) - 1.95) < 1e-12)   // 1 → p05
    assert(math.abs(out(19).getDouble(3) - 19.05) < 1e-12) // 20 → p95
    assert(math.abs(out(9).getDouble(3) - 10.0) < 1e-12)   // interior untouched
    assert(out(20).isNullAt(3), "null input stays null")
    // global (no-group) branch agrees on a single-key frame
    val g = Scalers.winsorize(df, Seq.empty, "v").orderBy("id").collect()
    (0 until 21).foreach { i =>
      assert((g(i).isNullAt(3) && out(i).isNullAt(3)) ||
        math.abs(g(i).getDouble(3) - out(i).getDouble(3)) < 1e-12)
    }
  }

  test("seasonal decompose: recovers a planted trend+seasonal; components rebuild y") {
    // y = 100 + t (trend) + s[t%3] with s = (+2, -1, -1): period 3, 12 points
    val sPat = Seq(2.0, -1.0, -1.0)
    val df = (0 until 12).map(i => (1L, i.toLong * 86400, 100.0 + i + sPat(i % 3)))
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val out = Features.seasonalDecompose(df, Seq("k"), "ts", "v", period = 3)
      .orderBy("t").collect()
    val trendIx = out(0).fieldIndex("trend")
    val seasIx = out(0).fieldIndex("seasonal")
    val remIx = out(0).fieldIndex("remainder")
    // interior trend = centered 3-MA of linear+zero-mean-seasonal = 100 + t
    (1 to 10).foreach { i =>
      assert(approxEq(out(i).getDouble(trendIx), 100.0 + i), s"trend at $i")
    }
    assert(out(0).isNullAt(trendIx) && out(11).isNullAt(trendIx), "edges null")
    // seasonal recovers the planted pattern (centered); remainder ~ 0
    (1 to 10).foreach { i =>
      assert(approxEq(out(i).getDouble(seasIx), sPat(i % 3), 1e-9), s"seasonal at $i")
      assert(math.abs(out(i).getDouble(remIx)) < 1e-9, s"remainder at $i")
    }
    intercept[IllegalArgumentException] {
      Features.seasonalDecompose(df, Seq("k"), "ts", "v", period = 4) // even
    }
  }

  test("seasonalDecomposeExact: agrees with double path; bit-stable under repartition") {
    // same planted series as above, carried as integer cents
    val sPat = Seq(2.0, -1.0, -1.0)
    val rnd = new scala.util.Random(42)
    val rows = (0 until 60).flatMap { i =>
      Seq(1L, 2L).map { k =>
        val v = 100.0 + i + sPat(i % 3) + rnd.nextInt(200) / 100.0
        (k, i.toLong * 86400, math.round(v * 100), v)
      }
    }
    val df = rows.toDF("k", "t", "vc", "v")
      .withColumn("ts", timestamp_seconds(col("t")))
    val exact = Features.seasonalDecomposeExact(df, Seq("k"), "ts", "vc", period = 3)
      .orderBy("k", "t").collect()
    val dbl = Features.seasonalDecompose(df, Seq("k"), "ts", "v", period = 3)
      .orderBy("k", "t").collect()
    // numerically equivalent to the generic double path (1e-9: the double
    // path's own accumulation error bound at this size)
    exact.zip(dbl).foreach { case (e, d) =>
      Seq("trend", "seasonal", "remainder").foreach { c =>
        val ei = e.fieldIndex(c); val di = d.fieldIndex(c)
        assert(e.isNullAt(ei) == d.isNullAt(di), s"$c nullity")
        if (!e.isNullAt(ei))
          assert(math.abs(e.getDouble(ei) - d.getDouble(di)) < 1e-9, s"$c value")
      }
    }
    // order-independence: a different physical layout (repartition + extra
    // shuffle pressure) must produce BIT-identical doubles, not just close
    val shuffled = Features.seasonalDecomposeExact(
        df.repartition(13, col("t")), Seq("k"), "ts", "vc", period = 3)
      .orderBy("k", "t").collect()
    exact.zip(shuffled).foreach { case (a, b) =>
      Seq("y", "trend", "seasonal", "remainder").foreach { c =>
        val ia = a.fieldIndex(c); val ib = b.fieldIndex(c)
        assert(a.isNullAt(ia) == b.isNullAt(ib), s"$c nullity under shuffle")
        if (!a.isNullAt(ia))
          assert(java.lang.Double.doubleToLongBits(a.getDouble(ia)) ==
            java.lang.Double.doubleToLongBits(b.getDouble(ib)),
            s"$c not bit-identical under repartition")
      }
    }
  }

  test("seasonalFill: nulls take the last SAME-PHASE value, not the previous row") {
    import graft.operators.GapFill
    // period 2: phases alternate A B A B; nulls at idx 4 (phase A) and 5 (B)
    val df = Seq(Some(10.0), Some(20.0), Some(11.0), Some(21.0), None, None,
      Some(12.0), None)
      .zipWithIndex.map { case (v, i) => (1L, i.toLong * 60, v) }
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val out = GapFill.seasonalFill(df, Seq("k"), "ts", Seq("v"),
      periodSeconds = 120L).orderBy("t").collect()
    val ix = out(0).fieldIndex("v")
    // idx 4 (phase A) ← 11 (idx 2), NOT 21 (previous row, phase B)
    assert(out(4).getDouble(ix) == 11.0)
    // idx 5 (phase B) ← 21 (idx 3)
    assert(out(5).getDouble(ix) == 21.0)
    // idx 7 (phase B) still ← 21; idx 6 is untouched non-null
    assert(out(7).getDouble(ix) == 21.0 && out(6).getDouble(ix) == 12.0)
    // a LEADING null with no same-phase predecessor stays null
    val lead = Seq(None, Some(5.0), Some(6.0)).zipWithIndex
      .map { case (v, i) => (1L, i.toLong * 60, v: Option[Double]) }
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val lo = GapFill.seasonalFill(lead, Seq("k"), "ts", Seq("v"), 120L)
      .orderBy("t").collect()
    assert(lo(0).isNullAt(lo(0).fieldIndex("v")))
  }

  test("streaks: runs numbered and length-counted, false rows null") {
    // T T F T T T F F T  → runs of length 2, 3, 1
    val flags = Seq(true, true, false, true, true, true, false, false, true)
    val df = flags.zipWithIndex.map { case (f, i) =>
      (1L, i.toLong * 60, if (f) 100.0 else 1.0) }
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val out = Features.streaks(df, Seq("k"), "ts", col("v") > 50.0)
      .orderBy("t").collect()
    val lenIx = out(0).fieldIndex("streak_len")
    val idIx = out(0).fieldIndex("streak_id")
    val lens = out.map(r => if (r.isNullAt(lenIx)) -1L else r.getLong(lenIx)).toSeq
    assert(lens == Seq(1L, 2L, -1L, 1L, 2L, 3L, -1L, -1L, 1L))
    // ids: constant within a run, distinct across runs, null on false rows
    val ids = out.map(r => if (r.isNullAt(idIx)) None else Some(r.getLong(idIx))).toSeq
    assert(ids(0) == ids(1) && ids(3) == ids(4) && ids(4) == ids(5))
    assert(ids(0) != ids(3) && ids(3) != ids(8) && ids(2).isEmpty && ids(7).isEmpty)
  }

  test("yeoJohnson: hand goldens on both branches, special lambdas, round-trip") {
    val df = Seq(3.0, -3.0, 0.0, 7.5, -0.25).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("i", "x")
    def run(lam: Double) = {
      val p = Scalers.YeoJohnsonParams("x", lam)
      df.withColumn("y", p(col("x"))).withColumn("back", p.inverse(col("y")))
        .orderBy("i").collect()
        .map(r => (r.getDouble(r.fieldIndex("y")), r.getDouble(r.fieldIndex("back"))))
    }
    val h = run(0.5)
    assert(math.abs(h(0)._1 - 2.0) < 1e-12)            // ((3+1)^.5−1)/.5
    assert(math.abs(h(1)._1 - (-(7.0) / 1.5)) < 1e-12) // −((4)^1.5−1)/1.5
    assert(h(2)._1 == 0.0)
    h.zip(Seq(3.0, -3.0, 0.0, 7.5, -0.25)).foreach { case ((_, back), x) =>
      assert(math.abs(back - x) < 1e-9, s"round trip at $x") }
    // λ=0: ln(x+1) on the positive side; λ=2: −ln(1−x) on the negative side
    val l0 = run(0.0)
    assert(math.abs(l0(0)._1 - math.log(4.0)) < 1e-12)
    val l2 = run(2.0)
    assert(math.abs(l2(1)._1 - (-math.log(4.0))) < 1e-12)
    Seq(l0, l2).foreach(_.zip(Seq(3.0, -3.0, 0.0, 7.5, -0.25)).foreach {
      case ((_, back), x) => assert(math.abs(back - x) < 1e-9) })
  }

  test("crossCorrelation: delayed copy peaks at exactly the delay lag") {
    val rnd = new scala.util.Random(5)
    val xs = (0 until 60).map(_ => rnd.nextDouble() * 10)
    val df = xs.zipWithIndex.map { case (x, i) =>
      (1L, i.toLong * 60, x, if (i >= 3) xs(i - 3) else Double.NaN) }
      .toDF("k", "t", "x", "y")
      .withColumn("ts", timestamp_seconds(col("t")))
      .withColumn("y", when(isnan(col("y")), lit(null)).otherwise(col("y")))
    val out = Features.crossCorrelation(df, Seq("k"), "ts", "x", "y",
      lags = Seq(-3, -1, 0, 1))
      .collect().map(r => r.getInt(r.fieldIndex("lag")) ->
        r.getDouble(r.fieldIndex("ccf"))).toMap
    // y_t = x_{t-3}: ccf(l) = corr(x_t, y_{t-l}) hits 1 at l = −3
    assert(math.abs(out(-3) - 1.0) < 1e-12)
    assert(out(-1) < 0.5 && out(0) < 0.5 && out(1) < 0.5, s"off-peak lags small: $out")
  }

  test("periodogram: planted period-7 sine dominates its bin; flat series ~0") {
    val df = (0 until 56).map(i => (1L, i.toLong * 86400,
      10.0 + 5.0 * math.sin(2 * math.Pi * i / 7.0)))
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val out = Features.periodogram(df, Seq("k"), "ts", "v", Seq(2, 3, 7, 14))
      .collect().map(r => r.getInt(r.fieldIndex("period")) ->
        r.getDouble(r.fieldIndex("power"))).toMap
    // 8 full cycles of period 7: its bin carries (n/2·A)² = (28·5)² of power
    assert(out(7) > 100 * out(2) && out(7) > 100 * out(3) && out(7) > 100 * out(14))
    assert(math.abs(out(7) - 140.0 * 140.0) < 1e-6)
    // constant series: centered to zero → all bins zero
    val flat = (0 until 20).map(i => (1L, i.toLong * 86400, 4.2))
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val fo = Features.periodogram(flat, Seq("k"), "ts", "v", Seq(2, 7))
      .collect().map(r => r.getDouble(r.fieldIndex("power")))
    fo.foreach(p => assert(p < 1e-18))
  }

  test("spectralFlatness: planted sine near 0, white-ish alternation near 1") {
    // period-7 sine: almost all candidate power in one bin -> flatness ~ 0
    val df = (0 until 56).map(i => (1L, i.toLong * 86400,
      10.0 + 5.0 * math.sin(2 * math.Pi * i / 7.0)))
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val f = Features.spectralFlatness(df, Seq("k"), "ts", "v", Seq(2, 3, 7, 14))
      .collect()(0).getAs[Double]("flatness")
    assert(f < 0.05, s"concentrated spectrum should be near 0, got $f")
    // two equal-power bins -> flatness ~ 1 (geometric = arithmetic mean):
    // equal-amplitude period-4 and period-8 sines (neither aliases at
    // integer sampling), 32 samples = full cycles of both
    val eq = (0 until 32).map(i => (1L, i.toLong * 86400,
      math.sin(2 * math.Pi * i / 4.0 + 0.3) + math.sin(2 * math.Pi * i / 8.0 + 0.3)))
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val fe = Features.spectralFlatness(eq, Seq("k"), "ts", "v", Seq(4, 8))
      .collect()(0).getAs[Double]("flatness")
    assert(fe > 0.95, s"two equal bins should be ~1, got $fe")
  }

  test("baxterKing: annihilates constants+trend, passes in-band sine") {
    // weights sum to zero -> a pure linear trend filters to ~0
    val trend = (0 until 60).map(i => (i.toLong * 86400, 5.0 + 2.0 * i))
      .toDF("t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val z = Features.baxterKing(trend, "ts", "v", 6, 32, 12)
      .collect().map(_.getAs[Double]("cycle"))
    assert(z.length === 60 - 24)
    z.foreach(c => assert(math.abs(c) < 1e-9, s"trend should filter to 0: $c"))
    // a period-12 sine (inside the 6..32 band) passes with gain ~1
    val sine = (0 until 96).map(i =>
      (i.toLong * 86400, math.sin(2 * math.Pi * i / 12.0)))
      .toDF("t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val s = Features.baxterKing(sine, "ts", "v", 6, 32, 12)
      .collect().map(_.getAs[Double]("cycle"))
    val inAmp = s.map(math.abs).max
    assert(inAmp > 0.85 && inAmp < 1.15, s"in-band gain should be ~1: $inAmp")
  }

  test("decompStrength: planted trend/seasonal score ≈1, noise-only ≈0") {
    // strong seasonal (period 3) + linear trend, zero remainder → both ≈ 1
    val sPat = Seq(2.0, -1.0, -1.0)
    val clean = (0 until 15).map(i => (1L, i.toLong * 86400, 0.5 * i + sPat(i % 3)))
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val c = Features.decompStrength(clean, Seq("k"), "ts", "v", period = 3)
      .collect()(0)
    assert(c.getDouble(c.fieldIndex("trend_strength")) > 0.95)
    assert(c.getDouble(c.fieldIndex("seasonal_strength")) > 0.95)
    // structureless noise: flat level, no seasonality → both near 0
    val rnd = new scala.util.Random(7)
    val noise = (0 until 30).map(i => (1L, i.toLong * 86400, rnd.nextDouble()))
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val nrow = Features.decompStrength(noise, Seq("k"), "ts", "v", period = 3)
      .collect()(0)
    assert(nrow.getDouble(nrow.fieldIndex("seasonal_strength")) < 0.5)
  }

  test("rolling corr: ±1 on exact linear relations, null on constant windows") {
    val df = (0 until 10).map { i =>
      val x = (i * i % 7).toDouble // non-monotonic
      (1L, i.toLong * 86400, x, 3.0 * x + 1.0, -2.0 * x + 5.0, 4.2)
    }.toDF("k", "t", "x", "ypos", "yneg", "yconst")
      .withColumn("ts", timestamp_seconds(col("t")))
    def corrOf(y: String) =
      Features.rollingCorr(df, Seq("k"), "ts", "x", y, winRows = 4)
        .orderBy("t").collect()
    val pos = corrOf("ypos"); val neg = corrOf("yneg"); val cst = corrOf("yconst")
    val ix = pos(0).fieldIndex("rolling_corr")
    (0 to 2).foreach(i => assert(pos(i).isNullAt(ix), "partial windows null"))
    (3 until 10).foreach { i =>
      assert(approxEq(pos(i).getDouble(ix), 1.0, 1e-9), s"+1 at $i")
      assert(approxEq(neg(i).getDouble(ix), -1.0, 1e-9), s"-1 at $i")
      assert(cst(i).isNullAt(ix), s"constant y → null at $i")
    }
  }

  test("counterRate: resets use the restarted value; series head contributes nothing") {
    // counter per key: 10,20,5,8,3 — resets at 5 (after 20) and 3 (after 8)
    val df = Seq(
      (1L, 0L, 10.0), (1L, 60L, 20.0), (1L, 120L, 5.0),
      (1L, 3660L, 8.0), (1L, 3720L, 3.0),
      (2L, 0L, 100.0)) // lone first sample: null delta, null increase
      .toDF("k", "t", "counter")
      .withColumn("ts", timestamp_seconds(col("t"))).withColumn("i", col("t"))
    val out = Features.counterRate(df, Seq("k"), "ts", "i", "counter", 3600L)
      .orderBy("k", "bucket_start").collect()
    val inc = out(0).fieldIndex("increase")
    // bucket 0 of key 1: deltas null(head), +10, reset→5 ⇒ increase 15, 1 reset
    assert(out(0).getDouble(inc) == 15.0)
    assert(out(0).getLong(out(0).fieldIndex("n_deltas")) == 2L)
    assert(out(0).getLong(out(0).fieldIndex("n_resets")) == 1L)
    // bucket 3600: delta crosses the bucket boundary (8-5=3), then reset→3
    assert(out(1).getDouble(inc) == 6.0)
    assert(out(1).getLong(out(1).fieldIndex("n_resets")) == 1L)
    assert(math.abs(out(1).getDouble(out(1).fieldIndex("rate")) - 6.0 / 3600.0) < 1e-12)
    // key 2: only the head sample → sum of no deltas = null
    assert(out(2).isNullAt(inc) && out(2).getLong(out(2).fieldIndex("n_deltas")) == 0L)
  }

  test("rollingBeta: exact slope on a linear relation, gates on window fill and degenerate x") {
    // y = 3x + 1 exactly: every full window's beta is exactly 3
    val rows = (1 to 10).map(i => ("a", ts(f"2020-01-$i%02d"), i.toDouble, 3.0 * i + 1))
      .toDF("k", "ts", "x", "y")
    val out = Features.rollingBeta(rows, Seq("k"), "ts", "x", "y", winRows = 4)
      .orderBy("ts").collect()
    assert(out.take(3).forall(_.isNullAt(out(0).fieldIndex("rolling_beta"))))
    assert(out.drop(3).forall(r =>
      math.abs(r.getDouble(r.fieldIndex("rolling_beta")) - 3.0) < 1e-9))
    // constant x inside the window: zero variance -> null
    val const = (1 to 5).map(i => ("a", ts(f"2020-01-0$i"), 2.0, i.toDouble))
      .toDF("k", "ts", "x", "y")
    val c = Features.rollingBeta(const, Seq("k"), "ts", "x", "y", winRows = 4)
      .orderBy("ts").collect()
    assert(c.forall(_.isNullAt(c(0).fieldIndex("rolling_beta"))))
  }

  test("spearman: monotone=1 under nonlinearity, reversed=-1, tie average ranks, constant null") {
    import graft.operators.Features
    // y = exp(x): nonlinear but perfectly monotone -> rho exactly 1
    val mono = (1 to 6).map(i => (1L, i.toDouble, math.exp(i))).toDF("k", "x", "y")
    val r1 = Features.spearman(mono, Seq("k"), "x", "y").collect()(0)
    assert(math.abs(r1.getDouble(r1.fieldIndex("spearman_rho")) - 1.0) < 1e-12)
    val rev = (1 to 6).map(i => (1L, i.toDouble, -math.exp(i))).toDF("k", "x", "y")
    assert(math.abs(Features.spearman(rev, Seq("k"), "x", "y")
      .collect()(0).getDouble(1) + 1.0) < 1e-12)
    // tie case: x=[1,2,2,3] -> average ranks [1,2.5,2.5,4]; y=[1,2,3,4]
    // Pearson over ranks: cov 4.5, vars 4.5 and 5 -> rho = 4.5/sqrt(22.5)
    val tied = Seq((1L, 1.0, 1.0), (1L, 2.0, 2.0), (1L, 2.0, 3.0), (1L, 3.0, 4.0))
      .toDF("k", "x", "y")
    val rt = Features.spearman(tied, Seq("k"), "x", "y").collect()(0).getDouble(1)
    assert(math.abs(rt - 4.5 / math.sqrt(22.5)) < 1e-12)
    // constant x: zero rank variance -> null, not infinity
    val const = Seq((1L, 5.0, 1.0), (1L, 5.0, 2.0)).toDF("k", "x", "y")
    assert(Features.spearman(const, Seq("k"), "x", "y").collect()(0).isNullAt(1))
  }

  test("theilSen: outlier-immune slope, exact intercept, single-point key dropped") {
    // y = x for days 1..9, then a wild outlier: 36 of 45 pairwise slopes
    // are exactly 1 -> median slope 1, intercept median(y - x) = 0
    val rows = (1 to 9).map(i => ("a", ts(f"2020-01-0$i"), i.toDouble)) :+
      (("a", ts("2020-01-10"), 1000.0))
    val out = Features.theilSen(rows.toDF("k", "ts", "v"), Seq("k"), "ts", "v")
      .collect()(0)
    assert(out.getDouble(out.fieldIndex("ts_slope")) == 1.0)
    assert(out.getDouble(out.fieldIndex("ts_intercept")) == 1.0) // y-x = 1 for the 9 clean points (x starts at 0)
    assert(out.getLong(out.fieldIndex("n_pairs")) == 45L)
    // OLS on the same data is dragged far off 1 by the outlier
    val ols = Features.rollingSlope(rows.toDF("k", "ts", "v"), Seq("k"), "ts", "v",
      winRows = 10).orderBy(col("ts").desc).limit(1)
      .select("rolling_slope").collect()(0).getDouble(0)
    assert(math.abs(ols - 1.0) > 10)
    // a key with one point has no pairs and emits nothing
    val single = Seq(("b", ts("2020-01-01"), 5.0)).toDF("k", "ts", "v")
    assert(Features.theilSen(single, Seq("k"), "ts", "v").isEmpty)
  }

  test("rollingSlope: exact on linear series, null gates, centering invariance") {
    // y = 3.5 * day + 7 → slope exactly 3.5 everywhere once the window fills
    val lin = (0 until 10).map(i => (1L, i.toLong * 86400, 3.5 * i + 7.0))
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val out = Features.rollingSlope(lin, Seq("k"), "ts", "v", winRows = 4)
      .orderBy("t").collect()
    val ix = out(0).fieldIndex("rolling_slope")
    (0 to 2).foreach(i => assert(out(i).isNullAt(ix), "partial windows null"))
    (3 until 10).foreach(i => assert(approxEq(out(i).getDouble(ix), 3.5, 1e-9)))
    // shifting the key's epoch by years must not change the slope (centering)
    val shifted = lin.withColumn("ts", timestamp_seconds(col("t") + 1500000000L))
    val out2 = Features.rollingSlope(shifted, Seq("k"), "ts", "v", winRows = 4)
      .orderBy("t").collect()
    (3 until 10).foreach(i => assert(approxEq(out2(i).getDouble(ix), 3.5, 1e-9)))
  }

  test("rollingPercentRank: hand ranks, gate before fill, max/min extremes") {
    val vs = Seq(5.0, 3.0, 8.0, 8.0, 1.0, 9.0)
    val df = vs.zipWithIndex.map { case (v, i) => (1L, i.toLong * 60, v) }
      .toDF("k", "t", "v").withColumn("ts", timestamp_seconds(col("t")))
    val out = Features.rollingPercentRank(df, Seq("k"), "ts", "v", winRows = 3)
      .orderBy("t").collect()
    val ix = out(0).fieldIndex("rolling_pct_rank")
    assert(out(0).isNullAt(ix) && out(1).isNullAt(ix), "partial windows null")
    // windows: [5,3,8]→8 ranks 3/3; [3,8,8]→8 ties count both → 3/3;
    // [8,8,1]→1 ranks 1/3; [8,1,9]→9 ranks 3/3
    assert(out(2).getDouble(ix) == 1.0)
    assert(out(3).getDouble(ix) == 1.0)
    assert(out(4).getDouble(ix) == 1.0 / 3)
    assert(out(5).getDouble(ix) == 1.0)
  }

  test("m4Downsample: ≤4 rows per bucket, spike preserved, earliest-tie roles") {
    val df = ((0 until 20).map(i => (1L, i.toLong * 60, 5.0)) :+ // flat ties
      ((1L, 21L * 60, 99.0)) :+ ((1L, 22L * 60, -7.0)))          // spike + dip
      .toDF("k", "t", "v")
      .withColumn("ts", timestamp_seconds(col("t"))).withColumn("i", col("t"))
    val out = Features.m4Downsample(df, Seq("k"), "ts", "i", "v", 86400L)
      .orderBy("t").collect()
    assert(out.length <= 4 && out.length >= 3)
    val roles = out.flatMap(_.getSeq[String](out(0).fieldIndex("roles")))
    assert(roles.sorted.toSeq == Seq("first", "last", "max", "min"))
    // min role goes to the dip row, max to the spike; first is t=0 (earliest
    // of the 20 tied 5.0 rows is NOT min — the dip is strictly lower)
    val byRole = out.flatMap(r =>
      r.getSeq[String](r.fieldIndex("roles")).map(_ -> r.getLong(r.fieldIndex("t")))).toMap
    assert(byRole("first") == 0L && byRole("min") == 22L * 60 &&
      byRole("max") == 21L * 60 && byRole("last") == 22L * 60)
  }

  test("lttb: passthrough under threshold; endpoints + spike kept; shape sane") {
    import graft.operators.Lttb
    // passthrough: n <= t returns every point
    val small = (0 until 5).map(i => ("k", i.toLong, i.toDouble)).toDF("k", "x", "y")
    assert(Lttb.downsample(small, Seq("k"), "x", "y", 8).count() == 5)

    // flat series with one spike: the spike MUST be among the 12 selected
    val rnd = new scala.util.Random(3L)
    val vals = (0 until 200).map(i =>
      ("k", i.toLong, if (i == 137) 500.0 else rnd.nextInt(5).toDouble))
    val out = Lttb.downsample(vals.toDF("k", "x", "y"), Seq("k"), "x", "y", 12)
      .orderBy("x").collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(out.length == 12)
    assert(out.head._1 == 0L && out.last._1 == 199L) // endpoints always kept
    assert(out.map(_._1).sliding(2).forall(p => p(0) < p(1))) // time order
    assert(out.exists(_._1 == 137L), s"spike lost: ${out.mkString(",")}")
  }

  test("cv folds match sklearn TimeSeriesSplit arithmetic") {
    val daily = (1 to 10).map(i => ("h", ts(f"2020-01-$i%02d"), i.toDouble)).toDF("host", "day", "v")
    val folds = CrossVal.timeSeriesSplits(daily, "day", nSplits = 2, gap = 1)
    // n=10, testSize=3: fold0 test [4..6] (0-based), train end idx 2 (gap 1); fold1 test [7..9]
    assert(folds(0).testStart == ts("2020-01-05") && folds(0).testEnd == ts("2020-01-07"))
    assert(folds(0).trainEnd == ts("2020-01-03"))
    assert(folds(1).testStart == ts("2020-01-08") && folds(1).trainEnd == ts("2020-01-06"))
  }

  test("pacf: lag 1 equals acf lag 1; lag 2 matches the Durbin-Levinson rational of the acf values") {
    val series = Seq(1.0, 3.0, 2.0, 5.0, 4.0, 7.0, 6.0, 9.0, 8.0, 11.0)
    val df = series.zipWithIndex
      .map { case (v, i) => ("h", ts(f"2020-01-${i + 1}%02d"), v) }
      .toDF("host", "day", "v")
    val rho = Features.acf(df, Seq("host"), "day", "v", lags = Seq(1, 2))
      .collect().map(r => r.getAs[Int]("lag") -> r.getAs[Double]("acf")).toMap
    val pacf = Features.pacf(df, Seq("host"), "day", "v", maxLag = 2)
      .collect().map(r => r.getAs[Int]("lag") -> r.getAs[Double]("pacf")).toMap
    assert(approxEq(pacf(1), rho(1)))
    assert(approxEq(pacf(2),
      (rho(2) - rho(1) * rho(1)) / (1.0 - rho(1) * rho(1))))
  }
}
