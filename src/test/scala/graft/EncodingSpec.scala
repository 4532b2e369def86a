package graft

import org.apache.spark.sql.functions._
import graft.operators.{Encoding, Ewma, Forecast, Lttb}
import graft.functions.FingerprintExpr

/** Ordinal dictionary encode/decode (operators.Encoding) + the construction
  * guards for series-fold length and FingerprintExpr parameters.
  */
class EncodingSpec extends SparkSuite {
  import spark.implicits._

  test("fitOrdinal == single-task window formulation; parallel across partitions") {
    // enough distinct values spread over several partitions that the
    // zipWithIndex path actually crosses partition boundaries
    val df = (0 until 1000).map(i => (i.toLong, f"cat_${(i * 37) % 200}%03d"))
      .toDF("id", "c").repartition(7)
    val dict = Encoding.fitOrdinal(df, "c").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = (0 until 200).map(v => f"cat_$v%03d").sorted.zipWithIndex
      .map { case (v, i) => v -> i.toLong }.toMap
    assert(dict === expected)
  }

  test("fitOrdinal excludes nulls; encode leaves unseen/null codes null") {
    val df = Seq(Some("b"), Some("a"), None, Some("b")).toDF("c")
    val dict = Encoding.fitOrdinal(df, "c")
    assert(dict.collect().map(r => (r.getString(0), r.getLong(1))).sorted
      === Array(("a", 0L), ("b", 1L)))
    val enc = Encoding.encodeOrdinal(df, "c", dict).collect()
    assert(enc.filter(_.isNullAt(0)).forall(_.isNullAt(1)))
  }

  test("encode -> decode round-trips every row") {
    val df = Seq("x", "y", "z", "x", "y").toDF("c")
    val dict = Encoding.fitOrdinal(df, "c")
    val enc = Encoding.encodeOrdinal(df, "c", dict)
    val dec = Encoding.decodeOrdinal(enc, "c_code", "c", dict)
    assert(dec.filter(col("c") =!= col("c_code_decoded")).count() === 0)
  }

  test("frequency encoding: shares from fit frame; unseen -> 0; null excluded from fit") {
    val fit = Seq(Some("a"), Some("a"), Some("b"), None).toDF("c")
    val dict = Encoding.fitFrequency(fit, "c").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(dict == Map("a" -> 2.0 / 3, "b" -> 1.0 / 3)) // null row not in denominator
    val apply = Seq("a", "zz").toDF("c")
    val enc = Encoding.encodeFrequency(apply, "c", dict = Encoding.fitFrequency(fit, "c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(enc("a") == 2.0 / 3 && enc("zz") == 0.0)
  }

  test("target encoding: smoothing toward prior; unseen category gets the prior") {
    val train = Seq(("a", 10.0), ("a", 20.0), ("b", 100.0)).toDF("c", "y")
    val prior = Encoding.fitTargetPrior(train, "y")
    assert(math.abs(prior - 130.0 / 3) < 1e-12)
    val m = 2.0
    val dict = Encoding.fitTarget(train, "c", "y", m, prior)
    val enc = Encoding.encodeTarget(Seq("a", "b", "new").toDF("c"), "c", dict, prior)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(enc("a") - (30.0 + m * prior) / (2 + m)) < 1e-12)
    assert(math.abs(enc("b") - (100.0 + m * prior) / (1 + m)) < 1e-12)
    assert(math.abs(enc("new") - prior) < 1e-12) // unseen -> prior, never null
    // m = 0 degenerates to the raw category mean (the leaky encoding)
    val raw = Encoding.encodeTarget(Seq("b").toDF("c"), "c",
      Encoding.fitTarget(train, "c", "y", 0.0, prior), prior).head().getDouble(1)
    assert(math.abs(raw - 100.0) < 1e-12)
  }

  test("EWMA fails fast with a diagnostic when a series exceeds maxSeriesPoints") {
    val prev = Ewma.maxSeriesPoints
    Ewma.maxSeriesPoints = 10
    try {
      val df = (0 until 50).map(i => ("s", new java.sql.Timestamp(i * 60000L), i.toDouble))
        .toDF("k", "ts", "v")
      // Spark wraps the UDF's IllegalArgumentException; the diagnostic survives
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      // every series fold reads the one bound: EWMA, a fold forecaster, LTTB
      val folds = Seq[(String, () => Any)](
        "ewma" -> (() => Ewma.ewmaSeriesFrame(df, Seq("k"), "ts", "v", Seq(3.0)).count()),
        "holt" -> (() => Forecast.holt(df, Seq("k"), "ts", "v", 0.5, 0.5, 3, 60L).collect()),
        "lttb" -> (() => Lttb.downsample(df, Seq("k"), "ts", "v", 5).collect()))
      folds.foreach { case (name, run) =>
        val ex = intercept[Exception](run())
        assert(messages(ex).exists(_.contains("maxSeriesPoints")), name)
      }
    } finally Ewma.maxSeriesPoints = prev
  }

  test("FingerprintExpr rejects k < 1 and n < 1 at construction") {
    intercept[IllegalArgumentException] { FingerprintExpr(col("t"), k = 0, n = 8) }
    intercept[IllegalArgumentException] { FingerprintExpr(col("t"), k = -1, n = 8) }
    intercept[IllegalArgumentException] { FingerprintExpr(col("t"), k = 4, n = 0) }
  }
}
