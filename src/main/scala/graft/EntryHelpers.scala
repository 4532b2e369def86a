package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One per-range part of the split SparkEntry query/oracle surface. */
private[graft] trait EntryPart {
  def queries: Seq[(String, (SparkSession, String) => DataFrame)]
  def oracles: Seq[(String, String)]
}

/** Shared table readers, cross-engine rounding helpers, and the
  * parameterized oracle-SQL builders used by the EntriesQ* parts (moved
  * verbatim from the former monolithic SparkEntry).
  */
private[graft] object EntryHelpers {


  def ev(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
  def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  def li(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")

  /** The per-user 1m tier of an events frame: `Rollup`'s tier-1 aggregate
    * with `value` as the measure and `event_type` as the distinct-counted
    * attribute (its `lang_set`).
    */
  def userTier1m(events: DataFrame): DataFrame =
    graft.operators.Rollup.tier1mOfPoints(events.select(col("user_id"),
      unix_timestamp(col("ts")).as("ts_sec"), col("value").as("text_len"),
      col("event_type").as("lang")), Seq("user_id"))

  /** Registers the one TierRoute over `dir`'s events table and returns its
    * tier path: [[userTier1m]] of the events, written to a fresh
    * [[routeTierDir]]. `value` is the measure (never null in the events
    * table), the tier's blocks serve exact p50/p95 and its `lang_set`
    * serves `count(DISTINCT event_type)`. Calling it again rebuilds the
    * tier and replaces the route.
    */
  def routeEvents(s: SparkSession, dir: String): String = {
    import graft.plans.TierRoute
    val route = s"events_1m_$dir"
    val tierPath = routeTierDir(route)
    val raw = ev(s, dir)
    userTier1m(raw).write.mode("overwrite").parquet(tierPath)
    TierRoute.register(TierRoute.Route(
      name = route, raw = raw, tierSeconds = 60L,
      tier = () => s.read.parquet(tierPath),
      groupCols = Seq("user_id"), tsCol = "ts",
      measure = TierRoute.AttrMeasure("value"), measureNonNull = true,
      distinctCol = Some("event_type")))
    tierPath
  }

  /** A fresh directory for the tier behind TierRoute `route`, so two runs,
    * in one JVM or in two over the same sf dir, never share its files. The
    * directory of the route's previous run is deleted here: registering the
    * route again replaces the only reader of it. The last one is deleted
    * when the JVM exits, since the route stays live for later queries.
    */
  private def routeTierDir(route: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_route_tier").toString
    routeTierDirs.put(route, dir).foreach(deleteDir)
    dir
  }

  private val routeTierDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def deleteDir(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  sys.addShutdownHook(routeTierDirs.values.foreach(deleteDir))

  /** Oracle-SQL sum of `terms`, folded left to right as `((a + b) + c)`:
    * the fixed order the engine's literal chains add in.
    */
  private def chain(terms: Seq[String]): String = terms.reduce((a, b) => s"($a + $b)")

  /** A double as a 17-significant-digit SQL literal, so both engines read
    * the same JVM double.
    */
  private def lit17(x: Double): String = "%.17g".format(x)

  /** Round to 6 dp, binary-faithfully (matches DuckDB's round-of-the-actual-
    * double). Spark's `round` goes through BigDecimal.valueOf(double) — the
    * SHORTEST decimal repr — so a value whose true binary form is
    * 8.00468749999… but prints as "8.0046875" rounds UP in Spark and DOWN in
    * DuckDB (observed at sf0.1). Multiply/floor on the double itself keeps
    * both engines identical; sign-split mirrors round-half-away-from-zero.
    */
  def r6(c: Column): Column =
    when(c.isNull, lit(null).cast("double"))
      .otherwise(signum(c) * floor(abs(c) * 1e6 + 0.5) / 1e6)

  def r2(c: Column): Column =
    when(c.isNull, lit(null).cast("double"))
      .otherwise(signum(c) * floor(abs(c) * 1e2 + 0.5) / 1e2)

  /** Deterministic non-regular link graph on the doc_id domain (q199–q205):
    * a cycle edge (bijective for every n → indegree ≥ 1 everywhere) plus a
    * quadratic and a halving map that skew in-degree. Outdegree exactly 3.
    */
  def docEdges(s: SparkSession, dir: String): (DataFrame, Long) = {
    val d = docs(s, dir).select(col("doc_id"))
    val n = d.count()
    val src = col("doc_id").cast("long").as("src")
    val edges = Seq(
      d.select(src, pmod(col("doc_id") + 1L, lit(n)).as("dst")),
      d.select(src, pmod(col("doc_id") * col("doc_id") + 3L, lit(n)).as("dst")),
      d.select(src, floor(col("doc_id") / 2L).cast("long").as("dst"))
    ).reduce(_.unionByName(_))
    (edges, n)
  }


  /** q430's oracle: the same 24-bin pivot + Fourier-1 folds as
    * [[graft.operators.StatTests.harmonicFit]], with every cos/sin
    * constant emitted as the 17-digit JVM double so both engines multiply
    * identical values.
    */
  def harmonicFitSql(period: Int): String = {
    val idx = 0 until period
    val pivDefs = idx.map(b =>
      s"coalesce(sum(CASE WHEN b = $b THEN m END), 0.0) AS m$b")
      .mkString(",\n    ")
    val mesor = chain(idx.map(b => s"m$b")) + s" / ${period.toDouble}"
    val ca = chain(idx.map(b =>
      s"m$b * ${lit17(math.cos(2.0 * math.Pi * b / period))}")) +
      s" * ${lit17(2.0 / period)}"
    val cb = chain(idx.map(b =>
      s"m$b * ${lit17(math.sin(2.0 * math.Pi * b / period))}")) +
      s" * ${lit17(2.0 / period)}"
    val msq = chain(idx.map(b => s"m$b * m$b")) + s" / ${period.toDouble}"
    s"""WITH hourly AS (SELECT hour(ts) AS b, date_trunc('day', ts) AS d,
       |    count(*)::DOUBLE AS cnt FROM events GROUP BY 1, 2),
       |perbin AS (SELECT b, avg(cnt) AS m, count(*) AS cr FROM hourly
       |  WHERE b BETWEEN 0 AND ${period - 1} GROUP BY 1),
       |piv AS (SELECT sum(cr)::BIGINT AS n, count(*)::BIGINT AS nb,
       |    $pivDefs FROM perbin),
       |f AS (SELECT n, nb, $mesor AS mesor, $ca AS ca, $cb AS cb,
       |    $msq AS msq FROM piv),
       |g AS (SELECT n, nb, mesor, ca, cb, msq - mesor*mesor AS varb FROM f)
       |SELECT n, round(CASE WHEN nb = $period THEN mesor END, 6) AS mesor,
       |  round(CASE WHEN nb = $period THEN sqrt(ca*ca + cb*cb) END, 6)
       |    AS amplitude,
       |  round(CASE WHEN nb = $period THEN atan2(cb, ca) END, 6) AS phase,
       |  round(CASE WHEN nb = $period AND varb > 0 THEN
       |    (ca*ca + cb*cb)/2.0/varb END, 6) AS var_explained
       |FROM g""".stripMargin
  }

  /** q403's oracle: ntile terciles on the identical (value, doc_id)
    * orderings, then [[graft.operators.StatTests.weightedKappa]]'s literal
    * 9-cell pivot with the same ascending-(i,j) ΣvO/ΣvE folds, generated.
    */
  def weightedKappaSql(k: Int): String = {
    val idx = 0 until k
    val cells = (for { i <- idx; j <- idx } yield
      s"sum(CASE WHEN ta = ${i + 1} AND tb = ${j + 1} THEN 1 ELSE 0 END) AS o_${i}_$j")
      .mkString(",\n    ")
    val margins = idx.flatMap { i =>
      Seq(chain(idx.map(j => s"o_${i}_$j")) + s" AS ra_$i",
        chain(idx.map(j => s"o_${j}_$i")) + s" AS cb_$i")
    }.mkString(",\n    ")
    val vO = chain(for { i <- idx; j <- idx if i != j } yield
      s"${math.abs(i - j).toDouble} * o_${i}_$j::DOUBLE")
    val vE = chain(for { i <- idx; j <- idx if i != j } yield
      s"${math.abs(i - j).toDouble} * ra_$i::DOUBLE * cb_$j::DOUBLE / n::DOUBLE")
    s"""WITH d AS (SELECT doc_id, n_chars,
       |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
       |      x -> x <> ''))::BIGINT AS n_tokens FROM documents),
       |t AS (SELECT ntile($k) OVER (ORDER BY n_chars, doc_id) AS ta,
       |    ntile($k) OVER (ORDER BY n_tokens, doc_id) AS tb FROM d),
       |piv AS (SELECT count(*)::BIGINT AS n,
       |    $cells FROM t),
       |mg AS (SELECT *,
       |    $margins FROM piv)
       |SELECT n, round(CASE WHEN n > 0 AND ($vE) > 0 THEN
       |  1.0 - ($vO) / ($vE) END, 6) AS kappa_w
       |FROM mg""".stripMargin
  }

  /** q386's oracle: the same md5-parity ±1 counters as
    * [[graft.operators.Sketch.amsF2]], generated with the engine's hash
    * parity contract and the identical fixed-order estimator fold.
    */
  def amsF2Sql(rows: Int): String = {
    val counters = (0 until rows).map { r =>
      s"sum(cnt * ((('0x' || substr(md5('$r:' || term), 1, 15))::BIGINT % 2) * 2 - 1)) AS c$r"
    }.mkString(",\n    ")
    val est = chain((0 until rows).map(r => s"c$r::DOUBLE * c$r::DOUBLE")) +
      s" / ${rows.toDouble}"
    s"""WITH tf AS (SELECT term, count(*) AS cnt FROM (
       |    SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)),
       |      '\\s+'), x -> x <> '')) AS term FROM documents) GROUP BY 1),
       |a AS (SELECT count(*)::BIGINT AS n_items,
       |    sum(cnt*cnt)::BIGINT AS f2_exact,
       |    $counters FROM tf),
       |e AS (SELECT n_items, f2_exact, $est AS est FROM a)
       |SELECT n_items, f2_exact, round(est, 6) AS f2_est,
       |  round(abs(est - f2_exact::DOUBLE)/f2_exact::DOUBLE, 6) AS rel_err
       |FROM e""".stripMargin
  }

  /** q391's oracle: [[graft.operators.StatTests.bartlett]]'s moment pivot
    * with the identical fixed-order Σ(nᵢ−1)Sᵢ² / Σln / Σ1/(nᵢ−1) folds.
    */
  def bartlettSql(arms: Seq[String]): String = {
    val idx = arms.indices
    val k = arms.size
    val pivDefs = (Seq("count(*) AS n") ++ idx.flatMap { i =>
      Seq(
        s"sum(CASE WHEN event_type = '${arms(i)}' THEN 1 ELSE 0 END) AS n$i",
        s"sum(CASE WHEN event_type = '${arms(i)}' THEN cnt::DOUBLE ELSE 0.0 END) AS s$i",
        s"sum(CASE WHEN event_type = '${arms(i)}' THEN cnt::DOUBLE*cnt::DOUBLE ELSE 0.0 END) AS q$i")
    }).mkString(",\n    ")
    def s2(i: Int) = s"((q$i - s$i*s$i/n$i::DOUBLE)/(n$i::DOUBLE - 1))"
    val sp2 = chain(idx.map(i => s"(n$i::DOUBLE - 1) * ${s2(i)}")) +
      s" / (n::DOUBLE - $k.0)"
    val num = s"(n::DOUBLE - $k.0) * ln($sp2) - " +
      chain(idx.map(i => s"(n$i::DOUBLE - 1) * ln(${s2(i)})"))
    val cFac = s"1.0 + (${chain(idx.map(i => s"1.0/(n$i::DOUBLE - 1)"))}" +
      s" - 1.0/(n::DOUBLE - $k.0)) / ${3.0 * (k - 1)}"
    val ok = idx.map(i => s"n$i >= 2").mkString(" AND ") + " AND " +
      idx.map(i => s"${s2(i)} > 0").mkString(" AND ")
    s"""WITH daily AS (SELECT event_type, date_trunc('day', ts) AS d,
       |    count(*) AS cnt FROM events GROUP BY 1, 2),
       |piv AS (SELECT
       |    $pivDefs FROM daily)
       |SELECT n::BIGINT AS n,
       |  round(CASE WHEN $ok THEN ($num) / ($cFac) END, 6) AS chi2
       |FROM piv""".stripMargin
  }

  /** q380's oracle: the same bounded-node TextRank rounds as
    * [[graft.operators.TextAnalysis.textRank]], unrolled — bigrams from
    * PARALLEL unnests of shifted list slices (DuckDB's generate_series
    * rejects lateral column args), one vote+renormalize CTE pair per
    * round, damping constants emitted with the exact JVM doubles.
    */
  def textRankSql(topN: Int, iterations: Int, damping: Double): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH w AS (SELECT list_filter(regexp_split_to_array(trim(lower(text)),
         |    '\\s+'), x -> x <> '') AS ws FROM documents),
         |wnz AS (SELECT ws FROM w WHERE len(ws) > 0),
         |nf AS (SELECT term, count(*) AS freq FROM (
         |    SELECT unnest(ws) AS term FROM wnz) GROUP BY 1
         |  ORDER BY freq DESC, term LIMIT $topN),
         |bi AS (SELECT unnest(list_slice(ws, 1, len(ws) - 1)) AS a,
         |    unnest(list_slice(ws, 2, len(ws))) AS b
         |  FROM wnz WHERE len(ws) >= 2),
         |bf AS (SELECT least(a, b) AS x, greatest(a, b) AS y, count(*) AS w
         |  FROM bi WHERE a <> b AND a IN (SELECT term FROM nf)
         |    AND b IN (SELECT term FROM nf)
         |  GROUP BY 1, 2),
         |dir AS (SELECT x AS src, y AS dst, w FROM bf
         |  UNION ALL SELECT y, x, w FROM bf),
         |st AS (SELECT src, sum(w) AS wsrc FROM dir GROUP BY 1),
         |dd AS (SELECT d.src, d.dst, d.w, st.wsrc FROM dir d JOIN st USING (src)),
         |it0 AS (SELECT term, 1.0 AS s FROM nf)""".stripMargin)
    for (t <- 1 to iterations) {
      sb.append(s""",
        |v$t AS (SELECT dd.dst AS term,
        |    sum(dd.w::DOUBLE/dd.wsrc::DOUBLE * p.s) AS vin
        |  FROM dd JOIN it${t - 1} p ON dd.src = p.term GROUP BY 1),
        |it$t AS (SELECT nf.term,
        |    ${lit17(1.0 - damping)} + ${lit17(damping)} * coalesce(v$t.vin, 0.0) AS s
        |  FROM nf LEFT JOIN v$t USING (term))""".stripMargin)
    }
    sb.append(s"""
      |SELECT nf.term, nf.freq::BIGINT AS freq, round(it$iterations.s, 6) AS score
      |FROM nf JOIN it$iterations USING (term) ORDER BY 1""".stripMargin)
    sb.toString
  }

  /** q376's oracle: the [[graft.operators.StatTests.moodMedian]] explicit
    * lower-middle order statistic plus the 2×k χ² cells, generated so the
    * per-arm (above, not-above) terms fold in the identical ascending-arm
    * order.
    */
  def moodMedianSql(arms: Seq[String]): String = {
    val idx = arms.indices
    val aDefs = idx.flatMap { i =>
      Seq(
        s"sum(CASE WHEN arm = '${arms(i)}' AND v > (SELECT median FROM med) THEN 1 ELSE 0 END) AS a$i",
        s"sum(CASE WHEN arm = '${arms(i)}' THEN 1 ELSE 0 END) AS t$i")
    }.mkString(",\n    ")
    val aTot = chain(idx.map(i => s"a$i"))
    val terms = idx.map { i =>
      val ea = s"(t$i::DOUBLE * at::DOUBLE / n::DOUBLE)"
      val eb = s"(t$i::DOUBLE * (n - at)::DOUBLE / n::DOUBLE)"
      val oa = s"a$i::DOUBLE"
      val ob = s"(t$i - a$i)::DOUBLE"
      s"(($oa - $ea)*($oa - $ea)/$ea + ($ob - $eb)*($ob - $eb)/$eb)"
    }
    val ok = idx.map(i => s"t$i >= 1").mkString(" AND ") +
      " AND at > 0 AND at < n"
    s"""WITH daily AS (SELECT event_type, date_trunc('day', ts) AS d,
       |    count(*) AS cnt FROM events GROUP BY 1, 2),
       |b AS (SELECT event_type AS arm, cnt::DOUBLE AS v FROM daily),
       |r AS (SELECT arm, v, row_number() OVER (ORDER BY v, arm) AS rn,
       |    count(*) OVER () AS n FROM b),
       |med AS (SELECT v AS median FROM r
       |  WHERE rn = floor((n + 1)::DOUBLE/2.0)::BIGINT),
       |a AS (SELECT count(*)::BIGINT AS n,
       |    $aDefs FROM b),
       |c AS (SELECT *, $aTot AS at FROM a)
       |SELECT n, (SELECT median FROM med) AS median,
       |  round(CASE WHEN $ok THEN ${chain(terms)} END, 6) AS chi2
       |FROM c""".stripMargin
  }

  /** q377's oracle: the same k² literal pivot + fixed-order entropy folds
    * as [[graft.operators.StatTests.markovEntropyRate]], generated so the
    * summation structure is identical in both engines.
    */
  def markovEntropySql(states: Seq[String]): String = {
    val idx = states.indices
    val pivDefs = (for { i <- idx; j <- idx } yield
      s"sum(CASE WHEN f = '${states(i)}' AND t = '${states(j)}' THEN 1 ELSE 0 END) AS n_${i}_$j")
      .mkString(",\n    ")
    val niDefs = idx.map(i =>
      chain(idx.map(j => s"n_${i}_$j")) + s" AS ni_$i").mkString(",\n    ")
    val nTot = chain(idx.map(i => s"ni_$i"))
    val h = chain(idx.map { i =>
      val inner = chain(idx.map { j =>
        s"CASE WHEN n_${i}_$j > 0 THEN -(n_${i}_$j::DOUBLE/ni_$i::DOUBLE)" +
          s" * ln(n_${i}_$j::DOUBLE/ni_$i::DOUBLE) ELSE 0.0 END"
      })
      s"CASE WHEN ni_$i > 0 THEN (ni_$i::DOUBLE/($nTot)::DOUBLE) * ($inner) ELSE 0.0 END"
    })
    s"""WITH tr AS (SELECT event_type AS f,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
       |  FROM events WHERE event_type IS NOT NULL),
       |tt AS (SELECT f, t FROM tr WHERE t IS NOT NULL),
       |piv AS (SELECT
       |    $pivDefs FROM tt),
       |ni AS (SELECT *,
       |    $niDefs FROM piv),
       |hh AS (SELECT ($nTot)::BIGINT AS n_transitions, $h AS h FROM ni)
       |SELECT n_transitions, round(h, 6) AS entropy_rate,
       |  round(exp(h), 6) AS perplexity FROM hh""".stripMargin
  }

  /** q378's oracle: the [[graft.operators.StatTests.tukeyHsd]] moment
    * pivot and the k(k−1)/2 Tukey–Kramer pair rows, generated with the
    * identical fixed-order SSW fold.
    */
  def tukeyHsdSql(arms: Seq[String]): String = {
    val idx = arms.indices
    val k = arms.size
    val pivDefs = (Seq("count(*) AS n") ++ idx.flatMap { i =>
      Seq(
        s"sum(CASE WHEN event_type = '${arms(i)}' THEN 1 ELSE 0 END) AS n$i",
        s"sum(CASE WHEN event_type = '${arms(i)}' THEN cnt::DOUBLE ELSE 0.0 END) AS s$i",
        s"sum(CASE WHEN event_type = '${arms(i)}' THEN cnt::DOUBLE*cnt::DOUBLE ELSE 0.0 END) AS q$i")
    }).mkString(",\n    ")
    val ssw = chain(idx.map(i => s"(q$i - s$i*s$i/n$i::DOUBLE)"))
    val pairSelects = (for { i <- idx; j <- idx if i < j } yield
      s"""SELECT '${arms(i)}' AS arm_a, '${arms(j)}' AS arm_b,
         |  round(s$i/n$i::DOUBLE, 6) AS mean_a,
         |  round(s$j/n$j::DOUBLE, 6) AS mean_b,
         |  round(CASE WHEN n$i >= 1 AND n$j >= 1 AND n > $k AND msw > 0 THEN
         |    abs(s$i/n$i::DOUBLE - s$j/n$j::DOUBLE)
         |      / sqrt(msw/2.0 * (1.0/n$i::DOUBLE + 1.0/n$j::DOUBLE)) END, 6)
         |    AS q_stat FROM m""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    s"""WITH daily AS (SELECT event_type, date_trunc('day', ts) AS d,
       |    count(*) AS cnt FROM events GROUP BY 1, 2),
       |piv AS (SELECT
       |    $pivDefs FROM daily),
       |m AS (SELECT *, ($ssw)/(n - $k)::DOUBLE AS msw FROM piv),
       |u AS (
       |  $pairSelects)
       |SELECT * FROM u ORDER BY arm_a, arm_b""".stripMargin
  }

  /** q369's oracle: the same pivoted Jacobi MM rounds as
    * [[graft.operators.StatTests.bradleyTerry]], unrolled — one CTE pair
    * (q-step, renormalize) per iteration, with every Σ a fixed left-assoc
    * chain in ascending item order so both engines fold identically.
    */
  def btSql(types: Seq[String], iterations: Int): String = {
    val k = types.size
    val idx = types.indices
    val wDefs = (for { i <- idx; j <- idx if i != j } yield
      s"coalesce(max(CASE WHEN i = '${types(i)}' AND j = '${types(j)}' THEN w END), 0.0) AS w_${i}_$j")
      .mkString(",\n    ")
    val wiDefs = idx.map { i =>
      chain(idx.filter(_ != i).map(j => s"w_${i}_$j")) + s" AS bw_$i"
    }.mkString(",\n    ")
    val p0 = idx.map(i => s"${1.0 / k} AS p0_$i").mkString(", ")
    val sb = new StringBuilder
    sb.append(
      s"""WITH daily AS (SELECT event_type AS t, date_trunc('day', ts) AS d,
         |    count(*) AS cnt FROM events GROUP BY 1, 2),
         |pw AS (SELECT a.t AS i, b.t AS j,
         |    sum(CASE WHEN a.cnt > b.cnt THEN 1 ELSE 0 END)::DOUBLE AS w
         |  FROM daily a JOIN daily b ON a.d = b.d AND a.t <> b.t
         |  GROUP BY 1, 2),
         |piv AS (SELECT
         |    $wDefs,
         |    sum(w) AS tot FROM pw),
         |it0 AS (SELECT *,
         |    $wiDefs,
         |    $p0 FROM piv)""".stripMargin)
    for (t <- 1 to iterations) {
      val qDefs = idx.map { i =>
        val denom = chain(idx.filter(_ != i).map(j =>
          s"(w_${i}_$j + w_${j}_$i)/(p${t - 1}_$i + p${t - 1}_$j)"))
        s"CASE WHEN $denom > 0 THEN bw_$i/($denom) ELSE p${t - 1}_$i END AS q${t}_$i"
      }.mkString(",\n    ")
      val total = chain(idx.map(i => s"q${t}_$i"))
      val pDefs = idx.map(i => s"q${t}_$i/($total) AS p${t}_$i").mkString(",\n    ")
      sb.append(s""",
        |q$t AS (SELECT *,
        |    $qDefs FROM it${t - 1}),
        |it$t AS (SELECT *,
        |    $pDefs FROM q$t)""".stripMargin)
    }
    val outs = idx.map(i =>
      s"round(p${iterations}_$i, 6) AS p_${types(i)}").mkString(", ")
    sb.append(s"""
      |SELECT $outs, tot::BIGINT AS n_comparisons FROM it$iterations""".stripMargin)
    sb.toString
  }

  /** q282's oracle: the aggregated-variance Hurst replay. The ln-m design
    * constants (Σln m, Σ(ln m)²) are computed ONCE here in JVM doubles and
    * injected into the SQL as 17-significant-digit literals, so both
    * engines combine the per-m ln-variances with bit-identical design
    * constants (the [[graft.operators.Governance.BenfordExpected]]
    * shared-constant pattern).
    */
  def hurstSql: String = {
    val ms = Seq(1, 2, 4)
    val bucketSec = 86400L
    val lnM = ms.map(m => math.log(m.toDouble))
    val blocks = ms.zipWithIndex.map { case (m, i) =>
      s"""b$i AS (SELECT event_type, idx // $m AS b, sum(v) AS s, count(*) AS c
         |  FROM h GROUP BY 1, 2),
         |g$i AS (SELECT event_type, count(*)::DOUBLE AS k$i,
         |    sum(s/c::DOUBLE) AS sm$i, sum((s/c::DOUBLE)*(s/c::DOUBLE)) AS ssm$i
         |  FROM b$i WHERE c = $m GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val lnV = ms.indices.map(i => s"ln((ssm$i - sm$i*sm$i/k$i)/(k$i - 1))")
    val valid = ms.indices.map(i =>
      s"k$i >= 2 AND (ssm$i - sm$i*sm$i/k$i) > 0").mkString(" AND ")
    val sy = lnV.foldLeft("0.0")((acc, v) => s"($acc + $v)")
    val sxy = ms.indices.foldLeft("0.0")((acc, i) =>
      s"($acc + ${lit17(lnM(i))} * ${lnV(i)})")
    val (sx, sxx) = (lit17(lnM.sum), lit17(lnM.map(x => x * x).sum))
    val p = s"${ms.length}.0"
    val joins = ms.indices.tail.map(i => s"JOIN g$i USING (event_type)").mkString(" ")
    val gcols = ms.indices.map(i => s"k$i, sm$i, ssm$i").mkString(", ")
    s"""WITH h AS (SELECT event_type, floor(epoch(ts))::BIGINT // $bucketSec AS idx,
       |    count(*)::DOUBLE AS v FROM events GROUP BY 1, 2),
       |$blocks,
       |j AS (SELECT g0.event_type, $gcols FROM g0 $joins),
       |s AS (SELECT event_type, k0,
       |    CASE WHEN $valid THEN
       |      (($sxy) - $sx * ($sy) / $p) / ($sxx - $sx * $sx / $p) END AS slope
       |  FROM j)
       |SELECT event_type, k0::BIGINT AS n_blocks, round(slope, 6) AS slope,
       |  round(CASE WHEN slope IS NOT NULL THEN 1.0 + slope / 2 END, 6) AS hurst
       |FROM s ORDER BY 1""".stripMargin
  }

  /** q221's oracle: the same bounded-round k-core peel as
    * [[graft.operators.Graph.kCore]], unrolled — round i restricts the
    * edge set to vertices whose round-(i−1) degree cleared k.
    */
  def kcoreSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH raw AS (
        |  SELECT doc_id AS s, (doc_id + 1) % (SELECT count(*) FROM documents) AS t FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id*doc_id + 3) % (SELECT count(*) FROM documents) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id // 2) FROM documents),
        |u0 AS (SELECT DISTINCT least(s, t) AS x, greatest(s, t) AS y FROM raw WHERE s <> t)""".stripMargin)
    for (i <- 0 until rounds) {
      sb.append(s""",
        |d$i AS (SELECT v, count(*) AS deg FROM (
        |  SELECT x AS v FROM u$i UNION ALL SELECT y FROM u$i) GROUP BY 1),
        |k$i AS (SELECT v FROM d$i WHERE deg >= $k),
        |u${i + 1} AS (SELECT u$i.x, u$i.y FROM u$i
        |  JOIN k$i a ON a.v = u$i.x JOIN k$i b ON b.v = u$i.y)""".stripMargin)
    }
    sb.append(s"""
      |SELECT v, count(*) AS degree FROM (
      |  SELECT x AS v FROM u$rounds UNION ALL SELECT y FROM u$rounds) GROUP BY 1
      |HAVING count(*) >= $k ORDER BY v""".stripMargin)
    sb.toString
  }

  /** q217's oracle: the digit histogram joined to the SAME 12-dp expected-
    * share literals the engine uses ([[graft.operators.Governance.BenfordExpected]]) —
    * generated so one constant table serves both engines.
    */
  def benfordSql: String = {
    val values = graft.operators.Governance.BenfordExpected
      .map { case (d, e) => s"($d, $e)" }.mkString(", ")
    s"""WITH exp(digit, expected_share) AS (VALUES $values),
       |c AS (SELECT substr((n_chars::BIGINT)::VARCHAR, 1, 1)::INT AS digit,
       |    count(*) AS cnt FROM documents WHERE n_chars >= 1 GROUP BY 1),
       |tot AS (SELECT sum(cnt)::BIGINT AS n_total FROM c)
       |SELECT e.digit, coalesce(c.cnt, 0)::BIGINT AS cnt,
       |  coalesce(c.cnt, 0)::DOUBLE / tot.n_total::DOUBLE AS share,
       |  e.expected_share,
       |  (coalesce(c.cnt, 0)::DOUBLE - e.expected_share * tot.n_total::DOUBLE)
       |    * (coalesce(c.cnt, 0)::DOUBLE - e.expected_share * tot.n_total::DOUBLE)
       |    / (e.expected_share * tot.n_total::DOUBLE) AS chi2_term
       |FROM exp e LEFT JOIN c USING (digit), tot
       |ORDER BY e.digit""".stripMargin
  }

  /** q211's oracle: ACF per lag 1..36 via windowed lag + corr, argmax on
    * the 6-dp-rounded value with the smaller lag winning ties (the
    * cross-engine rank-cut rule). Generated — 36 stacked UNION ALL arms.
    */
  def seasonDetectSql: String = {
    val lags = 1 to 36
    val lagCols = lags.map(k => s"lag(cnt, $k) OVER w AS l$k").mkString(", ")
    val arms = lags.map(k =>
      s"SELECT event_type, $k AS prd, round(corr(cnt, l$k), 6) AS r FROM l GROUP BY 1")
      .mkString(" UNION ALL ")
    s"""WITH h AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
       |    count(*)::DOUBLE AS cnt FROM events GROUP BY 1, 2),
       |l AS (SELECT event_type, cnt, $lagCols FROM h
       |      WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
       |a AS ($arms),
       |rk AS (SELECT event_type, prd, r, row_number()
       |    OVER (PARTITION BY event_type ORDER BY r DESC, prd) AS rn
       |  FROM a WHERE r IS NOT NULL)
       |SELECT event_type, prd AS period, r AS acf FROM rk WHERE rn = 1
       |ORDER BY event_type""".stripMargin
  }

  /** Exact integer bit-length of the 52-bit remainder `r` as a SQL CASE
    * chain (`WHEN r >= 2^51 THEN 52 … WHEN r >= 1 THEN 1`) — avoids float
    * log2 whose rounding could disagree with the JVM's
    * `numberOfLeadingZeros` at powers-of-two boundaries.
    */
  def hllBitlenCase: String =
    (51 to 0 by -1).map(bit => s"WHEN r >= ${1L << bit} THEN ${bit + 1}").mkString(" ")

  /** q513's oracle: the banded DTW DP of
    * [[graft.operators.Similarity.dtwToReference]] UNROLLED cell-by-cell as
    * DuckDB lateral column aliases — with both series pinned to length
    * `ref.size` the Sakoe–Chiba band makes the in-band cell set a small
    * fixed grid, so the "no SQL replay exists" limitation of the streaming
    * fold disappears for the bounded-window query form. Cell order follows
    * the Scala DP exactly (row-major, `curr(j) = cost + min(prev(j),
    * curr(j−1), prev(j−1))`, out-of-band = unreachable, the (0,0) corner
    * the only zero source), and every float op is the same |a−b| / `least`
    * / `+` tree in both engines — deterministic-identical before the 6-dp
    * round. Ref constants are emitted at 17 significant digits (the
    * hurstSql shared-constant pattern). Expects a CTE `pv` providing
    * `user_id, x1..x<n>` (ascending time order).
    */
  def dtwRefSql(ref: Seq[Double], band: Int): String = {
    val m = ref.size
    val w = math.max(band, 0) // n == m, so |n−m| never widens the band
    def inBand(i: Int, j: Int): Boolean = math.abs(i - j) <= w
    val cells = for {
      i <- 1 to m
      j <- math.max(1, i - w) to math.min(m, i + w)
    } yield {
      val cost = s"abs(x$i - ${lit17(ref(j - 1))})"
      val nbrs = Seq.newBuilder[String]
      if (i == 1 && j == 1) nbrs += "0.0"                           // prev(0) corner
      if (i > 1 && inBand(i - 1, j)) nbrs += s"d_${i - 1}_$j"       // up
      if (j > 1 && inBand(i, j - 1)) nbrs += s"d_${i}_${j - 1}"     // left
      if (i > 1 && j > 1 && inBand(i - 1, j - 1)) nbrs += s"d_${i - 1}_${j - 1}" // diag
      val ns = nbrs.result()
      val best = if (ns.size == 1) ns.head else s"least(${ns.mkString(", ")})"
      s"$cost + $best AS d_${i}_$j"
    }
    s"SELECT user_id, ${cells.mkString(",\n    ")},\n    d_${m}_$m AS dtwv FROM pv"
  }
}
