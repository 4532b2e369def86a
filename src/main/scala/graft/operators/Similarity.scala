package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, sign-LSH over seeded
  * pseudo-random hyperplanes as the sublinear scale path (single-table
  * multi-probe for top-k, multi-table for near-dup recall), and
  * embedding-cosine near-duplicate detection.
  *
  * Not present in the reference (pure tabular pandas); part of the
  * training-data-pipeline surface this engine adds.
  *
  * Scale design:
  *   - dot products and norms are array higher-order functions
  *     (`zip_with` + `aggregate`) — per-row, codegen'd, no UDF, no explode of
  *     the vector.
  *   - brute-force top-k broadcasts the (small) query set against the
  *     corpus — one pass over the corpus, per-partition partial top-k via a
  *     window over (query, sim) after AQE-coalesced shuffle of only
  *     (query_id, corpus_id, sim) triples, never the vectors.
  *   - the LSH key hashes with RADEMACHER HYPERPLANES (components ±1 drawn
  *     from md5 — deterministic, seedable per table, and replayable in ANSI
  *     SQL so the DuckDB oracle derives the identical buckets). Sign-LSH
  *     collision probability per bit is 1 - θ/π for angle θ, independent of
  *     which symmetric distribution the hyperplane comes from.
  *   - candidates are an equi-join on `bucket`, turning O(|Q|·|C|) into
  *     O(|Q|·|C|/2^bits) expected; [[suggestBits]] scales the bucket count
  *     with the corpus so the per-bucket population (and thus the quadratic
  *     within-bucket term) stays bounded as n grows.
  *   - recall comes from MULTI-PROBE (top-k: also search every bucket at
  *     Hamming distance 1 — bits+1 probes, no extra tables to store) or
  *     MULTI-TABLE (near-dup: independent hyperplane sets; a pair is a
  *     candidate if it collides in ANY table). Measured in
  *     DedupSimilaritySpec: recall@3 ≥ 0.9 vs [[bruteForceTopK]] on a
  *     seeded clustered corpus.
  *   - an IVF variant would swap the bucket key for a nearest-centroid id;
  *     the candidate-join plumbing is identical.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double precision, left-to-right (oracle-identical order).
    * Native codegen'd kernel ([[graft.functions.FloatDotExpr]]); the
    * declarative HOF it replaced bit-for-bit is kept for the parity test:
    * `aggregate(zip_with(a,b,(x,y) -> double(x)*double(y)), 0.0, +)`. */
  def dot(a: Column, b: Column): Column = graft.functions.FloatDotExpr(a, b)

  /** The pre-native HOF formulation of [[dot]] — parity-test reference. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null when either norm is 0. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn > 0, d / nn).otherwise(lit(null).cast("double"))
  }

  /** Bits such that the expected bucket population n/2^bits ≈ targetBucket —
    * the knob that keeps the within-bucket quadratic term constant as the
    * corpus grows (10^9 vectors, targetBucket 256 → 22 bits).
    */
  def suggestBits(corpusSize: Long, targetBucket: Long = 256L): Int =
    math.max(8, math.ceil(math.log(corpusSize.toDouble / targetBucket) / math.log(2.0)).toInt)

  private def md5Long(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Seeded ±1 hyperplane components: sign(table, bit j, dim d) = +1 iff
    * md5Long("h:table:j:d") is even — the same value the oracle derives as
    * `('0x'||substr(md5('h:t:j:d'),1,15))::BIGINT % 2`.
    */
  def rademacherSigns(table: Int, bits: Int, dim: Int): Seq[Seq[Double]] =
    (0 until bits).map(j => (1 to dim).map(d =>
      if (md5Long(s"h:$table:$j:$d") % 2 == 0) 1.0 else -1.0).toSeq).toSeq

  /** Sign-LSH bucket from `bits` seeded Rademacher hyperplanes: bit j = 1 iff
    * ⟨v, h_j⟩ ≥ 0, the projection accumulated left-to-right in double
    * precision (oracle-identical: DuckDB `list_dot_product` is sequential
    * too, and ±1·x is exact, so boundary signs agree bit-exactly).
    *
    * Realized as a native Catalyst expression with codegen
    * ([[graft.functions.HyperplaneBucketExpr]]) — the declarative
    * formulations (HOF aggregate, unrolled element_at sums) are interpreted
    * or blow up plan size; see that class's scaladoc for the measurements.
    */
  def hyperplaneBucket(v: Column, bits: Int, dim: Int, table: Int = 0): Column =
    graft.functions.HyperplaneBucketExpr(v, rademacherSigns(table, bits, dim))

  /** Exact brute-force top-k: for each query row, the k most cosine-similar
    * corpus rows (excluding self-id matches). Queries should be small
    * (broadcast); the corpus streams.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    // norms are computed ONCE per vector BELOW the join (the join blocks
    // CollapseProject from inlining them into the per-pair projection —
    // inlined, each pair pays 3 dot kernels instead of 1; measured on the
    // 2k×2k RBM self-join: 192 s inlined-HOF → 43 s hoisted-HOF → 6.7 s
    // hoisted + native FloatDotExpr). sim is the bit-identical formula:
    // dot/(sqrt(dot(a,a))·sqrt(dot(b,b))), null when a norm is 0.
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("_qn"))
    // spread the streamed side across the cluster BEFORE the pair fan-out:
    // a small corpus parquet arrives as ONE scan partition, and a broadcast
    // nested-loop join inherits the stream side's partitioning — without
    // this every |Q|×|C| dot product runs in a single task (guide §2.5
    // "input skew"; round-robin repartition, no key needed — pair
    // generation is order-free)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("_cn"))
      .repartition(corpus.sparkSession.sessionState.conf.numShufflePartitions)
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        when(col("_qn") * col("_cn") > 0,
          dot(col("qv"), col("cv")) / (col("_qn") * col("_cn")))
          .otherwise(lit(null).cast("double")))
      .filter(col("sim").isNotNull)
    val idNumeric = c.schema("neighbor_id").dataType match {
      case _: org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    if (k == 1 && idNumeric) {
      // top-1 is an aggregation, not a window: max over (sim, −id) gives
      // highest sim with ties to the SMALLEST id — exactly row_number's
      // (sim desc, neighbor_id asc) first row — but with map-side partial
      // aggregation: |Q| rows cross the exchange instead of |Q|×|C|
      // (guide §2.3 "aggregate before you shuffle"). Identical output.
      scored
        .groupBy(col("query_id"))
        .agg(max(struct(col("sim"), (-col("neighbor_id")).as("_nid"))).as("_b"))
        .select(col("query_id"), (-col("_b._nid")).as("neighbor_id"),
          col("_b.sim").as("sim"), lit(1).as("rank"))
    } else {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    }
  }

  /** Symmetric int8 scalar quantization of an embedding column — the
    * 4×-compression step every billion-vector ANN store applies before
    * indexing (FAISS SQ8 family; Jégou et al. 2011 product-quantization
    * lineage, public papers). Per vector: scale = max|xᵢ|/127, codes
    * qᵢ = clamp(⌊xᵢ/scale + 0.5⌋, ±127), plus the DEQUANTIZED vector and
    * the reconstruction cosine between original and dequantized — the
    * quality gauge that decides whether SQ8 is safe for a corpus.
    *
    * Every step is elementwise IEEE on exact inputs (max is order-free,
    * round-half-up via ⌊x+0.5⌋ — no banker's rounding ambiguity), so an
    * independent SQL replay is bit-identical. One narrow projection; the
    * cosine reuses the native [[dot]] kernel. All-zero vectors get null
    * scale/codes.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val absMax = array_max(transform(col("_v"), x => abs(x.cast("double"))))
    df.select(col(idCol).as("id"), col(vecCol).as("_v"))
      .withColumn("scale",
        when(absMax > 0, absMax / 127.0).otherwise(lit(null).cast("double")))
      .withColumn("codes",
        when(col("scale").isNotNull,
          transform(col("_v"), x => greatest(lit(-127L), least(lit(127L),
            floor(x.cast("double") / col("scale") + 0.5).cast("long"))))))
      .withColumn("deq",
        when(col("scale").isNotNull,
          transform(col("codes"), q => (q.cast("double") * col("scale")).cast("double"))))
      .withColumn("recon_cos", cosine(col("_v"), col("deq")))
      .select(col("id"), col("scale"), col("codes"), col("recon_cos"))
  }

  /** Reciprocal best match: pairs (a, b) where b is a's nearest cosine
    * neighbor AND a is b's — the mutual-top-1 criterion of bitext/near-
    * duplicate mining (each side vouches for the other, which kills the
    * hub-vector false positives a one-directional top-1 keeps). Built on
    * [[bruteForceTopK]] at k=1 (deterministic tie-break by neighbor id);
    * the mutuality check is one self-join of the |corpus|-row top-1 table.
    * Emits each mutual pair once (id_a < id_b) with its cosine.
    */
  def reciprocalBestMatch(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val top1 = bruteForceTopK(df, df, idCol, vecCol, k = 1)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
      .localCheckpoint() // consumed twice (both sides of the mutuality join)
    top1.filter(col("query_id") < col("neighbor_id"))
      .toDF("id_a", "id_b", "sim")
      .join(top1.select(col("neighbor_id").as("id_a"), col("query_id").as("id_b")),
        Seq("id_a", "id_b"), "left_semi")
  }

  /** Bucketed ANN: identical contract to [[bruteForceTopK]] but candidates
    * are restricted to the query's hyperplane-LSH bucket, multi-probed — the
    * query also searches every bucket at Hamming distance ≤ `probeHamming`
    * (only 0 and 1 supported; 1 ⇒ bits+1 probes). The corpus is hashed once;
    * probes multiply only the (small) query side. Each corpus vector lives in
    * exactly one bucket and probe buckets are distinct, so no pair dedup is
    * needed.
    */
  def bucketedTopK(queries: DataFrame, corpus: DataFrame,
                   idCol: String, vecCol: String, k: Int, bits: Int, dim: Int,
                   probeHamming: Int = 1): DataFrame = {
    require(probeHamming == 0 || probeHamming == 1, "only probeHamming 0 or 1 supported")
    val nProbes = if (probeHamming == 0) 0 else bits
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      hyperplaneBucket(col(vecCol), bits, dim).as("_b0"))
    // probe buckets exploded from a LITERAL sequence; the flipped bucket is
    // computed above the Generate from the staged _b0 attribute (plan-shape
    // rule: never posexplode a computed array — see Dedup.lshBuckets)
    val probed = (1 to nProbes).foldLeft(when(col("_probe") === 0, col("_b0"))) {
      (acc, j) => acc.when(col("_probe") === j, col("_b0").bitwiseXOR(lit(1L << (j - 1))))
    }
    val q = q0.select(col("query_id"), col("qv"), col("_b0"),
        explode(sequence(lit(0), lit(nProbes))).as("_probe"))
      .withColumn("bucket", probed)
      .drop("_probe", "_b0")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      hyperplaneBucket(col(vecCol), bits, dim).as("bucket"))
    val scored = q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .filter(col("sim").isNotNull)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** IVF (inverted-file) ANN: same contract as [[bucketedTopK]] with a
    * learned-ish coarse quantizer instead of hyperplanes. Centroids are the
    * `nlist` corpus vectors with the smallest md5Long(id) — a deterministic,
    * oracle-replayable stand-in for offline k-means (at web scale you train
    * centroids once and broadcast them; the plumbing here is exactly that:
    * centroids are plan-time constants, assignment is one narrow pass via
    * [[graft.functions.NearestCentroidsExpr]], candidates are an equi-join
    * on the centroid id). Queries probe their `nProbe` nearest lists.
    * Expected candidates per query: nProbe·|C|/nlist — sublinear with nlist
    * scaled like [[suggestBits]] scales buckets.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nlist: Int = 16, nProbe: Int = 2): DataFrame = {
    import graft.functions.{Hashing, NearestCentroidsExpr}
    val cents = corpus
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"))
      .withColumn("_h", Hashing.md5Long(col("cid").cast("string")))
      .orderBy(col("_h"), col("cid")).limit(nlist)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cids = cents.map(_._1).toSeq
    val cvecs = cents.map(_._2).toSeq
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      element_at(NearestCentroidsExpr(col(vecCol), cids, cvecs, 1), 1).as("cid"))
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        NearestCentroidsExpr(col(vecCol), cids, cvecs, nProbe).as("_cids"))
      .select(col("query_id"), col("qv"), explode(col("_cids")).as("cid"))
    val scored = q.join(c, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .filter(col("sim").isNotNull)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** Embedding-cosine near-duplicate pairs (`id_a < id_b`, cos ≥ threshold),
    * candidate-pruned by `tables` independent hyperplane-LSH bucket joins —
    * a pair is a candidate if it collides in ANY table (recall
    * 1-(1-p^bits)^tables for per-bit collision p; identical vectors always
    * collide). Vectors are re-attached only for the candidate ids
    * (semi-join-sized), so the expensive cosine runs on |candidates|, never
    * the bucket cross product of the full corpus payload.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                   threshold: Double = 0.999, bits: Int = 8, dim: Int = 64,
                   tables: Int = 2): DataFrame = {
    // per-table buckets staged as real columns, table id exploded from a
    // literal sequence, bucket picked from attributes above the Generate
    val staged = (0 until tables).foldLeft(
      df.select(col(idCol).as("id"), col(vecCol).as("v"))) { (d, t) =>
      d.withColumn(s"_bt$t", hyperplaneBucket(col("v"), bits, dim, table = t))
    }
    val bucketOf = (0 until tables).foldLeft(lit(null).cast("long")) { (acc, t) =>
      when(col("tbl") === t, col(s"_bt$t")).otherwise(acc)
    }
    val buckets = staged
      .select((Seq(col("id"), explode(sequence(lit(0), lit(tables - 1))).as("tbl")) ++
        (0 until tables).map(t => col(s"_bt$t"))): _*)
      .withColumn("bucket", bucketOf)
      .select("id", "tbl", "bucket")
    val a = buckets.toDF("id_a", "tbl", "bucket")
    val b = buckets.toDF("id_b", "tbl", "bucket")
    // materialize the candidate pairs: they are referenced three times below
    // (two id-set branches + the verify join), and without materialization
    // each reference re-runs the bucket self-join. The set is bounded small
    // by construction (Σ_bucket pop² / 2 per table, the quantity suggestBits
    // keeps in check). `localCheckpoint` instead of `cache()`: the blocks are
    // released when the RDD is GC'd (ContextCleaner), so repeated calls in a
    // long-lived session don't accumulate pinned storage, and no CacheManager
    // entry means a re-built plan never silently reads a stale
    // InMemoryRelation from an earlier invocation.
    val cand = a.join(b, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .localCheckpoint()
    val candIds = cand.select(col("id_a").as("_cid"))
      .unionByName(cand.select(col("id_b").as("_cid"))).distinct()
    val vecs = df.join(candIds, col(idCol) === col("_cid"), "left_semi")
      .select(col(idCol).as("id"), col(vecCol).as("v"))
    cand
      .join(vecs.toDF("id_a", "v_a"), Seq("id_a"))
      .join(vecs.toDF("id_b", "v_b"), Seq("id_b"))
      .withColumn("cos_sim", cosine(col("v_a"), col("v_b")))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  /** Dynamic-time-warping distance (Sakoe & Chiba 1978) from each key's
    * series to a fixed reference series — "which entities behave like this
    * pattern", tolerant of phase shifts that break pointwise (Euclidean)
    * comparison. Distances use |a−b| (L1 step cost, the classic DTW form);
    * the `band` Sakoe–Chiba constraint bounds the DP to O(n·band) and keeps
    * pathological warps out.
    *
    * The reference is a driver-side constant (same bounded license as the
    * IVF centroids); each key's series folds in one task as a
    * [[SeriesFold]], under its one point bound. Deterministic DP —
    * evidence is the spec goldens (identity 0, hand DP, shift tolerance vs
    * Euclidean, band binding) PLUS, for the bounded-window query form
    * where both series have the reference's length, a full DuckDB oracle:
    * q513 unrolls this exact banded DP cell-for-cell as lateral column
    * aliases (EntryHelpers.dtwRefSql), so the fold is SQL-replayed after
    * all for fixed-length windows.
    * Output: (keys..., dtw, n_points).
    */
  def dtwToReference(df: DataFrame, keyCols: Seq[String], tsCol: String,
                     valueCol: String, reference: Seq[Double],
                     band: Int): DataFrame = {
    require(reference.nonEmpty, "reference series must be non-empty")
    require(band >= 1, s"band must be >= 1, got $band")
    val ref = reference.toArray
    val u = udf { (pts: Seq[org.apache.spark.sql.Row]) =>
      val xs = SeriesFold.values(pts)
      if (xs.isEmpty) None else Some(dtw(xs, ref, band))
    }
    SeriesFold.collect(df.filter(col(valueCol).isNotNull), keyCols,
        SeriesFold.timeValue(tsCol, valueCol), count(lit(1)).as("n_points"))
      .withColumn("dtw", u(col("_pts")))
      .filter(col("dtw").isNotNull)
      .select((keyCols.map(col) :+ col("dtw") :+ col("n_points")): _*)
  }

  /** LB_Keogh lower bound (Keogh & Ratanamahatana 2005) from each key's
    * series to a reference series — the CHEAP pruning companion to
    * [[dtwToReference]]: LB_Keogh(x, ref) ≤ DTW(x, ref) for the same band,
    * so candidates whose LB already exceeds a distance budget never pay
    * the DP. Fully declarative (unlike the DTW fold): the reference's
    * band-r envelope U/L = rolling max/min over [t−r, t+r], then
    *   LB = Σ_t (x_t − U_t)²·1[x>U] + (L_t − x_t)²·1[x<L]
    * via one equi-join on the time index + one aggregate. (Squared-L2
    * step form; pair with a squared-cost DTW when thresholding.) The
    * envelope window is a single partition — reference series only, which
    * is bounded by contract (the dtwToReference constant license).
    * Output: (keys..., lb_keogh, n_matched).
    */
  def lbKeogh(df: DataFrame, keyCols: Seq[String], idxCol: String,
              valueCol: String, ref: DataFrame, refValCol: String,
              band: Int): DataFrame = {
    require(band >= 1, s"band must be >= 1, got $band")
    val wEnv = org.apache.spark.sql.expressions.Window
      .orderBy(col(idxCol)).rowsBetween(-band, band)
    val env = ref
      .select(col(idxCol), col(refValCol).cast("double").as("_rv"))
      .withColumn("_u", max(col("_rv")).over(wEnv))
      .withColumn("_l", min(col("_rv")).over(wEnv))
      .select(col(idxCol), col("_u"), col("_l"))
    val x = col(valueCol).cast("double")
    df.filter(x.isNotNull)
      .join(broadcast(env), Seq(idxCol))
      .withColumn("_c",
        when(x > col("_u"), (x - col("_u")) * (x - col("_u")))
          .when(x < col("_l"), (col("_l") - x) * (col("_l") - x))
          .otherwise(lit(0.0)))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("_c")).as("lb_keogh"), count(lit(1)).as("n_matched"))
  }

  /** [[lbKeogh]] over SCALED-INTEGER series — the exact-arithmetic twin
    * for hash-exact cross-run/cross-engine parity (the
    * [[Features.seasonalDecomposeExact]] discipline; this closed the one
    * sf0.1 exact-repr straddle the r5 sweep caught, q337). Both the
    * series and the reference enter as fixed-point longs at `scale`
    * (cents: 100); the envelope min/max and the squared-exceedance SUM —
    * the shuffle-order-sensitive reduction that made the double path
    * drift in its last ulps — run entirely in exact long arithmetic, and
    * the single double division by scale² happens once per key.
    * Bound: Σ(Δ·scale)² per key must stay below 2^53 for the lossless
    * long→double cast — cents at |Δ| ≤ 10^4 over 10^3-point series is
    * ~10^13, two orders of margin.
    */
  def lbKeoghExact(df: DataFrame, keyCols: Seq[String], idxCol: String,
                   intCol: String, ref: DataFrame, refIntCol: String,
                   band: Int, scale: Long = 100L): DataFrame = {
    require(band >= 1, s"band must be >= 1, got $band")
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val wEnv = org.apache.spark.sql.expressions.Window
      .orderBy(col(idxCol)).rowsBetween(-band, band)
    val env = ref
      .select(col(idxCol), col(refIntCol).cast("long").as("_rv"))
      .withColumn("_u", max(col("_rv")).over(wEnv))
      .withColumn("_l", min(col("_rv")).over(wEnv))
      .select(col(idxCol), col("_u"), col("_l"))
    val x = col(intCol).cast("long")
    df.filter(x.isNotNull)
      .join(broadcast(env), Seq(idxCol))
      .withColumn("_c",
        when(x > col("_u"), (x - col("_u")) * (x - col("_u")))
          .when(x < col("_l"), (col("_l") - x) * (col("_l") - x))
          .otherwise(lit(0L)))
      .groupBy(keyCols.map(col): _*)
      .agg((sum(col("_c")).cast("double") /
        lit((scale * scale).toDouble)).as("lb_keogh"),
        count(lit(1)).as("n_matched"))
  }

  /** Banded DTW DP over two series, L1 step cost. Exposed for testing. */
  def dtw(a: Array[Double], b: Array[Double], band: Int): Double = {
    val n = a.length; val m = b.length
    // effective band must at least cover the length difference or no
    // monotone path exists
    val w = math.max(band, math.abs(n - m))
    val INF = Double.PositiveInfinity
    var prev = Array.fill(m + 1)(INF)
    var curr = Array.fill(m + 1)(INF)
    prev(0) = 0.0
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(curr, INF)
      val jLo = math.max(1, i - w); val jHi = math.min(m, i + w)
      var j = jLo
      while (j <= jHi) {
        val cost = math.abs(a(i - 1) - b(j - 1))
        curr(j) = cost + math.min(prev(j), math.min(curr(j - 1), prev(j - 1)))
        j += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    prev(m)
  }
}
