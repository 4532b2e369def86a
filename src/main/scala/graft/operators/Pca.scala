package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Distributed PCA / whitening for embedding columns (`array<float>`) — the
  * preprocessing half of the similarity stack: near-dup and ANN quality
  * degrade when embedding dimensions are correlated or wildly unequal in
  * scale; PCA decorrelates, whitening equalizes, and both are standard
  * before IVF/LSH indexing (the same role "OPQ/PCA rotation" plays in a
  * FAISS pipeline).
  *
  * Scale design: the MODEL is tiny, the DATA is huge — so the fit is ONE
  * aggregation pass with a primitive-buffer typed `Aggregator` (the
  * engine's licensed pattern, like `Cms`/`Hll`)
  * accumulating n, the d per-dimension sums, and the d(d+1)/2
  * upper-triangular second moments: a fixed ~8·(1+d+d(d+1)/2)-byte buffer
  * (d=64 → ~17 KB) that map-side combines and merges by elementwise add.
  * The d×d eigendecomposition runs driver-side on that single collected
  * buffer (breeze `eigSym`, d bounded by `MaxDim`), and [[transform]] is a
  * pure narrow projection: mean and components ride along as array
  * LITERALS in the plan (no join, no broadcast variable), each output
  * coordinate one `aggregate(zip_with(...))` dot product — O(d·k) per row,
  * no UDF.
  *
  * Eigenvector signs are normalized (largest-|loading| element positive) so
  * the model is deterministic up to float summation order.
  */
object Pca {

  /** Driver-side cap on embedding dimension: the buffer is O(d²) and the
    * eigen solve O(d³) — 4096 keeps both trivially driver-sized (~67 MB,
    * <1 min) while covering every practical embedding width.
    */
  val MaxDim: Int = 4096

  case class PcaModel(mean: Array[Double], components: Array[Array[Double]],
                      eigenvalues: Array[Double]) {
    def d: Int = mean.length
    def k: Int = components.length
  }

  /** Moment accumulator over `array<float>` rows. Buffer bytes (little
    * endian doubles): [n, sum_0..sum_{d-1}, S_00, S_01.., S_11..] with S the
    * upper-triangular Σ xᵢxⱼ. Empty buffer = zero-length array (d learned
    * from the first row; mismatched dimensions fail fast).
    */
  private class MomentsAgg extends Aggregator[Seq[Float], Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = Array.emptyByteArray
    private def alloc(d: Int): Array[Byte] = {
      require(d >= 1 && d <= MaxDim, s"embedding dim must be in [1, $MaxDim], got $d")
      new Array[Byte]((1 + d + d * (d + 1) / 2) * 8)
    }
    private def dimOf(b: Array[Byte]): Int = {
      // solve 1 + d + d(d+1)/2 = len/8 for d
      val slots = b.length / 8
      val d = ((math.sqrt(9.0 + 8.0 * (slots - 1)) - 3.0) / 2.0).round.toInt
      require((1 + d + d * (d + 1) / 2) == slots, s"corrupt moments buffer ($slots slots)")
      d
    }
    def reduce(b0: Array[Byte], x: Seq[Float]): Array[Byte] = {
      if (x == null) return b0
      val b = if (b0.isEmpty) alloc(x.length) else b0
      val db = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer()
      val d = dimOf(b)
      require(x.length == d, s"embedding dim ${x.length} != first-seen dim $d")
      val xs = new Array[Double](d)
      var i = 0
      while (i < d) { xs(i) = x(i).toDouble; i += 1 }
      db.put(0, db.get(0) + 1.0)
      i = 0
      var tri = 1 + d
      while (i < d) {
        db.put(1 + i, db.get(1 + i) + xs(i))
        var j = i
        while (j < d) {
          db.put(tri, db.get(tri) + xs(i) * xs(j))
          tri += 1; j += 1
        }
        i += 1
      }
      b
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      if (a.isEmpty) return b
      if (b.isEmpty) return a
      require(a.length == b.length, "merging moment buffers of different dims")
      val da = ByteBuffer.wrap(a).order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer()
      val dbb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer()
      var i = 0
      val n = a.length / 8
      while (i < n) { da.put(i, da.get(i) + dbb.get(i)); i += 1 }
      a
    }
    def finish(r: Array[Byte]): Array[Byte] = r
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Fit a PCA model with `k` components from the embedding column. One
    * distributed pass + one driver-side d×d eigen solve.
    */
  def fit(df: DataFrame, embCol: String, k: Int): PcaModel = {
    require(k >= 1, s"k must be >= 1, got $k")
    val bytes = df.select(udaf(new MomentsAgg).apply(col(embCol)).as("m"))
      .collect()(0).getAs[Array[Byte]](0)
    require(bytes.nonEmpty, "PCA fit on an empty frame")
    val db = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer()
    val slots = bytes.length / 8
    val d = ((math.sqrt(9.0 + 8.0 * (slots - 1)) - 3.0) / 2.0).round.toInt
    require(k <= d, s"k=$k exceeds embedding dim $d")
    val n = db.get(0)
    require(n >= 2, s"PCA needs >= 2 rows, got ${n.toLong}")
    val mu = Array.tabulate(d)(i => db.get(1 + i) / n)
    val cov = breeze.linalg.DenseMatrix.zeros[Double](d, d)
    var tri = 1 + d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = db.get(tri) / n - mu(i) * mu(j)
        cov(i, j) = c; cov(j, i) = c
        tri += 1; j += 1
      }
      i += 1
    }
    val es = breeze.linalg.eigSym(cov) // eigenvalues ascending
    val order = (0 until d).sortBy(ix => -es.eigenvalues(ix)).take(k)
    val comps = order.map { ix =>
      val v = Array.tabulate(d)(r => es.eigenvectors(r, ix))
      // deterministic sign: the largest-|loading| coordinate is positive
      val m = v.indices.maxBy(r => math.abs(v(r)))
      if (v(m) < 0) v.map(-_) else v
    }.toArray
    PcaModel(mu, comps, order.map(ix => math.max(es.eigenvalues(ix), 0.0)).toArray)
  }

  /** Project embeddings onto the model's components as a new `array<double>`
    * column `outCol` (length k). `whiten = true` divides each coordinate by
    * √(λ + eps) so the output has ~unit variance per component. Narrow,
    * join-free: model constants are plan literals.
    */
  def transform(df: DataFrame, embCol: String, model: PcaModel,
                whiten: Boolean = false, eps: Double = 1e-9,
                outCol: String = "pca"): DataFrame = {
    val centered = zip_with(col(embCol).cast("array<double>"),
      typedLit(model.mean.toSeq), (x, m) => x - m)
    val staged = df.withColumn("_ctr", centered)
    val pcs: Seq[Column] = model.components.toSeq.zipWithIndex.map { case (w, j) =>
      val dot = aggregate(
        zip_with(col("_ctr"), typedLit(w.toSeq), (x, wi) => x * wi),
        lit(0.0), (acc, v) => acc + v)
      if (whiten) dot / lit(math.sqrt(model.eigenvalues(j) + eps)) else dot
    }
    staged.withColumn(outCol, array(pcs: _*)).drop("_ctr")
  }
}
