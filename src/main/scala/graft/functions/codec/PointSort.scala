package graft.functions.codec

/** Primitive-array sorting/merging for (ts, value) point streams.
  *
  * The hot paths that previously sorted points as boxed Scala tuples
  * (`sortBy(identity)` on `Array[(Long, Double)]`, `Array[Double].sorted` —
  * both of which box every element and sort through `Ordering[Object]`)
  * burn the tier cascade: every promotion level re-orders the ENTIRE point
  * population (32M boxed tuples per level on the bench corpus; measured
  * ~75 s/level at 8 cores, ~3× the cost of the tier-1 aggregate itself).
  * These routines keep the points in parallel primitive arrays end to end:
  *
  *   - [[sortPairs]]: dual-array quicksort by (ts, value) — the one sort of
  *     [[BlockAgg]], for raw points and for concatenated decoded blocks
  *     alike (a few sorted runs per promoted bucket).
  *   - [[mergeSortedRuns]]: k-way heap merge of runs that are each already
  *     sorted (the codec's invariant) — O(n log k), no allocation beyond the
  *     output; the reference BlockAgg's block mode is specified against.
  *
  * Value comparisons use `java.lang.Double.compare` — identical to the
  * `Ordering.Double.TotalOrdering` the boxed paths used (-0.0 < 0.0, NaN
  * greatest), so block bytes are identical with the old formulation for all
  * data without duplicate NaN payloads: the quicksort is unstable, so two
  * points tied under (ts, Double.compare) that differ only in raw NaN bits
  * may swap emission order. No measure in this engine can produce a NaN
  * (char counts, block stats), so the caveat is theoretical.
  */
object PointSort {

  @inline private def less(t1: Long, v1: Double, t2: Long, v2: Double): Boolean =
    t1 < t2 || (t1 == t2 && java.lang.Double.compare(v1, v2) < 0)

  /** In-place quicksort of the first `n` elements of the parallel arrays by
    * (ts asc, value asc). Median-of-three pivot + insertion sort below 16.
    */
  def sortPairs(ts: Array[Long], vs: Array[Double], n: Int): Unit = qsort(ts, vs, 0, n - 1)

  private def qsort(ts: Array[Long], vs: Array[Double], lo: Int, hi: Int): Unit = {
    var l = lo; var h = hi
    while (h - l > 15) {
      // median-of-three pivot moved to position l
      val mid = l + (h - l) / 2
      if (less(ts(mid), vs(mid), ts(l), vs(l))) swap(ts, vs, l, mid)
      if (less(ts(h), vs(h), ts(l), vs(l))) swap(ts, vs, l, h)
      if (less(ts(h), vs(h), ts(mid), vs(mid))) swap(ts, vs, mid, h)
      val pt = ts(mid); val pv = vs(mid)
      // Hoare partition
      var i = l - 1; var j = h + 1
      var done = false
      while (!done) {
        do i += 1 while (less(ts(i), vs(i), pt, pv))
        do j -= 1 while (less(pt, pv, ts(j), vs(j)))
        if (i >= j) done = true else swap(ts, vs, i, j)
      }
      // recurse on the smaller side, loop on the larger (bounded stack)
      if (j - l < h - j) { qsort(ts, vs, l, j); l = j + 1 }
      else { qsort(ts, vs, j + 1, h); h = j }
    }
    // insertion sort for the remainder
    var i = l + 1
    while (i <= h) {
      val t = ts(i); val v = vs(i)
      var j = i - 1
      while (j >= l && less(t, v, ts(j), vs(j))) {
        ts(j + 1) = ts(j); vs(j + 1) = vs(j); j -= 1
      }
      ts(j + 1) = t; vs(j + 1) = v
      i += 1
    }
  }

  @inline private def swap(ts: Array[Long], vs: Array[Double], i: Int, j: Int): Unit = {
    val t = ts(i); ts(i) = ts(j); ts(j) = t
    val v = vs(i); vs(i) = vs(j); vs(j) = v
  }

  /** Merges k runs, each sorted by (ts, value), into one sorted pair of
    * arrays. Binary heap of run cursors; O(total · log k), zero boxing.
    */
  def mergeSortedRuns(runTs: Array[Array[Long]], runVs: Array[Array[Double]]): (Array[Long], Array[Double]) = {
    val k = runTs.length
    var total = 0
    var r = 0
    while (r < k) { total += runTs(r).length; r += 1 }
    val outTs = new Array[Long](total)
    val outVs = new Array[Double](total)
    if (total == 0) return (outTs, outVs)

    // heap of run indices ordered by the run's current head point
    val heap = new Array[Int](k)
    val pos = new Array[Int](k) // cursor into each run
    var heapSize = 0
    r = 0
    while (r < k) {
      if (runTs(r).length > 0) { heap(heapSize) = r; heapSize += 1 }
      r += 1
    }
    @inline def headLess(a: Int, b: Int): Boolean =
      less(runTs(a)(pos(a)), runVs(a)(pos(a)), runTs(b)(pos(b)), runVs(b)(pos(b)))
    // build heap
    var s = heapSize / 2 - 1
    while (s >= 0) { siftDown(heap, heapSize, s, headLess); s -= 1 }

    var o = 0
    while (heapSize > 0) {
      val top = heap(0)
      outTs(o) = runTs(top)(pos(top)); outVs(o) = runVs(top)(pos(top)); o += 1
      pos(top) += 1
      if (pos(top) == runTs(top).length) {
        heapSize -= 1
        heap(0) = heap(heapSize)
      }
      siftDown(heap, heapSize, 0, headLess)
    }
    (outTs, outVs)
  }

  @inline private def siftDown(heap: Array[Int], size: Int, from: Int,
                               lessFn: (Int, Int) => Boolean): Unit = {
    var i = from
    var continue = size > 0
    while (continue) {
      val l = 2 * i + 1; val rr = 2 * i + 2
      var m = i
      if (l < size && lessFn(heap(l), heap(m))) m = l
      if (rr < size && lessFn(heap(rr), heap(m))) m = rr
      if (m == i) continue = false
      else { val t = heap(i); heap(i) = heap(m); heap(m) = t; i = m }
    }
  }

  /** Exact linear-interpolation percentiles of the first `n` values (same
    * definition as Spark `percentile` / DuckDB `quantile_cont`), via one
    * primitive copy + `java.util.Arrays.sort` (no boxing; IEEE total order,
    * same as the Scala `.sorted` it replaces). Returns values at each `ps`.
    */
  def percentiles(vs: Array[Double], n: Int, ps: Array[Double]): Array[Double] = {
    val sorted = java.util.Arrays.copyOf(vs, n)
    java.util.Arrays.sort(sorted)
    ps.map { p =>
      if (n == 0) Double.NaN
      else {
        val rank = p * (n - 1)
        val lo = math.floor(rank).toInt
        val hi = math.ceil(rank).toInt
        if (lo == hi) sorted(lo) else sorted(lo) + (rank - lo) * (sorted(hi) - sorted(lo))
      }
    }
  }
}
