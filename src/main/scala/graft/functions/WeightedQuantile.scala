package graft.functions

/** Weighted interpolated quantile — the fractional-weight analog of
  * Spark's exact `percentile` / DuckDB's `quantile_cont`, which only
  * support integral frequencies. Completes the GBT family's
  * `weight_transform` hook (reference: _regressors.py:19-42) for the
  * quantile objective's leaf renewal (lightgbm.py:25-27 maps alpha →
  * objective="quantile").
  *
  * Rule (documented because conventions differ): each weight is
  * quantized to integer MICROWEIGHTS m = ⌊w·10⁶ + 0.5⌋ (pairs whose
  * weight rounds below one microweight are dropped — weights are
  * positions, so resolution below 10⁻⁶ of a unit weight carries no
  * rank information); sort the (value, m) pairs ascending by
  * (value, m); with S_j the ascending prefix microweight sum
  * (S_0 = 0, exact integer arithmetic) and W = S_n, assign pair j the
  * position
  *
  *   p_j = S_{j-1} / (W − m_n)
  *
  * (so p_1 = 0, p_n = 1, strictly increasing), then linearly
  * interpolate between the pairs bracketing α:
  *
  *   Q_α = v_lo + (v_hi − v_lo) · (α − p_lo) / (p_hi − p_lo).
  *
  * Unit weights reduce this BIT-EXACTLY to p_j = (j−1)/(n−1) —
  * `quantile_cont`'s positions (the 10⁶ scale cancels: IEEE division
  * is correctly rounded and the real quotients are equal) — so the
  * unweighted objective is the w ≡ 1 special case (QuantileSpec
  * asserts agreement; the interpolation's op ORDER differs from
  * `percentile`'s pos − floor(pos) form by ≤2 ULP). Negative weights
  * are the CALLER's contract to reject (TreeBoost guards at fit time).
  *
  * MAGNITUDE BOUNDS (the exactness contract's fine print): the
  * microweight lattice is exact only while every sum stays on it.
  * Per-row, ⌊w·10⁶ + 0.5⌋ must itself be exactly representable and
  * convert to Long without saturation — w ≤ ~9.2e12 avoids
  * `m.toLong` silently clamping to Long.MaxValue, and w ≤ ~9e9
  * keeps m below 2^53 so the quantized double IS the integer.
  * Per-group, the TOTAL microweight Σm must stay below 2^53
  * (~9.0e15 — e.g. 1e9 rows at mean weight ~9000), because the
  * Spark/DuckDB split statistics carry Σm as integral DOUBLES whose
  * sums are exact only below 2^53; past it neither engine errors,
  * the keystone just quietly degrades to float drift. TreeBoost
  * enforces the practical per-row cap (w ≤ 1e9) loudly at fit time
  * alongside the negative-weight guard, which bounds a 2^53 total
  * breach to groups of ≥ ~9e6 rows at the cap — far beyond the
  * exact renewal's intended regime (the bounded-memory production
  * twin takes over there, see TreeBoost `quantileExact`).
  *
  * WHY integer positions (round 11): the quantile objective's pinball
  * gradient α − 1{y ≤ F} is DISCONTINUOUS in the fit state F, and the
  * base score Q_α(y) often lands exactly ON a data value (whenever α
  * hits a knot) — so a sub-ULP cross-engine drift in the positions
  * flips gradients, which flips argmax splits, which moves leaf
  * values by whole gain-steps. Float prefix sums are parallelized in
  * DuckDB (association order varies run to run — the r10 raw-weight
  * oracle was measurably UNSTABLE across reps); integer microweight
  * sums are exact and order-independent in both engines, making every
  * position — and therefore b0, every gradient, every split and every
  * renewal — bit-identical and stable. The continuous Σw·r split
  * statistics stay on the raw double weights (their sub-ULP drift is
  * rd6-absorbed like every moment oracle).
  *
  * The DuckDB oracle replicates the same arithmetic with window
  * functions (BIGINT prefix sums over the same (value, m) order and
  * the identical position/interpolation expressions) — bit-identical
  * by the integer argument above.
  *
  * Buffer: a growable primitive pair buffer ([[WeightedQuantile.PairBuf]])
  * with amortized-doubling appends and two-arraycopy merges — the
  * round-11 per-row `Arrays.copyOf` grew the buffer one pair at a
  * time, an O(g²) copy tax that made a 90k-row group cost ~40 s.
  * [[WeightedQuantile.of]] sorts once, so buffer order never reaches the result —
  * memory O(pairs in the group), the same class as exact
  * `percentile`'s value→count map; at 100 TB the bounded-memory path
  * is TreeBoost's `quantileExact = false` — see TreeBoost.fit.
  */
object WeightedQuantile {

  /** Growable primitive interleaved [v0,w0,v1,w1,…] pair buffer:
    * appends are amortized O(1) array stores, merges are a single
    * grow + arraycopy, and the object lives un-serialized inside a
    * partition's renewal state ([[QuantileGather]]); its Kryo image,
    * the partition's partial, is exactly 2n doubles (no slack).
    * Same design as [[FeatureAggs.SeriesBuf]]. */
  final class PairBuf(private var xs: Array[Double], private var n: Int)
      extends Serializable with com.esotericsoftware.kryo.KryoSerializable {
    def this() = this(new Array[Double](32), 0)

    def append(v: Double, w: Double): PairBuf = {
      if (n + 2 > xs.length)
        xs = java.util.Arrays.copyOf(xs, math.max(32, xs.length * 2))
      xs(n) = v; xs(n + 1) = w; n += 2
      this
    }

    def mergeWith(o: PairBuf): PairBuf = {
      val total = n + o.n
      if (total > xs.length) xs = java.util.Arrays.copyOf(xs, total)
      System.arraycopy(o.xs, 0, xs, n, o.n)
      n = total
      this
    }

    /** The logical pairs, trimmed to length (a copy unless full). */
    def pairs: Array[Double] =
      if (n == xs.length) xs else java.util.Arrays.copyOf(xs, n)

    override def write(kryo: com.esotericsoftware.kryo.Kryo,
                       output: com.esotericsoftware.kryo.io.Output): Unit = {
      output.writeInt(n)
      output.writeDoubles(pairs)
    }

    override def read(kryo: com.esotericsoftware.kryo.Kryo,
                      input: com.esotericsoftware.kryo.io.Input): Unit = {
      n = input.readInt()
      xs = input.readDoubles(n)
    }
  }

  /** The interpolation kernel over an UNSORTED interleaved pair
    * buffer; null for an empty buffer. Exposed for specs and the
    * driver-side uses. */
  def of(buf: Array[Double], alpha: Double): java.lang.Double = {
    val n0 = buf.length / 2
    if (n0 == 0) return null
    // quantize to integer microweights; drop sub-resolution pairs.
    // ⌊w·10⁶ + 0.5⌋ is exact IEEE on both engines (w·10⁶ and +0.5 are
    // single correctly-rounded ops on identical inputs, floor exact)
    val vs = new Array[Double](n0)
    val ms = new Array[Long](n0)
    var n = 0
    var i = 0
    while (i < n0) {
      val m = math.floor(buf(2 * i + 1) * 1e6 + 0.5)
      if (m >= 1.0) { vs(n) = buf(2 * i); ms(n) = m.toLong; n += 1 }
      i += 1
    }
    if (n == 0) return null
    // sort pair indices by (value, microweight); ties are identical
    // pairs up to weight, and equal values interpolate to themselves,
    // so the order among ties cannot change the result — the explicit
    // weight tiebreak just keeps the walk deterministic. Primitive
    // merge sort (r15): the former sortBy allocated an Integer box and
    // a key tuple PER COMPARISON — ~n·log n boxed allocations per leaf
    // renewal over ~10⁵-pair buffers, pure GC tax on the hottest UDAF
    // in the registry. Same comparator (java.lang.Double.compare is
    // scala's total Double order), same stable order, zero boxing.
    val sorted = sortedIdx(vs, ms, n)
    if (n == 1) return vs(sorted(0))
    // denom = S_{n-1} = W − m_n — exact integer arithmetic, so the
    // value is association-order independent (the bitwise-oracle
    // keystone; see the class doc)
    var total = 0L
    sorted.foreach(i => total += ms(i))
    val denom = total - ms(sorted(n - 1))
    if (denom <= 0L) return vs(sorted(0)) // single positive-weight pair
    val denomD = denom.toDouble
    // walk ascending: p_j = S_{j-1} / denom, strictly increasing —
    // track the bracketing pair around alpha
    var cum = 0L
    var vLo = 0.0; var pLo = 0.0
    var vHi = 0.0; var pHi = 0.0
    var found = false
    var j = 0
    while (j < n && !found) {
      val p = cum.toDouble / denomD
      val v = vs(sorted(j))
      if (p <= alpha) { vLo = v; pLo = p }
      if (p >= alpha) { vHi = v; pHi = p; found = true }
      cum += ms(sorted(j))
      j += 1
    }
    if (!found) { // alpha ≥ 1 boundary (p_n = 1): the max value
      vHi = vs(sorted(n - 1)); pHi = 1.0
      if (pLo == pHi) return vLo
    }
    if (pLo == pHi) vLo
    else vLo + (vHi - vLo) * ((alpha - pLo) / (pHi - pLo))
  }

  /** Indices 0..n-1 stably sorted ascending by (vs(i), ms(i)) — a
    * primitive bottom-up merge sort (no boxing; see the call site). */
  private def sortedIdx(vs: Array[Double], ms: Array[Long], n: Int): Array[Int] = {
    var src = new Array[Int](n)
    var dst = new Array[Int](n)
    var i = 0
    while (i < n) { src(i) = i; i += 1 }
    @inline def lte(a: Int, b: Int): Boolean = {
      val c = java.lang.Double.compare(vs(a), vs(b))
      c < 0 || (c == 0 && ms(a) <= ms(b))
    }
    var width = 1
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var a = lo; var b = mid; var o = lo
        while (a < mid && b < hi) {
          if (lte(src(a), src(b))) { dst(o) = src(a); a += 1 }
          else { dst(o) = src(b); b += 1 }
          o += 1
        }
        while (a < mid) { dst(o) = src(a); a += 1; o += 1 }
        while (b < hi) { dst(o) = src(b); b += 1; o += 1 }
        lo = hi
      }
      val t = src; src = dst; dst = t
      width *= 2
    }
    src
  }
}
