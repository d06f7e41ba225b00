package graft.functions

/** Bounded-memory weighted quantile sketch — the PRODUCTION twin of
  * the exact [[WeightedQuantile]] renewal (TreeBoost's
  * `quantileExact = false` with sample weights), completing the
  * weighted analog of `approx_percentile`'s role for the unweighted
  * objective. The exact renewal buffers every (value, weight) pair
  * per leaf — unbounded on a 100 TB panel of continuous targets; this
  * sketch holds at most ~2δ weight-merged centroids per group.
  *
  * Design: a Ben-Haim/Tom-Z-style streaming merging histogram with a
  * UNIFORM weight budget (the t-digest k0 scale). Points buffer up to
  * `bufCap`; on overflow (and on partial-merge and finish) the
  * centroids + buffer are value-sorted and greedily merged left to
  * right while a merged centroid's weight stays ≤ W/δ (weighted mean
  * combine) — a single pass, so compression is O(n log n) in the
  * batch and the stored state is ≤ 2δ (mean, weight) pairs. Heavier
  * single points than W/δ stand alone (their rank is then EXACT).
  * Max rank error per query ≈ 1/δ (the heaviest merged bin), δ =
  * 2000 → ~5·10⁻⁴ — looser than the unweighted GK-at-1e5 twin, which
  * is the price of fractional weights (GK's tuple bounds assume unit
  * increments); QuantileSpec pins the realized tolerance vs the
  * exact mode.
  *
  * The quantile query REUSES the exact kernel over the compressed
  * pairs ([[WeightedQuantile.of]] — centroid weights pre-scaled to
  * 1e9/W so the microweight lattice neither saturates nor loses
  * sub-centroid resolution; positions are weight-scale invariant),
  * so a group that never overflows the point buffer reproduces the
  * exact weighted renewal to quantization (≤1e-9 relative weight).
  *
  * NOT bitwise-oracle-checkable by construction: the centroid set
  * depends on the partition merge order, like every sketch. The
  * oracle-gated mode stays `quantileExact = true`; this twin is
  * spec-pinned against it (QuantileSpec) and soak-measured
  * (QuantileSoak weighted row, SCALE.md).
  */
final class WeightedQuantileSketch(private var delta0: Int, private var bufCap0: Int)
    extends Serializable with com.esotericsoftware.kryo.KryoSerializable {

  def this() = this(2000, 8192)

  /** Accuracy budget: ≤ ~2δ stored centroids, ~1/δ max rank error.
    * Mutable only so Kryo [[read]] can restore a non-default budget
    * (the no-arg deserialization ctor starts at the default). */
  def delta: Int = delta0
  def bufCap: Int = bufCap0

  // compressed centroids, value-sorted after compress()
  private var cMean: Array[Double] = Array.emptyDoubleArray
  private var cW: Array[Double] = Array.emptyDoubleArray
  private var nc: Int = 0
  // incoming point buffer (amortizes the sort)
  private var bMean: Array[Double] = new Array[Double](64)
  private var bW: Array[Double] = new Array[Double](64)
  private var nb: Int = 0
  private var total: Double = 0.0

  def centroidCount: Int = nc
  /** Compressed-centroid accessors (call [[compress]] first) — the
    * streaming gate persists the bounded set as its group state. */
  def centroidMean(i: Int): Double = cMean(i)
  def centroidWeight(i: Int): Double = cW(i)

  def add(v: Double, w: Double): this.type = {
    if (w <= 0.0 || v.isNaN) return this
    if (nb == bMean.length && nb < bufCap) {
      val cap = math.min(bufCap, nb * 2)
      bMean = java.util.Arrays.copyOf(bMean, cap)
      bW = java.util.Arrays.copyOf(bW, cap)
    }
    if (nb == bufCap) compress()
    bMean(nb) = v; bW(nb) = w; nb += 1
    total += w
    this
  }

  def mergeWith(o: WeightedQuantileSketch): this.type = {
    // partials of one aggregation always share a budget; a mismatch
    // means two different-δ sketches were mixed — fail loud, a silent
    // mix would quietly degrade the tighter side's error bound
    require(o.delta == delta && o.bufCap == bufCap,
      s"weighted-quantile sketch budget mismatch (${o.delta}/${o.bufCap} vs $delta/$bufCap)")
    var i = 0
    while (i < o.nc) { add(o.cMean(i), o.cW(i)); i += 1 }
    i = 0
    while (i < o.nb) { add(o.bMean(i), o.bW(i)); i += 1 }
    this
  }

  /** One-pass greedy uniform-budget merge of centroids + buffer. */
  def compress(): Unit = {
    val n = nc + nb
    if (n == 0) return
    val m = new Array[Double](n)
    val w = new Array[Double](n)
    System.arraycopy(cMean, 0, m, 0, nc)
    System.arraycopy(cW, 0, w, 0, nc)
    System.arraycopy(bMean, 0, m, nc, nb)
    System.arraycopy(bW, 0, w, nc, nb)
    val idx = Array.range(0, n).sortBy(i => (m(i), w(i)))
    val limit = total / delta
    val om = new Array[Double](n)
    val ow = new Array[Double](n)
    var k = -1
    var i = 0
    while (i < n) {
      val mi = m(idx(i)); val wi = w(idx(i))
      if (k >= 0 && ow(k) + wi <= limit) {
        // weighted-mean combine (the BH update rule)
        val tw = ow(k) + wi
        om(k) = (om(k) * ow(k) + mi * wi) / tw
        ow(k) = tw
      } else {
        k += 1; om(k) = mi; ow(k) = wi
      }
      i += 1
    }
    nc = k + 1
    cMean = java.util.Arrays.copyOf(om, nc)
    cW = java.util.Arrays.copyOf(ow, nc)
    nb = 0
    if (bMean.length > 64) { bMean = new Array[Double](64); bW = new Array[Double](64) }
  }

  /** Interpolated weighted quantile over the compressed centroids —
    * the exact kernel's position/interpolation rule applied to the
    * sketch state; null for an empty sketch. */
  def quantile(alpha: Double): java.lang.Double = {
    // a group that never overflowed the point buffer (nc == 0: no
    // compression ever ran) queries its RAW pairs — reproducing the
    // exact weighted renewal to the 1e-9-relative weight quantization
    if (nc == 0) {
      if (nb == 0) return null
      val s = 1e9 / total
      val pairs = new Array[Double](2 * nb)
      var i = 0
      while (i < nb) {
        pairs(2 * i) = bMean(i)
        pairs(2 * i + 1) = bW(i) * s
        i += 1
      }
      return WeightedQuantile.of(pairs, alpha)
    }
    compress()
    if (nc == 0) return null
    // pre-scale weights to sum ~1e9: microweights stay ≤ 1e15 (no
    // Long saturation, full lattice exactness) with 1e-15-of-total
    // resolution — far below the sketch's own 1/δ rank error
    val s = 1e9 / total
    val pairs = new Array[Double](2 * nc)
    var i = 0
    while (i < nc) {
      pairs(2 * i) = cMean(i)
      pairs(2 * i + 1) = cW(i) * s
      i += 1
    }
    WeightedQuantile.of(pairs, alpha)
  }

  override def write(kryo: com.esotericsoftware.kryo.Kryo,
                     output: com.esotericsoftware.kryo.io.Output): Unit = {
    compress() // the wire image is always the bounded centroid set
    output.writeInt(delta)
    output.writeInt(bufCap)
    output.writeInt(nc)
    output.writeDouble(total)
    output.writeDoubles(cMean)
    output.writeDoubles(cW)
  }

  override def read(kryo: com.esotericsoftware.kryo.Kryo,
                    input: com.esotericsoftware.kryo.io.Input): Unit = {
    // the wire image carries the budget — restore it (the no-arg
    // deserialization ctor starts at the default; mergeWith enforces
    // agreement between partials, so budgets still never mix)
    delta0 = input.readInt(); bufCap0 = input.readInt()
    nc = input.readInt()
    total = input.readDouble()
    cMean = input.readDoubles(nc)
    cW = input.readDoubles(nc)
    nb = 0
  }
}
