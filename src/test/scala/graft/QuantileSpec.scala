package graft

import graft.functions.{QuantileGather, WeightedQuantile}
import graft.operators.TreeBoost
import org.apache.spark.sql.functions._

/** The quantile-objective aggregation stack: the cumulative-weight
  * interpolated quantile kernel/aggregator (the weighted renewal),
  * its w ≡ 1 reduction to Spark `percentile` ≡ quantile_cont, and
  * TreeBoost's exact-vs-approx production switch. */
class QuantileSpec extends SparkSpec {

  private def pairs(vw: (Double, Double)*): Array[Double] =
    vw.flatMap { case (v, w) => Seq(v, w) }.toArray

  /** The weighted exact renewal's kernel-side gather over (value,
    * weight) rows, as a two-partition block pass runs it: each half's
    * state sent as its partial and merged in order. A residual is never
    * null, so a null value never reaches the gather; it is skipped here,
    * as the former aggregate skipped it. */
  private def gathered(alpha: Double, rows: Seq[(java.lang.Double, java.lang.Double)]): Double = {
    val g = QuantileGather(weighted = true, exact = true, alpha, 2000)
    rows.grouped((rows.size + 1) / 2).foreach { part =>
      val st = QuantileGather(weighted = true, exact = true, alpha, 2000)
      part.foreach { case (v, w) => if (v != null) st.add(v, w) }
      g.merge(st.partial())
    }
    g.result()
  }

  test("unit weights reduce to quantile_cont positions (j-1)/(n-1)") {
    val vs = Seq(3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0)
    val buf = pairs(vs.map(v => (v, 1.0)): _*)
    // reference: sorted values, position (j-1)/(n-1), linear interp —
    // Spark percentile / DuckDB quantile_cont's exact rule
    def qc(alpha: Double): Double = {
      val s = vs.sorted
      val pos = alpha * (s.length - 1)
      val lo = pos.toInt
      if (lo == s.length - 1) s.last
      else s(lo) + (s(lo + 1) - s(lo)) * (pos - lo)
    }
    for (a <- Seq(0.1, 0.25, 0.5, 0.75, 0.9))
      assertClose(WeightedQuantile.of(buf, a).doubleValue, qc(a), 1e-12)
  }

  test("unit-weight aggregator matches Spark percentile to sub-ULP") {
    import spark.implicits._
    val vs = Seq(3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, -2.0, 0.0, 7.7)
    val df = vs.map(v => (v, 1.0)).toDF("v", "w")
    // positions coincide exactly ((j−1)/(n−1)), but the interpolation
    // op ORDER differs: this kernel computes (α−pLo)/(pHi−pLo) where
    // percentile computes pos − floor(pos) — a ≤2-ULP divergence the
    // r6 round absorbs (the fit-level test below shows where even the
    // bits line up)
    for (a <- Seq(0.1, 0.5, 0.9)) {
      val got = gathered(a, vs.map(v => (v: java.lang.Double, 1.0: java.lang.Double)))
      val want = df.agg(percentile(col("v"), lit(a))).collect()(0).getDouble(0)
      assertClose(got, want, 1e-12)
    }
  }

  test("fractional weights: hand-computed brackets") {
    // sorted pairs (1,1),(2,1),(3,2): W=4, w_last=2, denom=2 →
    // positions 0, 0.5, 1.0
    val buf = pairs((3.0, 2.0), (1.0, 1.0), (2.0, 1.0))
    assertClose(WeightedQuantile.of(buf, 0.5).doubleValue, 2.0, 1e-12)
    assertClose(WeightedQuantile.of(buf, 0.75).doubleValue, 2.5, 1e-12)
    assertClose(WeightedQuantile.of(buf, 0.25).doubleValue, 1.5, 1e-12)
    // doubling every weight leaves the quantile invariant
    val buf2 = pairs((3.0, 4.0), (1.0, 2.0), (2.0, 2.0))
    for (a <- Seq(0.2, 0.5, 0.8))
      assertClose(WeightedQuantile.of(buf2, a).doubleValue,
        WeightedQuantile.of(buf, a).doubleValue, 1e-12)
  }

  test("edges: empty null, single pair, zero weights skipped on input") {
    assert(WeightedQuantile.of(Array.emptyDoubleArray, 0.5) == null)
    assertClose(WeightedQuantile.of(pairs((7.0, 0.3)), 0.9).doubleValue, 7.0, 0)
    // the gather drops zero/negative weights (and null values never
    // reach it)
    val got = gathered(0.5, Seq((1.0: java.lang.Double, 1.0: java.lang.Double),
      (100.0: java.lang.Double, 0.0: java.lang.Double),
      (null: java.lang.Double, 1.0: java.lang.Double),
      (3.0: java.lang.Double, 1.0: java.lang.Double)))
    assertClose(got, 2.0, 1e-12)
  }

  // synthetic panel: two entities, noisy trends with spread residuals
  private def qPanel() = {
    def mk(seed: Int, n: Int) = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map(i => 10.0 + 0.3 * i + rnd.nextGaussian() * 3.0)
    }
    panel(mk(1, 60), mk(2, 60))
  }

  test("quantileExact=false tracks the exact fit within sketch tolerance") {
    val p = qPanel()
    def preds(exact: Boolean) =
      TreeBoost.fit(p, lags = 4, freq = "1i", rounds = 3, bins = 4,
        objective = "quantile", objParam = 0.9, quantileExact = exact)
        .predict(p, "t", fh = 3)
        .orderBy("entity", "t").collect().map(_.getDouble(2))
    val (ex, ap) = (preds(true), preds(false))
    assert(ex.length == ap.length && ex.length == 6)
    // accuracy 1e5 on a few-hundred-row panel: GK rank error ≤ 1e-5 →
    // the sketch is exact here up to interpolation-cell choice; allow
    // a small relative tolerance for the compounded leaf values
    ex.zip(ap).foreach { case (e, a) =>
      assert(math.abs(e - a) <= 1e-6 * math.max(1.0, math.abs(e)) + 0.15,
        s"exact $e vs approx $a diverged beyond sketch tolerance")
    }
  }

  test("weighted quantile objective fits and shifts with the weights") {
    val p = qPanel()
    val unw = TreeBoost.fit(p, lags = 4, freq = "1i", rounds = 3, bins = 4,
      objective = "quantile", objParam = 0.9)
      .predict(p, "t", fh = 2).orderBy("entity", "t").collect()
      .map(_.getDouble(2))
    val w = TreeBoost.fit(p, lags = 4, freq = "1i", rounds = 3, bins = 4,
      objective = "quantile", objParam = 0.9,
      weight = Some((rn, cnt) => lit(1.0) / (lit(1.0) + (cnt - rn) / lit(10.0))))
      .predict(p, "t", fh = 2).orderBy("entity", "t").collect()
      .map(_.getDouble(2))
    assert(unw.length == 4 && w.length == 4)
    assert(unw.forall(v => !v.isNaN) && w.forall(v => !v.isNaN))
    // the recency weighting must actually reach the renewal: on a
    // trending panel the weighted 90th-percentile fit differs
    assert(unw.zip(w).exists { case (a, b) => math.abs(a - b) > 1e-9 },
      s"weighted quantile fit identical to unweighted: ${unw.toSeq}")
  }

  test("constant weights reproduce the unweighted quantile fit exactly") {
    val p = qPanel()
    def preds(weight: Option[(org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column]) =
      TreeBoost.fit(p, lags = 3, freq = "1i", rounds = 2, bins = 4,
        objective = "quantile", objParam = 0.75, weight = weight)
        .predict(p, "t", fh = 2).orderBy("entity", "t").collect()
        .map(_.getDouble(2))
    val u = preds(None)
    val c = preds(Some((_, _) => lit(1.0)))
    // w ≡ 1: the POSITIONS are bit-identical to percentile's, but the
    // interpolation op order ((α−pLo)/(pHi−pLo) vs pos−floor(pos))
    // and the split gradient arithmetic (α·Σm − Σm_le vs float ±α
    // accumulation) each admit a few-ULP drift whose cancellation is
    // data-dependent — so assert a tight tolerance, not bit identity
    // (ADVICE r11: the bit-exact form was brittle to panel/seed/alpha
    // changes even while both fits are individually bit-stable)
    u.zip(c).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(a)),
        s"$a != $b beyond 1e-12 relative")
    }
  }

  test("negative sample weights are rejected loudly") {
    val p = qPanel()
    val e = intercept[IllegalArgumentException] {
      TreeBoost.fit(p, lags = 3, freq = "1i", rounds = 2, bins = 4,
        weight = Some((rn, cnt) => rn - cnt)) // rn < cnt → negative
    }
    assert(e.getMessage.contains("non-negative"), e.getMessage)
  }

  test("weighted sketch kernel: no-overflow groups reproduce the exact kernel") {
    val rnd = new scala.util.Random(7)
    val vw = (0 until 2000).map(_ => (rnd.nextGaussian() * 5 + 3,
      0.1 + rnd.nextDouble() * 4))
    val sk = new graft.functions.WeightedQuantileSketch()
    vw.foreach { case (v, w) => sk.add(v, w) }
    val exact = pairs(vw: _*)
    // under bufCap, compression only runs at query time and every
    // centroid ≤ W/δ merge preserves ranks to ~1/δ; the reused exact
    // kernel then interpolates the same rule — tolerance is the
    // value-domain image of the 1/δ = 5e-4 rank error on this spread
    for (a <- Seq(0.05, 0.25, 0.5, 0.75, 0.95)) {
      val e = WeightedQuantile.of(exact, a).doubleValue
      val s = sk.quantile(a).doubleValue
      assert(math.abs(e - s) <= 0.05, s"alpha=$a exact=$e sketch=$s")
    }
  }

  test("weighted sketch: compression bounds centroids, big stream stays accurate") {
    val rnd = new scala.util.Random(11)
    val n = 60000
    val sk = new graft.functions.WeightedQuantileSketch()
    val vw = (0 until n).map(_ => (rnd.nextGaussian(), 0.5 + rnd.nextDouble()))
    vw.foreach { case (v, w) => sk.add(v, w) }
    sk.compress()
    assert(sk.centroidCount <= 2 * sk.delta + 1,
      s"centroids ${sk.centroidCount} exceed the 2δ bound")
    val exact = pairs(vw: _*)
    for (a <- Seq(0.1, 0.5, 0.9)) {
      val e = WeightedQuantile.of(exact, a).doubleValue
      val s = sk.quantile(a).doubleValue
      // N(0,1): a 5e-4 rank error is ≤ ~2e-3 in value near these α
      assert(math.abs(e - s) <= 0.02, s"alpha=$a exact=$e sketch=$s")
    }
  }

  test("weighted + quantileExact=false fits via the bounded sketch, tracks exact") {
    val p = qPanel()
    def preds(exact: Boolean) =
      TreeBoost.fit(p, lags = 4, freq = "1i", rounds = 3, bins = 4,
        objective = "quantile", objParam = 0.8,
        weight = Some((rn, cnt) => lit(1.0) / (lit(1.0) + (cnt - rn) / lit(10.0))),
        quantileExact = exact)
        .predict(p, "t", fh = 2).orderBy("entity", "t").collect()
        .map(_.getDouble(2))
    val (ex, ap) = (preds(true), preds(false))
    assert(ex.length == 4 && ap.length == 4)
    // a 120-point panel never overflows the sketch buffer: renewals
    // agree to quantization + the pinball split path's sensitivity —
    // allow the same compounded-leaf tolerance as the unweighted twin
    ex.zip(ap).foreach { case (e, a) =>
      assert(math.abs(e - a) <= 1e-6 * math.max(1.0, math.abs(e)) + 0.15,
        s"exact $e vs sketch $a diverged beyond tolerance")
    }
  }
  test("weighted sketch delta sweep: realized rank error scales with 1/δ") {
    // the δ knob's contract (r12 verdict #5): max rank error ≈ 1/δ, so
    // a 10× budget must buy ~10× accuracy at 10× the state. Measured
    // as the exact weighted CDF rank of each sketch answer vs its α.
    val rnd = new scala.util.Random(7)
    val n = 120000
    val vw = (0 until n).map(_ => (rnd.nextGaussian(), 0.5 + rnd.nextDouble()))
    val sorted = vw.sortBy(_._1)
    val cum = sorted.scanLeft(0.0)(_ + _._2).tail
    val w = cum.last
    def rankOf(x: Double): Double = {
      val i = sorted.indexWhere(_._1 > x)
      if (i < 0) 1.0 else if (i == 0) 0.0 else cum(i - 1) / w
    }
    def maxErr(delta: Int): Double = {
      val sk = new graft.functions.WeightedQuantileSketch(delta, 8192)
      vw.foreach { case (v, wt) => sk.add(v, wt) }
      sk.compress()
      assert(sk.centroidCount <= 2 * delta + 1,
        s"centroids ${sk.centroidCount} exceed the 2δ bound at δ=$delta")
      (1 to 19).map(_ * 0.05).map { a =>
        math.abs(rankOf(sk.quantile(a).doubleValue) - a)
      }.max
    }
    val e2k = maxErr(2000)
    val e20k = maxErr(20000)
    // realized error stays within a small multiple of the 1/δ bound
    assert(e2k <= 5.0 / 2000, s"δ=2000 realized rank error $e2k > 5/δ")
    assert(e20k <= 5.0 / 20000, s"δ=20000 realized rank error $e20k > 5/δ")
    assert(e20k < e2k / 2, s"10× budget must shrink the realized error ($e2k -> $e20k)")
  }

  test("weighted sketch kryo roundtrip preserves a non-default budget") {
    val sk = new graft.functions.WeightedQuantileSketch(500, 1024)
    val rnd = new scala.util.Random(3)
    (0 until 5000).foreach(_ => sk.add(rnd.nextGaussian(), 1.0 + rnd.nextDouble()))
    val kryo = new com.esotericsoftware.kryo.Kryo()
    kryo.setRegistrationRequired(false)
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new com.esotericsoftware.kryo.io.Output(bytes)
    kryo.writeObject(out, sk)
    out.close()
    val back = kryo.readObject(
      new com.esotericsoftware.kryo.io.Input(bytes.toByteArray),
      classOf[graft.functions.WeightedQuantileSketch])
    assert(back.delta == 500 && back.bufCap == 1024,
      s"budget not restored: ${back.delta}/${back.bufCap}")
    for (a <- Seq(0.1, 0.5, 0.9))
      assert(back.quantile(a).doubleValue == sk.quantile(a).doubleValue)
    // mixing budgets in a merge fails loud instead of silently
    // degrading the tighter bound
    val other = new graft.functions.WeightedQuantileSketch(2000, 8192)
    intercept[IllegalArgumentException] { sk.mergeWith(other) }
  }

  test("TreeBoost quantileDelta knob reaches the weighted sketch renewal") {
    val p = qPanel()
    def preds(delta: Int) =
      TreeBoost.fit(p, lags = 4, freq = "1i", rounds = 3, bins = 4,
        objective = "quantile", objParam = 0.8,
        weight = Some((rn, cnt) => lit(1.0) / (lit(1.0) + (cnt - rn) / lit(10.0))),
        quantileExact = false, quantileDelta = delta)
        .predict(p, "t", fh = 2).orderBy("entity", "t").collect()
        .map(_.getDouble(2))
    // a 120-point panel never overflows either budget's buffer: both
    // fits reduce to the raw-pair exact path, so the knob must be
    // value-neutral here — this pins the plumbing, the accuracy
    // scaling is pinned by the sweep test above
    val (d2k, d20k) = (preds(2000), preds(20000))
    assert(d2k.length == 4)
    d2k.zip(d20k).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
  }
}
