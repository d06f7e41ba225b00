package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Backtest orchestration, auto lag selection, elite ensemble, KNN. */
class AutoForecastSpec extends SparkSpec {

  test("backtest tags splits and aligns pred/actual by horizon (backtesting.py:108)") {
    val p = panel((1 to 30).map(_.toDouble))
    val bt = Conformal.backtest(p, "t", testSize = 3, nSplits = 2, stepSize = 2,
      (train, fh) => Forecasters.naive(train, "t", fh, "1i"))
    val rows = bt.orderBy("split", "t").collect()
    assert(rows.length == 6) // 2 splits × 3 test steps
    // split 0: train = rows 1..25 (cutoff 3+2=5 from end), naive pred = 25
    assert(rows.filter(_.getAs[Int]("split") == 0).forall(_.getAs[Double]("pred") == 25.0))
    assert(rows.filter(_.getAs[Int]("split") == 1).forall(_.getAs[Double]("pred") == 27.0))
    // actuals line up with the true series values
    assert(rows.filter(_.getAs[Int]("split") == 0).map(_.getAs[Double]("actual")).toSeq
      == Seq(26.0, 27.0, 28.0))
  }

  test("backtestNaivePrefix equals the generic naive backtest (sp=1 and sp=3)") {
    val p = panel((1 to 40).map(t => (t % 5).toDouble * 3 + t), (1 to 40).map(_ * 2.0))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("entity", "t", "split", "actual", "pred")
        .collect().map(_.toSeq).toSet
    val generic1 = Conformal.backtest(p, "t", 4, 2, 3,
      (tr, h) => Forecasters.naive(tr, "t", h, "1i"))
    assert(canon(AutoForecast.backtestNaivePrefix(p, "t", 1, 4, 2, 3)) == canon(generic1))
    val generic3 = Conformal.backtest(p, "t", 4, 2, 3,
      (tr, h) => Forecasters.snaive(tr, "t", h, sp = 3, freq = "1i"))
    assert(canon(AutoForecast.backtestNaivePrefix(p, "t", 3, 4, 2, 3)) == canon(generic3))
  }

  test("autoLinear picks the lag that models the process (fit_cv, _ar.py:117)") {
    // AR(2) via sin: needs ≥2 lags; lag grid {1, 3} → 3 must win
    val signal = (0 until 60).map(t => 50 + 20 * math.sin(0.3 * t))
    val p = panel(signal)
    val (bestLags, bestScore, model) =
      AutoForecast.autoLinear(p, "t", "1i", lagGrid = Seq(1, 3), testSize = 5, nSplits = 2, stepSize = 3)
    assert(bestLags == 3, s"chose $bestLags (score $bestScore)")
    val preds = model.predict(p, "t", fh = 3).orderBy("t").collect().map(_.getAs[Double]("value"))
    val want = (60 until 63).map(t => 50 + 20 * math.sin(0.3 * t))
    preds.zip(want).foreach { case (g, w) => assertClose(g, w, 1e-3) }
  }

  test("autoRidge/autoLasso sweep lags like auto_ridge/auto_lasso (automl.py)") {
    val signal = (0 until 60).map(t => 50 + 20 * math.sin(0.3 * t))
    val p = panel(signal)
    val (ridgeLags, _, ridgeModel) =
      AutoForecast.autoRidge(p, "t", "1i", lagGrid = Seq(1, 3), regParam = 0.01)
    assert(ridgeLags == 3, s"ridge chose $ridgeLags")
    val preds = ridgeModel.predict(p, "t", fh = 2).orderBy("t").collect()
      .map(_.getAs[Double]("value"))
    val want = (60 until 62).map(t => 50 + 20 * math.sin(0.3 * t))
    preds.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 2.0, s"$g vs $w") }
    val (lassoLags, _, _) =
      AutoForecast.autoLasso(p, "t", "1i", lagGrid = Seq(1, 3), regParam = 0.01)
    assert(lassoLags == 3, s"lasso chose $lassoLags")
  }

  test("stump boosting splits on the signal and shrinks residuals (lightgbm.py:103)") {
    // alternating step process: lag 1 and lag 2 are equally (fully)
    // informative — the split chooser may take either; what matters is
    // that the boosted predictions converge on the true step values
    val signal = (0 until 80).map(t => if (t % 2 == 0) 10.0 else 90.0)
    val p = panel(signal)
    val m = StumpBoost.fit(p, lags = 3, freq = "1i", rounds = 5, bins = 8, eta = 0.5)
    assert(m.stumps.length == 5)
    // every threshold separates the two levels; each stump's leaves
    // straddle (one side pushes up, the other down)
    assert(m.stumps.forall(s => s.thr > 10.0 && s.thr < 90.0),
      m.stumps.map(_.thr).toString)
    assert(m.stumps.forall(s => s.vl * s.vr <= 0.0),
      m.stumps.map(s => (s.vl, s.vr)).toString)
    // boosted predictions approach the alternating values as rounds
    // compound: b0 ≈50 → ±η·residual per round
    val preds = m.predict(p, "t", fh = 2).orderBy("t").collect()
      .map(_.getAs[Double]("value"))
    assert(math.abs(preds(0) - 10.0) < 4.0, s"h1 ${preds(0)}") // after 80: even → 10
    assert(math.abs(preds(1) - 90.0) < 4.0, s"h2 ${preds(1)}")
  }

  test("stump boosting on an empty reduction throws an actionable error") {
    // every entity shorter than lags → zero complete training rows;
    // must match the Ols.fit / Logistic.fitIrls error contract, not NPE
    val p = panel((0 until 2).map(_.toDouble))
    val e = intercept[IllegalArgumentException] {
      StumpBoost.fit(p, lags = 3, freq = "1i", rounds = 2, bins = 4)
    }
    assert(e.getMessage.contains("no complete training rows"))
  }

  test("autoGbt sweeps lags and picks the one that models the process (automl.py:191)") {
    // 5,40,5,75 repeating: after a 5 comes 40 OR 75 depending on the
    // phase — one lag is ambiguous, three lags disambiguate
    val signal = (0 until 96).map(t => Seq(5.0, 40.0, 5.0, 75.0)(t % 4))
    val p = panel(signal)
    val (bestLags, score, model) = AutoForecast.autoGbt(p, "t", "1i",
      lagGrid = Seq(1, 3), maxIter = 5, maxDepth = 3, testSize = 3, nSplits = 2, stepSize = 3)
    assert(bestLags == 3, s"chose $bestLags (smape $score)")
    assert(model.predict(p, "t", fh = 3).count() == 3L)
  }

  test("depth-2 tree boosting converges on the step process and refines per child") {
    val signal = (0 until 80).map(t => if (t % 2 == 0) 10.0 else 90.0)
    val p = panel(signal)
    val m = TreeBoost.fit(p, lags = 3, freq = "1i", rounds = 5, bins = 8, eta = 0.5)
    assert(m.trees.length == 5)
    // every root threshold separates the two levels, and the leaves of
    // the two children straddle the base (one pushes up, one down)
    assert(m.trees.forall(t => t.thr > 10.0 && t.thr < 90.0),
      m.trees.map(_.thr).toString)
    val preds = m.predict(p, "t", fh = 2).orderBy("t").collect()
      .map(_.getAs[Double]("value"))
    assert(math.abs(preds(0) - 10.0) < 4.0, s"h1 ${preds(0)}")
    assert(math.abs(preds(1) - 90.0) < 4.0, s"h2 ${preds(1)}")
  }

  test("depth-2 trees capture a conditional split a single stump cannot") {
    // 4-phase process 5,40,5,75: after a 5 the next value is 40 or 75
    // depending on what PRECEDED the 5 — exactly a root-split-on-lag1
    // + child-split-on-lag2 shape
    val signal = (0 until 96).map(t => Seq(5.0, 40.0, 5.0, 75.0)(t % 4))
    val p = panel(signal)
    val m2 = TreeBoost.fit(p, lags = 2, freq = "1i", rounds = 6, bins = 8, eta = 0.5)
    val preds = m2.predict(p, "t", fh = 4).orderBy("t").collect()
      .map(_.getAs[Double]("value"))
    // after t=95 (75) the cycle continues 5,40,5,75
    val want = Seq(5.0, 40.0, 5.0, 75.0)
    preds.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 8.0, s"$g vs $w (${preds.toSeq})")
    }
  }

  test("tree boosting on an empty reduction throws an actionable error") {
    val p = panel((0 until 2).map(_.toDouble))
    val e = intercept[IllegalArgumentException] {
      TreeBoost.fit(p, lags = 3, freq = "1i", rounds = 2, bins = 4)
    }
    assert(e.getMessage.contains("no complete training rows"))
  }

  test("tree boosting poisson/gamma objectives: log-link recursion recovers the level") {
    // constant positive series: every deviance gradient vanishes at
    // F = ln(ȳ), so both log-link objectives must predict the
    // constant back through the exp recursion (lightgbm.py:103's
    // objective options, re-derived as deterministic gradient steps)
    val p = panel(Seq.fill(30)(12.0))
    Seq("poisson", "gamma").foreach { obj =>
      val out = TreeBoost.fit(p, lags = 3, freq = "1i", rounds = 3, bins = 4,
        eta = 0.3, objective = obj).predict(p, "t", fh = 3).collect()
      assert(out.length == 3, obj)
      out.foreach(r => assertClose(r.getDouble(2), 12.0, 1e-9))
    }
    // log link needs a positive target mean — fail loud, not NaN
    intercept[IllegalArgumentException] {
      TreeBoost.fit(panel(Seq.fill(20)(-1.0)), lags = 2, freq = "1i",
        objective = "poisson")
    }
    intercept[IllegalArgumentException] {
      TreeBoost.fit(p, lags = 2, freq = "1i", objective = "huber")
    }
  }

  test("tree boosting tweedie objective: log-link level recovery, zero targets native") {
    // constant positive series: the tweedie Newton ratio
    // (y − e^F)/((p−1)y + (2−p)e^F) vanishes at F = ln(ȳ) for any
    // variance power, so the recursion returns the constant
    val p = panel(Seq.fill(30)(12.0))
    val out = TreeBoost.fit(p, lags = 3, freq = "1i", rounds = 3, bins = 4,
      eta = 0.3, objective = "tweedie", objParam = 1.5)
      .predict(p, "t", fh = 3).collect()
    assert(out.length == 3)
    out.foreach(r => assertClose(r.getDouble(2), 12.0, 1e-9))
    // zero targets are native to tweedie (denominator (2−p)e^F > 0):
    // a zero-heavy count-like series fits and emits finite forecasts
    val zs = panel((0 until 40).map(t => if (t % 3 == 0) 0.0 else 6.0))
    val outZ = TreeBoost.fit(zs, lags = 2, freq = "1i", rounds = 3, bins = 4,
      eta = 0.3, objective = "tweedie", objParam = 1.3)
      .predict(zs, "t", fh = 2).collect()
    assert(outZ.length == 2)
    outZ.foreach(r => assert(java.lang.Double.isFinite(r.getDouble(2)), r.toString))
    // variance power is constrained to the compound-poisson range
    intercept[IllegalArgumentException] {
      TreeBoost.fit(p, lags = 2, freq = "1i", objective = "tweedie", objParam = 2.5)
    }
  }

  test("quantile objective: leaf renewal puts coverage at alpha (lightgbm.py:25-27)") {
    // hash-like noise (no lag structure): the empirical coverage of
    // the FITTED score — fraction of training rows with y ≤ F(lags) —
    // must sit at alpha: renewal sets every leaf to the conditional
    // Q_alpha, the pinball fixed point. Mean-gradient leaves would
    // FAIL this: the pinball gradient has |g| ≤ 1, so without renewal
    // the score barely moves off anything in 4 rounds when the data
    // scale is 100.
    val noise = (0 until 200).map { t =>
      val h = math.abs(math.sin(t * 12.9898) * 43758.5453)
      (h - math.floor(h)) * 100.0
    }
    val p = panel(noise)
    val lags = 2
    // training rows exactly as fit sees them: (lag1, lag2, y)
    val rows = noise.sliding(lags + 1).map(w => (w.take(lags).reverse.toArray, w.last)).toSeq
    def coverageAt(alpha: Double): (Double, Double) = {
      val m = TreeBoost.fit(p, lags = lags, freq = "1i", rounds = 4, bins = 4,
        eta = 0.5, objective = "quantile", objParam = alpha)
      val cov = rows.count { case (f, y) => y <= m.score(f) }.toDouble / rows.length
      (cov, m.predict(p, "t", fh = 1).collect()(0).getDouble(2))
    }
    val (cov80, p80) = coverageAt(0.8)
    val (cov20, p20) = coverageAt(0.2)
    assert(math.abs(cov80 - 0.8) < 0.1, s"coverage at 0.8: $cov80 (pred $p80)")
    assert(math.abs(cov20 - 0.2) < 0.1, s"coverage at 0.2: $cov20 (pred $p20)")
    assert(p20 < p80, s"quantile monotonicity: $p20 vs $p80")
    intercept[IllegalArgumentException] {
      TreeBoost.fit(p, lags = 2, freq = "1i", objective = "quantile", objParam = 1.5)
    }
  }

  test("labelClamp replicates _enforce_label_constraint (lightgbm.py:30-47)") {
    // zero-heavy gamma target: default mode nulls the gradient on
    // zero targets; clamp mode rewrites y<=0 to 1 BEFORE the lag
    // reduction — a functime user with zero-heavy gamma targets gets
    // the clamped fit. The two modes must differ, and the clamp mode
    // must equal an explicit pre-clamped fit exactly.
    val zsSeq = (0 until 40).map(t => if (t % 3 == 0) 0.0 else 6.0)
    val zs = panel(zsSeq)
    val dflt = TreeBoost.fit(zs, lags = 2, freq = "1i", rounds = 3, bins = 4,
      eta = 0.3, objective = "gamma")
      .predict(zs, "t", fh = 2).orderBy("t").collect().map(_.getDouble(2))
    val clamped = TreeBoost.fit(zs, lags = 2, freq = "1i", rounds = 3, bins = 4,
      eta = 0.3, objective = "gamma", labelClamp = true)
      .predict(zs, "t", fh = 2).orderBy("t").collect().map(_.getDouble(2))
    val manual = panel(zsSeq.map(v => if (v <= 0) 1.0 else v))
    val explicit = TreeBoost.fit(manual, lags = 2, freq = "1i", rounds = 3,
      bins = 4, eta = 0.3, objective = "gamma")
      .predict(manual, "t", fh = 2).orderBy("t").collect().map(_.getDouble(2))
    assert(clamped.sameElements(explicit),
      s"clamp != explicit pre-clamp: ${clamped.toSeq} vs ${explicit.toSeq}")
    assert(!clamped.sameElements(dflt),
      s"clamp mode should differ from null-gradient default on zero-heavy " +
        s"targets: ${clamped.toSeq}")
    // poisson rejects negative labels LOUDLY unless clamped (ADVICE r9)
    val neg = panel((0 until 30).map(t => if (t % 5 == 0) -2.0 else 8.0))
    val e = intercept[IllegalArgumentException] {
      TreeBoost.fit(neg, lags = 2, freq = "1i", objective = "poisson")
    }
    assert(e.getMessage.contains("labelClamp"), e.getMessage)
    val outNeg = TreeBoost.fit(neg, lags = 2, freq = "1i", rounds = 2, bins = 4,
      objective = "poisson", labelClamp = true).predict(neg, "t", fh = 1).collect()
    assert(outNeg.length == 1 && java.lang.Double.isFinite(outNeg(0).getDouble(2)))
  }

  test("tree boosting sample weights (weight_transform, lightgbm.py:50)") {
    import org.apache.spark.sql.functions.{lit, when}
    // constant weights must reproduce the unweighted model EXACTLY:
    // every weighted statistic is the unweighted one scaled by c, and
    // c cancels in b0, gains, argmax ranks and leaf means (bitwise
    // with c = 1.0)
    val p = panel((0 until 60).map(t => Seq(5.0, 40.0, 5.0, 75.0)(t % 4)))
    val u = TreeBoost.fit(p, lags = 2, freq = "1i", rounds = 3, bins = 4, eta = 0.5)
    val w1 = TreeBoost.fit(p, lags = 2, freq = "1i", rounds = 3, bins = 4,
      eta = 0.5, weight = Some((_, _) => lit(1.0)))
    assert(u.b0 == w1.b0 && u.trees == w1.trees,
      s"constant-weight fit diverged: ${u.trees} vs ${w1.trees}")
    // regime change: hard recency weighting must forecast the NEW
    // level where the unweighted fit is dragged toward the old one
    val series = Seq.tabulate(80)(t =>
      if (t < 60) 10.0 + math.sin(t * 2.1) else 100.0 + math.sin(t * 2.1))
    val rp = panel(series)
    def h1(m: TreeBoost.Model): Double =
      m.predict(rp, "t", fh = 1).collect()(0).getDouble(2)
    val unw = h1(TreeBoost.fit(rp, lags = 2, freq = "1i", rounds = 4, bins = 4,
      eta = 0.5))
    val rec = h1(TreeBoost.fit(rp, lags = 2, freq = "1i", rounds = 4, bins = 4,
      eta = 0.5, weight = Some((rn, cnt) =>
        when(cnt - rn < lit(20), lit(1.0)).otherwise(lit(1e-9)))))
    assert(math.abs(rec - 100.0) < math.abs(unw - 100.0),
      s"weighted $rec should beat unweighted $unw at the new level")
    // weighted quantile renewal is supported as of round 11
    // (WeightedQuantile — QuantileSpec owns its semantics); just pin
    // that the combination fits
    val qw = TreeBoost.fit(p, lags = 2, freq = "1i", objective = "quantile",
      weight = Some((_, _) => lit(1.0)))
    assert(qw.trees.nonEmpty)
  }

  test("autoTreeBoost sweeps lags over the deterministic depth-2 boost") {
    val signal = (0 until 96).map(t => Seq(5.0, 40.0, 5.0, 75.0)(t % 4))
    val p = panel(signal)
    val (bestLags, score, model) = AutoForecast.autoTreeBoost(p, "t", "1i",
      lagGrid = Seq(1, 3), rounds = 5, bins = 8, eta = 0.5,
      testSize = 3, nSplits = 2, stepSize = 3)
    assert(bestLags == 3, s"chose $bestLags (smape $score)")
    assert(model.predict(p, "t", fh = 3).count() == 3L)
  }

  test("autoKnn picks a k that scores the recurring pattern (auto_knn, automl.py)") {
    val signal = (0 until 64).map(t => Seq(1.0, 5.0, 9.0, 5.0)(t % 4))
    val p = panel(signal)
    val (bestK, score) = AutoForecast.autoKnn(p, "t", "1i", lags = 4,
      kGrid = Seq(1, 3), testSize = 2, nSplits = 2, stepSize = 2)
    assert(Seq(1, 3).contains(bestK))
    assert(score < 0.05, s"smape $score") // exact recurrence → near-zero error
  }

  test("elite blends per-entity top-k models (elite.py:269-308)") {
    // entity 0: pure AR — linear wins; entity 1: constant — all equal
    val s0 = (0 until 60).map(t => 50 + 20 * math.sin(0.3 * t))
    val s1 = Seq.fill(60)(5.0)
    val out = AutoForecast.elite(panel(s0, s1), "t", "1i", fh = 3, topK = 1)
    assert(out.count() == 6)
    // constant entity: every model predicts 5 → blend is 5
    out.filter(col("entity") === 1).collect()
      .foreach(r => assertClose(r.getAs[Double]("value"), 5.0, 1e-6))
    // sinusoid entity: top-1 should be a linear model, near the true next values
    val got = out.filter(col("entity") === 0).orderBy("t").collect().map(_.getAs[Double]("value"))
    val want = (60 until 63).map(t => 50 + 20 * math.sin(0.3 * t))
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 2.0, s"$g vs $w") }
  }

  test("KNN predicts the mean label of matching neighborhoods (knn.py:22)") {
    // periodic series: the query tail recurs exactly in training → the
    // nearest neighbors' labels are the true next value
    val signal = (0 until 64).map(t => Seq(1.0, 5.0, 9.0, 5.0)(t % 4))
    val p = panel(signal)
    val out = KnnForecaster.predictOneStep(p, "t", "1i", lags = 4, k = 3).collect()
    assert(out.length == 1)
    // last 4 values are [1,5,9,5] (t=60..63), next value = signal(64 % 4) = 1
    assertClose(out(0).getAs[Double]("value"), 1.0, 1e-9)
  }

  test("LSH KNN path agrees with the exact broadcast path on recurring tails") {
    val signal = (0 until 64).map(t => Seq(1.0, 5.0, 9.0, 5.0)(t % 4))
    val flat = Seq.fill(64)(7.0)
    val p = panel(signal, flat)
    val exact = KnnForecaster.predictOneStep(p, "t", "1i", lags = 4, k = 3)
      .collect().map(r => r.getAs[Number]("entity").longValue -> r.getAs[Double]("value")).toMap
    // generous bucket length → every candidate lands in the query's
    // bucket, so the approximate join degenerates to exact
    val lsh = KnnForecaster.predictOneStepLsh(p, "t", "1i", lags = 4, k = 3,
      bucketLength = 1e6)
      .collect().map(r => r.getAs[Number]("entity").longValue -> r.getAs[Double]("value")).toMap
    assert(lsh.keySet == exact.keySet)
    exact.foreach { case (e, v) => assertClose(lsh(e), v, 1e-9) }
  }
  // ── CFO local search (FLAML's actual trajectory, automl.py:191-229) ──

  test("cfoReachable enumerates the seed-42 walks (hand-checked md5 stream)") {
    // linear arm, 5 evaluations: the md5 stream for (ns=lin, seed=42)
    // moves lags +1 at t=1, lags -1 at t=2, lags +1 at t=3, l1 +1 at
    // t=4 — reachable = lags {3,4,5} x l1 {0.0, 0.25} at the widened
    // lattice's low-cost alpha 0.001 (FLAML loguniform(0.001, 20)
    // lower bound, automl.py:204)
    val (cl, tl) = AutoForecast.cfoReachable("lin", 42L, 5, AutoForecast.dimsLinear)
    assert(cl.map(AutoForecast.decodeLinear) == Seq(
      (3, 0.001, 0.0), (4, 0.001, 0.0), (5, 0.001, 0.0),
      (3, 0.001, 0.25), (4, 0.001, 0.25), (5, 0.001, 0.25)))
    assert(tl == Seq(Map(0 -> 1), Map(0 -> 1, 1 -> 0), Map(0 -> 1, 1 -> 2),
      Map(0 -> 3, 1 -> 4, 2 -> 5)))
    // GBT arm, 3 evaluations: bins +1 at t=1, lags +1 at t=2
    val (cg, tg) = AutoForecast.cfoReachable("gbt", 42L, 3, AutoForecast.dimsGbt)
    assert(cg.map(AutoForecast.decodeGbt) == Seq(
      (3, 2, 3, 0.1), (3, 2, 4, 0.1), (5, 2, 3, 0.1), (5, 2, 4, 0.1)))
    assert(tg == Seq(Map(0 -> 1), Map(0 -> 2, 1 -> 3)))
  }

  test("r14 widened lattice: FLAML-range axes, bounded reachable sets") {
    // the lattice covers FLAML's loguniform reg_alpha span and a
    // rounds (n_estimators analog) axis …
    assert(AutoForecast.dimsLinear == Vector(9, 12, 5))
    assert(AutoForecast.dimsGbt == Vector(4, 5, 4, 4))
    assert(AutoForecast.decodeLinear(Vector(8, 11, 4)) == (14, 20.0, 1.0))
    assert(AutoForecast.decodeLinear(Vector(0, 0, 0)) == (3, 0.001, 0.0))
    assert(AutoForecast.decodeGbt(Vector(3, 4, 3, 3)) == (9, 8, 6, 1.0))
    // … while the ORACLE's reachable set stays bounded by the
    // evaluation count, not the lattice size: the possible-incumbent
    // set at most doubles per step (each incumbent spawns one
    // proposal), so |reachable| ≤ 2^(steps−1) regardless of grid
    // width — and the REALIZED walk evaluates at most 2·steps − 1 of
    // them. The registry points stay small and are pinned exactly.
    for (steps <- Seq(3, 5, 8); seed <- Seq(7L, 42L, 99L)) {
      val (cfgL, _) = AutoForecast.cfoReachable("lin", seed, steps, AutoForecast.dimsLinear)
      val (cfgG, _) = AutoForecast.cfoReachable("gbt", seed, steps, AutoForecast.dimsGbt)
      assert(cfgL.size <= (1 << (steps - 1)), s"lin seed=$seed steps=$steps: ${cfgL.size}")
      assert(cfgG.size <= (1 << (steps - 1)), s"gbt seed=$seed steps=$steps: ${cfgG.size}")
    }
    // the registry oracles' exact reachable-set sizes (fc_auto_search
    // = lin/42/5, fc_auto_search_gbt = gbt/42/3)
    assert(AutoForecast.cfoReachable("lin", 42L, 5, AutoForecast.dimsLinear)._1.size == 6)
    assert(AutoForecast.cfoReachable("gbt", 42L, 3, AutoForecast.dimsGbt)._1.size == 4)
  }

  test("cfoWalk's incumbent sequence matches a hand-traced walk") {
    val dims = AutoForecast.dimsLinear
    val (configs, _) = AutoForecast.cfoReachable("lin", 42L, 5, dims)
    def walkWith(scores: Map[Int, Double]) = {
      val evals = scala.collection.mutable.ArrayBuffer.empty[Int]
      val (inc, best, path) = AutoForecast.cfoWalk("lin", 42L, 5, dims) { c =>
        val i = configs.indexOf(c); evals += i; scores(i)
      }
      (configs.indexOf(inc), best, path.map(configs.indexOf(_)), evals.toSeq)
    }
    // trace: eval 0 (1.0); t1 prop 1 (0.5 < 1.0 -> MOVE); t2 prop of
    // inc 1 is 0 (1.0 !< 0.5 -> stay, memoized: no re-eval); t3 prop
    // of inc 1 is 2 (0.9 !< 0.5 -> stay); t4 prop of inc 1 is 4
    // (0.2 < 0.5 -> MOVE). Final incumbent 4, score 0.2.
    val (w1, b1, path1, evals1) = walkWith(Map(0 -> 1.0, 1 -> 0.5, 2 -> 0.9, 4 -> 0.2))
    assert(w1 == 4 && b1 == 0.2)
    assert(path1 == Seq(0, 1, 1, 1, 4))
    assert(evals1 == Seq(0, 1, 2, 4), "config 0 must be memoized at t2, not re-scored")
    // all proposals worse -> the low-cost start survives every step
    val (w2, _, path2, _) = walkWith(Map(0 -> 0.1, 1 -> 0.5, 2 -> 9.0, 3 -> 9.0))
    assert(w2 == 0 && path2 == Seq(0, 0, 0, 0, 0))
    // NaN is inert BOTH ways (DuckDB NULL-comparison semantics): a NaN
    // proposal never moves in; a NaN incumbent is never displaced
    val (w3, _, path3, _) = walkWith(Map(0 -> Double.NaN, 1 -> 0.5, 2 -> 0.9, 3 -> 0.8))
    assert(w3 == 0 && path3 == Seq(0, 0, 0, 0, 0))
  }

  test("autoSearchRegularized cfo arm returns the walk winner; halving fallback intact") {
    val signal = (0 until 60).map(t => 50 + 20 * math.sin(0.3 * t))
    val p = panel(signal, signal.map(_ + 3.0))
    val (winner, cand, score, model) = AutoForecast.autoSearchRegularized(
      p, "t", "1i", seed = 42L, nCandidates = 5, testSize = 5, nSplits = 2,
      stepSize = 5, cdSweeps = 6)
    val (configs, _) = AutoForecast.cfoReachable("lin", 42L, 5, AutoForecast.dimsLinear)
    assert(AutoForecast.decodeLinear(configs(winner)) == cand)
    assert(!score.isNaN)
    assert(model.predict(p, "t", fh = 2).count() == 4)
    // legacy halving arm still runs and picks from its own draw
    val (hw, hc, _, _) = AutoForecast.autoSearchRegularized(
      p, "t", "1i", seed = 42L, nCandidates = 4, testSize = 5, nSplits = 2,
      stepSize = 5, cdSweeps = 6, strategy = "halving")
    assert(AutoForecast.searchCandidates(42L, 4)(hw) == hc)
  }

  test("auto searches release every backtest checkpoint they score") {
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    val signal = (0 until 60).map(t => 50 + 20 * math.sin(0.3 * t))
    val p = panel(signal, signal.map(_ + 3.0))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val wasEmpty = cacheManager.isEmpty
    AutoForecast.autoSearchRegularized(p, "t", "1i", seed = 42L, nCandidates = 5,
      testSize = 5, nSplits = 2, stepSize = 5, cdSweeps = 6)
    AutoForecast.autoTreeBoost(p, "t", "1i", lagGrid = Seq(1, 3), rounds = 2, bins = 4,
      eta = 0.5, testSize = 3, nSplits = 2, stepSize = 3)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"leftover persisted RDDs: $left")
    assert(cacheManager.isEmpty == wasEmpty, "leftover cached frame")
  }
}
