package graft

import graft.core.Panel
import graft.operators.{EliteDeep, Forecasters, ForecastPipeline, KnnForecaster}
import org.apache.spark.sql.functions._

/** Elite-depth ensemble, recursive KNN, and the detrend pipeline step
  * — semantics vs the reference (forecasting/elite.py:80-374,
  * forecasting/knn.py:22, preprocessing.py:772). */
class EliteDeepSpec extends SparkSpec {

  private def trendPanel(n: Int = 40): Panel =
    panel((0 until n).map(i => 2.0 * i + 5.0), (0 until n).map(i => 100.0 - i))

  test("predictRecursive at fh=1 matches predictOneStep bitwise") {
    val p = panel(Seq.tabulate(30)(i => math.sin(i * 0.7) * 3 + i * 0.1),
      Seq.tabulate(30)(i => (i % 5).toDouble))
    val one = KnnForecaster.predictOneStep(p, "t", "1i", lags = 4, k = 3)
      .orderBy("entity").collect()
    val rec = KnnForecaster.predictRecursive(p, "t", "1i", lags = 4, k = 3, fh = 1)
      .orderBy("entity").collect()
    assert(one.length == rec.length && one.length == 2)
    one.zip(rec).foreach { case (a, b) =>
      assert(a.getDouble(2) == b.getDouble(2), s"$a vs $b")
    }
  }

  test("predictRecursive rolls the state: exact on a pure AR(1) memory corpus") {
    // constant series: every training row equals the query state, so
    // each recursive step predicts the constant again
    val p = panel(Seq.fill(20)(7.0))
    val out = KnnForecaster.predictRecursive(p, "t", "1i", lags = 3, k = 2, fh = 4)
      .orderBy("t").collect()
    assert(out.length == 4)
    assert(out.forall(_.getDouble(2) == 7.0))
  }

  test("predictRecursiveIvf with one cell matches the exact recursive path bitwise") {
    // nCells=1: every corpus row and every query land in the single
    // cell, so the cell-grouped pass degenerates to the exact scan
    val p = panel(Seq.tabulate(30)(i => math.sin(i * 0.7) * 3 + i * 0.1),
      Seq.tabulate(30)(i => (i % 5).toDouble))
    val exact = KnnForecaster.predictRecursive(p, "t", "1i", lags = 4, k = 3, fh = 3)
      .orderBy("entity", "t").collect()
    val ivf = KnnForecaster.predictRecursiveIvf(p, "t", "1i", lags = 4, k = 3,
      fh = 3, nCells = 1).orderBy("entity", "t").collect()
    assert(exact.length == ivf.length && exact.length == 6)
    exact.zip(ivf).foreach { case (a, b) =>
      assert(a.getDouble(2) == b.getDouble(2), s"$a vs $b")
    }
  }

  test("predictRecursiveAuto switches to IVF past the entity cap instead of failing") {
    val p = panel(Seq.tabulate(12)(_ * 1.0), Seq.tabulate(12)(i => 5.0 - i),
      Seq.tabulate(12)(i => (i % 4).toDouble))
    val saved = KnnForecaster.maxExactEntities
    try {
      KnnForecaster.maxExactEntities = 2
      // 3 entities > cap 2: the exact path refuses, auto must route to
      // IVF and still produce fh rows per entity
      val out = KnnForecaster.predictRecursiveAuto(p, "t", "1i", lags = 3,
        k = 2, fh = 2)
      assert(out.count() == 6)
      // the one-step twin routes the same way
      val one = KnnForecaster.predictOneStepAuto(p, "t", "1i", lags = 3, k = 2)
      assert(one.count() == 3)
    } finally KnnForecaster.maxExactEntities = saved
  }

  test("detrendLinearStep removes an exact linear trend and extrapolates it back") {
    val p = trendPanel()
    val fitted = ForecastPipeline.detrendLinearStep(p, "t")
    // residuals of an exactly-linear series are ~0
    val maxResid = fitted.out.df.agg(max(abs(col("value")))).collect()(0).getDouble(0)
    assert(maxResid < 1e-8, s"residual $maxResid")
    // invert of zero-residual predictions at future steps reproduces
    // the trend line: entity 0 is y = 2i + 5, so h=1 (i=40) -> 85
    val spark = SparkSpec.session
    import spark.implicits._
    val preds = Seq((0, 40, 0.0), (0, 41, 0.0), (1, 40, 0.0))
      .toDF("entity", "t", "value")
    val lvl = fitted.invert(preds).orderBy("entity", "t").collect()
    assert(math.abs(lvl(0).getDouble(2) - 85.0) < 1e-8)
    assert(math.abs(lvl(1).getDouble(2) - 87.0) < 1e-8)
    // entity 1 is y = 100 - i, so h=1 (i=40) -> 60
    assert(math.abs(lvl(2).getDouble(2) - 60.0) < 1e-8)
  }

  test("deepLags widens the zoo to caller lag depth (elite.py:80-164 inherits lags)") {
    // period-24 seasonality + mild trend: invisible to the default
    // zoo's max lag budget of 14, captured by a lags=24 member — the
    // case the caller-depth zoo exists for
    val n = 96
    // offset keeps the series positive: smape's signed denominator
    // (the reference's convention) misranks near-zero-sum series
    def f(i: Int): Double = 50 + math.sin(2 * math.Pi * i / 24) * 10 + 0.05 * i
    val train = (0 until n).map(f)
    val p = panel(train, train.map(_ + 1.0))
    val out = EliteDeep.run(p, "t", "1i", fh = 4, topK = 1, strategy = "mean",
      testSize = 4, nSplits = 2, stepSize = 4, sp = 12, deepLags = 24,
      models = Seq("naive", "linear_24", "ridge_24", "lasso_24"))
      .filter(col("entity") === 0).orderBy("t").collect()
    assert(out.length == 4)
    val truth = (n until n + 4).map(f)
    val err = out.zip(truth).map { case (r, y) => math.abs(r.getDouble(2) - y) }.sum
    val naiveErr = truth.map(y => math.abs(train.last - y)).sum
    assert(err < naiveErr * 0.5, s"deep zoo err $err vs naive err $naiveErr")
  }

  test("deepLags zoo on the real M4 monthly panel beats naive (FVA > 0)") {
    // a deterministic 300-series slice of the M4 1mo training panel
    // (read-only reference data), last-18 holdout, lags=24 deep
    // members — the caller-depth acceptance case. The FULL 4,064-series
    // run (graft.EliteM4 1mo mean all 24) measures FVA +1.16 vs the
    // shallow zoo's +0.61 (BASELINE.md).
    import graft.operators.{EliteDeep, Forecasters, Metrics}
    import org.apache.spark.sql.expressions.Window
    val raw = spark.read.parquet("/root/reference/data/m4_1mo_train.parquet")
      .select(regexp_replace(col("series"), " ", "").as("series"),
        col("time").cast("long").as("time"), col("monthly").cast("double").as("y"))
    val fh = 18
    val w = Window.partitionBy("series").orderBy(col("time").desc)
    val ranked = raw
      .withColumn("__rd", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("series")))
      .filter(col("__n") >= 24 + 2 * fh + 2)
    val keep = ranked.select("series").distinct().orderBy("series").limit(300)
    val sliced = ranked.join(keep, "series").localCheckpoint(true)
    val yTrain = sliced.filter(col("__rd") > fh).select("series", "time", "y")
    val yTest = sliced.filter(col("__rd") <= fh).select("series", "time", "y")
    val p = graft.core.Panel(yTrain, Seq("series"), Seq("time"), "y")
    val yElite = EliteDeep.run(p, "time", "1i", fh = fh, topK = 3,
      strategy = "mean", testSize = 1, nSplits = 3, stepSize = 1, sp = 12,
      deepLags = 24,
      models = Seq("naive", "linear_24", "ridge_24", "lasso_24", "linear_detrend_24"))
    val yNaive = Forecasters.naive(p, "time", fh, "1i")
    def score(pred: org.apache.spark.sql.DataFrame, name: String) = {
      val j = Metrics.aligned(yTest, pred.withColumnRenamed("y", "pred"),
        Seq("series", "time"), "y", "pred")
      Metrics.smapeOriginal(j.filter(col("__p").isNotNull), Seq("series"))
        .withColumnRenamed("smape_original", name)
    }
    val fva = score(yElite, "se").join(score(yNaive, "sn"), Seq("series"))
      .agg(avg(col("sn") - col("se"))).collect()(0).getDouble(0)
    assert(fva > 0, s"deep zoo FVA $fva should beat naive on the M4 slice")
  }

  test("deepLags guards the default depth; deepModels names the caller-depth members") {
    val p = panel(Seq.tabulate(30)(_ * 1.0))
    intercept[IllegalArgumentException] {
      EliteDeep.run(p, "t", "1i", fh = 1, topK = 1, deepLags = 10)
    }
    assert(EliteDeep.deepModels(24, sp = 12) == Seq("linear_24", "ridge_24",
      "lasso_24", "linear_scaled_24", "linear_detrend_24", "linear_fourier_24",
      "knn_deep_12"))
    // yearly-style sp <= 2 drops the fourier member, like the zoo does
    assert(!EliteDeep.deepModels(24, sp = 1).contains("linear_fourier_24"))
  }

  test("eliteDeep mean: one row per (entity, step), averaging only ranked members") {
    val p = panel(Seq.tabulate(30)(i => i * 1.0 + (i % 3)),
      Seq.tabulate(30)(i => 50.0 - i * 0.5))
    val out = EliteDeep.run(p, "t", "1i", fh = 2, topK = 2, strategy = "mean",
      testSize = 4, nSplits = 2, stepSize = 4, sp = 3,
      models = Seq("naive", "linear_7", "linear_detrend_7"))
    val rows = out.collect()
    assert(rows.length == 4, s"expected 2 entities x 2 steps, got ${rows.length}")
    assert(rows.forall(r => !r.isNullAt(r.length - 1)))
  }

  test("eliteDeep leaves only its result's own checkpoint behind") {
    val sc = spark.sparkContext
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    val p = panel(Seq.tabulate(30)(i => i * 1.0 + (i % 3)),
      Seq.tabulate(30)(i => 50.0 - i * 0.5))
    val wasEmpty = cacheManager.isEmpty
    for (strategy <- Seq("mean", "lasso")) {
      val before = sc.getPersistentRDDs.keySet
      val out = EliteDeep.run(p, "t", "1i", fh = 2, topK = 2, strategy = strategy,
        testSize = 4, nSplits = 2, stepSize = 4, sp = 3,
        models = Seq("naive", "linear_7", "ridge_7", "lasso_7"))
      assert(out.collect().length == 4)
      val own = out.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.toSet
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.subsetOf(own), s"$strategy: leftover persisted RDDs ${left -- own}")
      own.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    }
    assert(cacheManager.isEmpty == wasEmpty, "leftover cached frame")
  }

  test("eliteDeep lasso falls back to naive where naive ranks first") {
    // pure random-walk-ish flat series: naive backtests perfectly and
    // must win rank 1, routing the entity to the naive forecast
    val p = panel(Seq.fill(30)(4.0), Seq.tabulate(30)(i => i * 2.0))
    val out = EliteDeep.run(p, "t", "1i", fh = 2, topK = 2, strategy = "lasso",
      testSize = 4, nSplits = 2, stepSize = 4, sp = 3,
      models = Seq("naive", "linear_7", "linear_scaled_7"))
    val e0 = out.filter(col("entity") === 0).collect()
    assert(e0.length == 2)
    // entity 0 is constant 4.0: the naive fallback forecasts 4.0
    assert(e0.forall(_.getDouble(2) == 4.0), e0.mkString(","))
  }

  test("eliteDeep log_lasso is an exact alias of lasso (elite.py:304-308)") {
    val p = panel(Seq.tabulate(30)(i => i * 1.0 + (i % 3)),
      Seq.tabulate(30)(i => 50.0 - i * 0.5))
    val models = Seq("naive", "linear_7", "linear_detrend_7")
    val a = EliteDeep.run(p, "t", "1i", fh = 2, topK = 2, strategy = "lasso",
      testSize = 4, nSplits = 2, stepSize = 4, sp = 3, models = models)
      .orderBy("entity", "t").collect()
    val b = EliteDeep.run(p, "t", "1i", fh = 2, topK = 2, strategy = "log_lasso",
      testSize = 4, nSplits = 2, stepSize = 4, sp = 3, models = models)
      .orderBy("entity", "t").collect()
    assert(a.toSeq == b.toSeq)
  }

  test("lasso without naive: incomplete-pivot entities fall back to rank-1, not dropped") {
    // entity 0: 30 points (all members fit); entity 1: 12 points —
    // enough for linear_7's 7-lag tail but NOT linear_14's, so its
    // rank pivot is incomplete. With naive absent from the zoo the
    // old fallback produced zero rows for entity 1 (naive predictions
    // don't exist); it must now fall back to its rank-1 member.
    val p = panel(Seq.tabulate(30)(i => i * 1.0 + (i % 3)),
      Seq.tabulate(12)(i => 5.0 + i * 0.5))
    val out = EliteDeep.run(p, "t", "1i", fh = 2, topK = 2, strategy = "lasso",
      testSize = 4, nSplits = 2, stepSize = 4, sp = 3,
      models = Seq("linear_7", "linear_14"))
    val byEntity = out.collect().groupBy(_.getInt(0))
    assert(byEntity.contains(1), s"short entity dropped: ${byEntity.keySet}")
    assert(byEntity(1).length == 2, byEntity(1).mkString(","))
    assert(byEntity(1).forall(r => !r.isNullAt(2)))
  }

  test("exact-KNN guards its O(rows x entities) scale assumption loudly") {
    val p = panel(Seq.tabulate(12)(_ * 1.0), Seq.tabulate(12)(i => 5.0 - i),
      Seq.tabulate(12)(i => (i % 4).toDouble))
    val saved = KnnForecaster.maxExactEntities
    try {
      KnnForecaster.maxExactEntities = 2
      val e = intercept[IllegalArgumentException] {
        KnnForecaster.predictOneStep(p, "t", "1i", lags = 3, k = 2)
      }
      assert(e.getMessage.contains("predictOneStepIvf"), e.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        KnnForecaster.predictRecursive(p, "t", "1i", lags = 3, k = 2, fh = 2)
      }
      assert(e2.getMessage.contains("exact broadcast-KNN cap"), e2.getMessage)
      // under the cap the same corpus predicts fine
      KnnForecaster.maxExactEntities = 3
      assert(KnnForecaster.predictOneStep(p, "t", "1i", lags = 3, k = 2).count() == 3)
    } finally KnnForecaster.maxExactEntities = saved
  }

  test("fitNoDrift solves the intercept-free normal equations exactly") {
    // y = 3·x with no intercept: the no-drift fit recovers w = 3
    // exactly, while the drifted fit would also be exact here — so
    // also check a shifted series where the two MUST differ
    val spark0 = spark
    import spark0.implicits._
    val df = (1 to 20).map(i => (i.toDouble, 3.0 * i)).toDF("x", "y")
    val w = graft.functions.Ols.fitNoDrift(df, Seq("x"), "y")
    assert(math.abs(w(0) - 3.0) < 1e-12, w.mkString(","))
    val dfShift = (1 to 20).map(i => (i.toDouble, 3.0 * i + 10.0)).toDF("x", "y")
    val wS = graft.functions.Ols.fitNoDrift(dfShift, Seq("x"), "y")
    val (b0, wD) = graft.functions.Ols.fit(dfShift, Seq("x"), "y")
    // through-origin slope absorbs the +10 offset; drifted fit is exact
    assert(wS(0) > 3.0 && math.abs(b0 - 10.0) < 1e-9 &&
      math.abs(wD(0) - 3.0) < 1e-9, s"${wS(0)} / $b0 / ${wD(0)}")
  }

  test("fitNoDrift ridge penalizes every coefficient (no free intercept)") {
    val spark0 = spark
    import spark0.implicits._
    val df = (1 to 20).map(i => (i.toDouble, 3.0 * i)).toDF("x", "y")
    val w = graft.functions.Ols.fitNoDrift(df, Seq("x"), "y", ridge = 100.0)
    val w0 = graft.functions.Ols.fitNoDrift(df, Seq("x"), "y")
    assert(w(0) < w0(0), s"ridge ${w(0)} !< ols ${w0(0)}")
  }

  test("detrendMeanStep centers the series and adds the mean back on futures") {
    val p = panel(Seq.tabulate(10)(_ => 7.5), Seq.tabulate(10)(i => i.toDouble))
    val fitted = ForecastPipeline.detrendMeanStep(p, "t")
    val resid0 = fitted.out.df.filter(col("entity") === 0)
      .agg(max(abs(col("value")))).collect()(0).getDouble(0)
    assert(resid0 < 1e-12, s"constant series residual $resid0")
    val spark0 = spark
    import spark0.implicits._
    val preds = Seq((0L, 10L, 0.0), (1L, 10L, 2.0)).toDF("entity", "t", "value")
    val lvl = fitted.invert(preds).orderBy("entity").collect()
    assert(lvl(0).getDouble(2) == 7.5, lvl(0).toString) // 0 + mean(7.5)
    assert(lvl(1).getDouble(2) == 6.5, lvl(1).toString) // 2 + mean(4.5)
  }

  test("eliteDeep nodrift/demean members rank and blend") {
    val p = panel(Seq.tabulate(30)(i => 1.0 * i),
      Seq.tabulate(30)(i => 50.0 - i))
    val out = EliteDeep.run(p, "t", "1i", fh = 2, topK = 2, strategy = "mean",
      testSize = 3, nSplits = 2, stepSize = 3,
      models = Seq("naive", "linear_nodrift_7", "ridge_nodrift_3",
        "linear_demean_7", "ridge_demean_7"))
    assert(out.count() == 4) // 2 entities x 2 steps
  }

  test("knn_detrend member: recursion in detrended space, levels restored") {
    // exact linear trends: detrended series are ~0 everywhere, so the
    // KNN in residual space predicts ~0 and the invert restores the
    // extrapolated trend
    val p = panel(Seq.tabulate(30)(i => 2.0 * i + 5.0),
      Seq.tabulate(30)(i => 100.0 - 3.0 * i))
    val out = EliteDeep.run(p, "t", "1i", fh = 2, topK = 1, strategy = "mean",
      testSize = 3, nSplits = 2, stepSize = 3,
      models = Seq("knn_detrend_3"))
    val rows = out.orderBy("entity", "t").collect()
    assert(rows.length == 4, rows.mkString(","))
    // entity 0: next values 2*30+5=65, 2*31+5=67
    assert(math.abs(rows(0).getDouble(2) - 65.0) < 1e-6, rows(0).toString)
    assert(math.abs(rows(1).getDouble(2) - 67.0) < 1e-6, rows(1).toString)
    // entity 1: 100-3*30=10, 100-3*31=7
    assert(math.abs(rows(2).getDouble(2) - 10.0) < 1e-6, rows(2).toString)
    assert(math.abs(rows(3).getDouble(2) - 7.0) < 1e-6, rows(3).toString)
  }

  test("fourier member models a pure seasonal signal the plain AR misses") {
    // period-4 seasonal pattern over 32 points: with lags=2 the plain
    // AR cannot see a full period back, but the fourier features
    // (sp=4, K=1) carry the phase exactly
    val wave = Seq.tabulate(32)(i => Seq(1.0, 5.0, 9.0, 5.0)(i % 4))
    val p = panel(wave)
    val out = graft.operators.FourierLinear.fitPredict(
      p, "t", "1i", lags = 2, sp = 4, K = 1, ridge = 0.0, fh = 4)
      .orderBy("t").collect()
    assert(out.length == 4)
    // next 4 values continue the wave: positions 32..35 -> 1,5,9,5
    val expect = Seq(1.0, 5.0, 9.0, 5.0)
    out.zip(expect).foreach { case (r, e) =>
      assert(math.abs(r.getDouble(2) - e) < 1e-6, s"$r vs $e") }
  }

  test("eliteDeep fourier members rank and blend") {
    val p = panel(Seq.tabulate(32)(i => Seq(2.0, 8.0, 5.0, 1.0)(i % 4) + i),
      Seq.tabulate(32)(_ * 1.0))
    val out = EliteDeep.run(p, "t", "1i", fh = 2, topK = 2, strategy = "mean",
      testSize = 3, nSplits = 2, stepSize = 3, sp = 4,
      models = Seq("naive", "linear_fourier_3", "ridge_fourier_3"))
    assert(out.count() == 4)
  }

  test("lasso pipe members: CD refits behind each transform rank and blend") {
    val p = panel(Seq.tabulate(30)(i => 3.0 * i + 2.0),
      Seq.tabulate(30)(i => 60.0 - 2.0 * i))
    val out = EliteDeep.run(p, "t", "1i", fh = 2, topK = 2, strategy = "mean",
      testSize = 3, nSplits = 2, stepSize = 3, cdSweeps = 6,
      models = Seq("lasso_scaled_7", "lasso_detrend_7", "lasso_demean_7"))
    assert(out.count() == 4)
  }

  test("scaled_fourier combo: transform + fourier track a scaled seasonal wave") {
    // seasonal wave on a large offset/scale: the z-score transform
    // normalizes, the fourier features (sp=4) carry the phase; the
    // invert restores the original scale
    val wave = Seq.tabulate(32)(i => 1000.0 + 50.0 * Seq(0.0, 1.0, 2.0, 1.0)(i % 4))
    val p = panel(wave)
    val out = EliteDeep.run(p, "t", "1i", fh = 4, topK = 1, strategy = "mean",
      testSize = 4, nSplits = 2, stepSize = 4, sp = 4,
      models = Seq("linear_scaled_fourier_3"))
    val rows = out.orderBy("t").collect()
    assert(rows.length == 4)
    val expect = Seq(1000.0, 1050.0, 1100.0, 1050.0) // positions 32..35
    rows.zip(expect).foreach { case (r, e) =>
      assert(math.abs(r.getDouble(2) - e) < 1e-4, s"$r vs $e") }
  }

  test("lassoAicCD picks by AIC and matches the fixed-alpha CD solve") {
    val spark0 = spark
    import spark0.implicits._
    // clean y = 2x + 1: tiny alphas fit near-perfectly, a huge alpha
    // zeroes the coefficient — AIC must prefer a small alpha, and the
    // chosen solution must equal elasticNetCD at that alpha exactly
    val df = (1 to 50).map(i => (i.toDouble, 2.0 * i + 1.0)).toDF("x", "y")
    val (al, b0, w) = graft.functions.Ols.lassoAicCD(
      df, Seq("x"), "y", Seq(0.001, 1000.0), sweeps = 20)
    assert(al == 0.001, s"chose alpha $al")
    val (b0f, wf) = graft.functions.Ols.elasticNetCD(
      df, Seq("x"), "y", alpha = 0.001, l1Ratio = 1.0, sweeps = 20)
    assert(b0 == b0f && w.sameElements(wf), s"$b0/$b0f ${w.toSeq}/${wf.toSeq}")
  }

  test("eliteDeep rejects unknown model names loudly") {
    val p = panel(Seq.tabulate(25)(_ * 1.0))
    val e = intercept[IllegalArgumentException] {
      EliteDeep.run(p, "t", "1i", fh = 1, topK = 1, models = Seq("nope"))
    }
    assert(e.getMessage.contains("nope"))
  }

  // Goldens precomputed by an INDEPENDENT NumPy homotopy + sklearn's
  // documented criterion (n·ln(2πσ̂²) + RSS/σ̂² + 2·df with
  // σ̂² = RSS_OLS/(n−p−1)) on this exact dataset. The dataset is the
  // stack shape (collinear member forecasts + trend); path knots:
  // alphas [48.050858, 2.663759, 0.059754, 0.008902, 0], criterion
  // [2010.724, 174.742, 74.076, 75.401, 77.382] → knot 3 wins.
  private def larsFixture = {
    import spark.implicits._
    (0 until 40).map { t =>
      val f1 = 10 + 0.5 * t + math.sin(t * 1.7) * 2
      val f2 = 10 + 0.5 * t + math.cos(t * 0.9) * 3
      val f3 = 5 + 0.1 * t + math.sin(t * 2.3)
      val y = 0.7 * f1 + 0.1 * f3 + 2.0 + math.sin(t * 3.1) * 0.8
      (f1, f2, f3, t.toDouble, y)
    }.toDF("f_1", "f_2", "f_3", "trend", "__y")
  }

  test("lassoLarsIC matches the sklearn-criterion golden (elite.py:304-308)") {
    val (alpha, b0, w) = graft.functions.Ols.lassoLarsIC(
      larsFixture, Seq("f_1", "f_2", "f_3", "trend"), "__y")
    assertClose(alpha, 0.059753503089813975, 1e-9)
    assertClose(b0, 2.815680953661335, 1e-7)
    val golden = Seq(0.6676240009343879, 0.0, 0.0, 0.027278883745869842)
    w.toSeq.zip(golden).foreach { case (g, e) => assertClose(g, e, 1e-7) }
    // path-exactness cross-check: a fully-converged CD lasso at the
    // chosen alpha must land on the same coefficients (LARS-lasso
    // knots ARE lasso solutions)
    val (b0cd, wcd) = graft.functions.Ols.elasticNetCD(
      larsFixture, Seq("f_1", "f_2", "f_3", "trend"), "__y",
      alpha = alpha, l1Ratio = 1.0, sweeps = 400)
    assertClose(b0cd, b0, 1e-6)
    w.toSeq.zip(wcd.toSeq).foreach { case (g, e) => assertClose(g, e, 1e-6) }
  }

  test("grid-AIC and LARS-IC can disagree; LARS-IC matches sklearn's pick") {
    // on the same fixture the fixed grid {0.001, 0.01, 0.1} with the
    // UNSCALED n·ln(RSS/n)+2df criterion picks alpha = 0.1 (NumPy
    // replica confirms), while the sklearn-faithful path criterion
    // picks the 0.0598 knot — the documented lassoAicCD caveat
    val feats = Seq("f_1", "f_2", "f_3", "trend")
    val (gridAlpha, _, _) = graft.functions.Ols.lassoAicCD(
      larsFixture, feats, "__y", Seq(0.001, 0.01, 0.1), sweeps = 60)
    val (larsAlpha, _, _) = graft.functions.Ols.lassoLarsIC(
      larsFixture, feats, "__y")
    assert(gridAlpha == 0.1, s"grid pick $gridAlpha")
    assert(math.abs(larsAlpha - 0.059753503089813975) < 1e-9,
      s"lars pick $larsAlpha")
    assert(math.abs(gridAlpha - larsAlpha) > 1e-3, "expected disagreement")
  }

  test("eliteDeep lasso stacker runs end-to-end under stackCriterion=lars-aic") {
    // enough rows per entity for the noise-variance denominator, and
    // hash-like noise so no member fits PERFECTLY (a zero OLS residual
    // makes the sklearn criterion undefined — lassoLarsIC fails loud);
    // the reference-faithful mode must produce a full forecast panel
    def noisy(f: Int => Double): Seq[Double] = Seq.tabulate(40) { t =>
      val h = math.abs(math.sin(t * 12.9898 + f(0)) * 43758.5453)
      f(t) + (h - math.floor(h)) * 4.0
    }
    val p = panel(
      noisy(t => 10.0 + t + math.sin(t * 2.1) * 3),
      noisy(t => 5.0 + 0.5 * t + math.cos(t * 1.3) * 2),
      noisy(t => 20.0 - 0.2 * t + math.sin(t * 0.7)))
    val out = EliteDeep.run(p, "t", "1i", fh = 2, topK = 3,
      strategy = "lasso", stackCriterion = "lars-aic",
      models = EliteDeep.linearFamily)
    assert(out.count() == 6L)
    assert(out.collect().forall(r => java.lang.Double.isFinite(r.getDouble(2))))
  }
  test("knnCorpusFraction=1 is bitwise the ungated zoo; <1 keeps every query entity") {
    val p = panel(Seq.tabulate(30)(i => math.sin(i * 0.7) * 3 + i * 0.1),
      Seq.tabulate(30)(i => 40.0 - i), Seq.tabulate(30)(i => (i % 5) * 2.0),
      Seq.tabulate(30)(i => 10.0 + (i % 4)))
    val models = Seq("naive", "linear_7", "knn_3", "knn_scaled_3")
    def runAt(f: Double) = EliteDeep.run(p, "t", "1i", fh = 2, topK = 2,
      testSize = 3, nSplits = 2, stepSize = 3, models = models,
      knnCorpusFraction = f)
      .orderBy("entity", "t").collect().map(_.toSeq)
    // fraction = 1 must be the identical (default) path, bitwise
    val ungated = EliteDeep.run(p, "t", "1i", fh = 2, topK = 2,
      testSize = 3, nSplits = 2, stepSize = 3, models = models)
      .orderBy("entity", "t").collect().map(_.toSeq)
    assert(runAt(1.0).toSeq == ungated.toSeq)
    // a gated corpus still forecasts EVERY entity (queries are never
    // gated; only the searched neighbor corpus shrinks) — 0.5 keeps a
    // nonempty strict subset of the 4 entities' windows as corpus
    val gated = runAt(0.5)
    assert(gated.length == ungated.length,
      s"gated zoo dropped rows: ${gated.length} vs ${ungated.length}")
    assert(gated.map(_.head).distinct.length == 4, "every entity forecast")
  }

  test("corpusKeep gates whole entities deterministically; guards bad fractions") {
    val p = panel(Seq.tabulate(20)(_ * 1.0), Seq.tabulate(20)(i => 5.0 - i),
      Seq.tabulate(20)(i => (i % 3) * 4.0), Seq.tabulate(20)(i => 9.0 + i % 2))
    import org.apache.spark.sql.functions.col
    def keptEntities(f: Double) = p.df
      .filter(KnnForecaster.corpusKeep(p.entityCols, f))
      .select("entity").distinct().collect().map(_.get(0).toString).toSet
    val k1 = keptEntities(0.5)
    assert(k1 == keptEntities(0.5), "hash gate must be deterministic")
    assert(k1.nonEmpty && k1.size < 4, s"0.5 should keep a strict subset, kept $k1")
    // whole-entity semantics: a kept entity keeps ALL its rows
    val keptRows = p.df.filter(KnnForecaster.corpusKeep(p.entityCols, 0.5)).count()
    assert(keptRows == k1.size * 20L)
    // fraction = 1 keeps everything
    assert(keptEntities(1.0).size == 4)
    intercept[IllegalArgumentException] {
      KnnForecaster.predictRecursive(p, "t", "1i", lags = 3, k = 2, fh = 1,
        corpusFraction = 0.0)
    }
    // the recursive roll under a gate still predicts all entities
    val preds = KnnForecaster.predictRecursive(p, "t", "1i", lags = 3, k = 2,
      fh = 2, corpusFraction = 0.5)
    assert(preds.select("entity").distinct().count() == 4)
  }
}
