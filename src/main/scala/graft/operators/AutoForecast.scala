package graft.operators

import graft.core.Panel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** AutoML-style model selection and the elite ensemble.
  *
  * Reference: forecasting/_ar.py:117-209 (`fit_cv` lag sweep over
  * expanding-window CV; FLAML's hyperparameter search is reduced to
  * the lag/regularization grid — the FLAML engine itself is out of
  * scope per SURVEY.md §2.5) and forecasting/elite.py:25-387
  * (backtest a pool of base forecasters, rank per entity, blend the
  * per-entity top-k, fall back to naive where naive wins CV).
  *
  * Scale design: every candidate evaluation is an independent
  * backtest over the same cached panel — candidates are scored
  * sequentially on the driver but each scoring is a distributed job;
  * the per-entity ranking/blending is joins + window ranks (one
  * shuffle on entity), never a driver-side loop over entities.
  */
object AutoForecast {

  /** Mean per-entity SMAPE of a backtest frame (lower = better).
    * The pooled Σ|p−a| / Σ(p+a) with the SIGNED denominator is the
    * reference's own smape (metrics/point.py:139-141) — kept verbatim
    * for parity even though mostly-negative series can score
    * counterintuitively. */
  private[operators] def backtestScore(bt: DataFrame, entity: Seq[String]): DataFrame =
    bt.groupBy(entity.map(col): _*)
      .agg(try_divide(sum(abs(col("pred") - col("actual"))), sum(col("pred") + col("actual")))
        .as("smape"))

  /** Collect the candidate's mean score with an ACTIONABLE failure: an
    * empty backtest (every series shorter than the CV plan) or
    * all-null smapes would otherwise surface as a bare NPE from inside
    * a future. */
  private def meanScore(scored: DataFrame, what: => String): Double = {
    val row = scored.agg(avg("smape")).collect()(0)
    require(!row.isNullAt(0),
      s"$what: the backtest scored no entities — are all series shorter " +
        "than testSize + (nSplits-1)*stepSize, or every SMAPE denominator zero?")
    row.getDouble(0)
  }

  /** [[meanScore]] of a backtest this search owns (an eager checkpoint
    * that nothing reads after the score), then its blocks released
    * instead of left to a driver GC. */
  private def scoreOwned(bt: DataFrame, entity: Seq[String], what: => String): Double =
    try meanScore(backtestScore(bt, entity), what)
    finally EliteDeep.releaseCheckpoint(bt)

  /** Expanding-window backtest of the linear AR forecaster sharing ONE
    * window pass across all splits: because each train slice is a row
    * PREFIX per entity, its lag matrix is exactly the full-data lag
    * matrix filtered to `__rn ≤ trainEnd` — so the lag windows, row
    * positions, and feature assembly are computed once and cached, and
    * each split is a filter + one closed-form fit + flat per-horizon
    * expressions: [[PrefixBacktest.backtest]] with no transform and
    * the OLS/ridge fit (drift=false: the no-intercept *_no_drift elite
    * members). Returns the same schema as [[Conformal.backtest]]. */
  def backtestLinearPrefix(p: Panel, timeCol: String, lags: Int,
                           testSize: Int, nSplits: Int, stepSize: Int,
                           ridge: Double = 0.0,
                           preAssembled: Option[DataFrame] = None,
                           drift: Boolean = true): DataFrame = {
    // callers sweeping several lag counts can pass ONE positioned
    // >=max-lag frame (caller owns its cache lifecycle) — the smaller
    // candidates read their lag_1..lag_n columns from it unchanged
    val assembled = preAssembled.getOrElse(CrossValidation
      .withPosition(p.copy(df = Preprocess.lagKeepAll(p, 1 to lags)))
      .cache())
    try {
      val out = PrefixBacktest.backtest(p, timeCol, lags, testSize, nSplits, stepSize,
        assembled, PrefixBacktest.NoTransform, (df, fs, lb) =>
          if (drift) graft.functions.Ols.fit(df, fs, lb, ridge)
          else (0.0, graft.functions.Ols.fitNoDrift(df, fs, lb, ridge)))
      // eagerly materialize the (small: entities × testSize × nSplits)
      // result so the big lag-matrix cache can be dropped NOW — a
      // lag-grid sweep runs this once per candidate concurrently, and
      // without the unpersist the caches for the whole sweep pile up.
      // When the caller owns the cache (preAssembled) it stays hot past
      // this call: return the lazy frame, no materialization barrier.
      if (preAssembled.isEmpty) out.localCheckpoint(eager = true) else out
    } finally if (preAssembled.isEmpty) assembled.unpersist(blocking = false)
  }

  /** Expanding-window backtest of the (seasonal-)naive forecaster with
    * ONE window pass for all splits: the prediction for horizon h is
    * the train-slice value at position trainEnd − sp + ((h−1) mod sp)
    * + 1 — a pure position lookup, so every split is two filters and a
    * join on the same positioned frame. sp = 1 gives plain naive.
    * Returns the [[Conformal.backtest]] schema. */
  def backtestNaivePrefix(p: Panel, timeCol: String, sp: Int,
                          testSize: Int, nSplits: Int, stepSize: Int,
                          prePositioned: Option[DataFrame] = None): DataFrame = {
    // callers that already hold a positioned (__rn/__cnt) frame over the
    // same panel/window (e.g. elite's shared lag matrix — extra columns
    // are harmless) pass it here: saves one full window sort per call
    val d = prePositioned.getOrElse(CrossValidation.withPosition(p))
    val splits = (0 until nSplits).map { i =>
      val cutoff = testSize + (nSplits - 1 - i) * stepSize
      val trainEnd = col("__cnt") - cutoff
      val actual = d.filter(col("__rn") > trainEnd && col("__rn") <= trainEnd + testSize)
        .withColumn("__h", (col("__rn") - trainEnd).cast("int"))
        .withColumn("__j", ((col("__h") - 1) % sp + 1).cast("int"))
        .select((p.entityCols ++ Seq(col("__h"), col("__j"), col(timeCol), p.x.as("__actual"))): _*)
      val predSrc = d.filter(col("__rn") > trainEnd - sp && col("__rn") <= trainEnd)
        .withColumn("__j", (col("__rn") - (trainEnd - sp)).cast("int"))
        .select((p.entityCols :+ col("__j") :+ p.x.as("__pred")): _*)
      actual.join(predSrc, p.entity :+ "__j", "inner").withColumn("split", lit(i))
    }
    splits.reduce(_ unionByName _)
      .select((p.entityCols ++ Seq(col(timeCol), col("split"),
        col("__actual").as("actual"), col("__pred").as("pred"))): _*)
  }

  /** Lag sweep with expanding-window CV — _ar.py:117-209: backtest the
    * linear forecaster per candidate lag count, pick the lag grid
    * point with the lowest mean SMAPE, refit on all data. */
  def autoLinear(p: Panel, timeCol: String, freq: String, lagGrid: Seq[Int],
                 testSize: Int = 10, nSplits: Int = 3, stepSize: Int = 5)
      : (Int, Double, LinearForecasterModel) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val cached = p.copy(df = p.df.cache())
    try {
      // score the lag candidates concurrently — independent job groups
      // over the same cached panel
      val scored = Await.result(Future.sequence(lagGrid.map { lags => Future {
        val bt = backtestLinearPrefix(cached, timeCol, lags, testSize, nSplits, stepSize)
        val mean = scoreOwned(bt, p.entity, s"autoLinear(lags=$lags)")
        (lags, mean)
      } }), Duration.Inf)
      val (bestLags, bestScore) = scored.minBy(_._2)
      // the refit is eager (one-pass OLS collect), so the cache is done
      (bestLags, bestScore, LinearForecaster.fit(cached, bestLags, freq))
    } finally cached.df.unpersist(blocking = false)
  }

  /** Generic hyperparameter sweep over expanding-window CV — the
    * automl.py pattern for ALL auto_* forecasters: backtest a
    * fit-predict closure per candidate, pick the lowest mean SMAPE.
    * Candidates are scored as concurrent Spark job groups over the
    * shared cached panel. */
  def autoModel[C](p: Panel, timeCol: String, candidates: Seq[C],
                   testSize: Int, nSplits: Int, stepSize: Int)
                  (fitPredict: C => (Panel, Int) => DataFrame): (C, Double) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val cached = p.copy(df = p.df.cache())
    try {
      val scored = Await.result(Future.sequence(candidates.map { c => Future {
        val bt = Conformal.backtest(cached, timeCol, testSize, nSplits, stepSize, fitPredict(c))
        val mean = scoreOwned(bt, p.entity, s"autoModel(candidate=$c)")
        (c, mean)
      } }), Duration.Inf)
      scored.minBy(_._2)
    } finally cached.df.unpersist(blocking = false)
  }

  /** auto_ridge / auto_lasso / auto_elastic_net (automl.py:64-96):
    * lag sweep with the matching regularization; refit on all data. */
  def autoRegularized(p: Panel, timeCol: String, freq: String, lagGrid: Seq[Int],
                      regParam: Double, elasticNetParam: Double,
                      testSize: Int = 10, nSplits: Int = 3, stepSize: Int = 5,
                      cdSweeps: Int = 40)
      : (Int, Double, LinearForecasterModel) = {
    val (bestLags, bestScore) = if (elasticNetParam == 0.0) {
      // pure L2 is closed-form — take the prefix-shared backtest path
      // (one cached lag matrix per candidate, per-split filters), the
      // same shape autoLinear uses; semantically identical to the
      // generic slice backtest (the slice's lag matrix IS the prefix
      // filter of the full one)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val cached = p.copy(df = p.df.cache())
      try {
        val scored = Await.result(Future.sequence(lagGrid.map { lags => Future {
          val bt = backtestLinearPrefix(cached, timeCol, lags, testSize, nSplits,
            stepSize, ridge = regParam)
          val mean = scoreOwned(bt, p.entity, s"autoRegularized(lags=$lags)")
          (lags, mean)
        } }), Duration.Inf)
        scored.minBy(_._2)
      } finally cached.df.unpersist(blocking = false)
    } else autoModel(p, timeCol, lagGrid, testSize, nSplits, stepSize) {
      lags => (tr, fh) =>
        LinearForecaster.fit(tr, lags, freq, regParam, elasticNetParam, cdSweeps)
          .predict(tr, timeCol, fh)
    }
    (bestLags, bestScore,
      LinearForecaster.fit(p, bestLags, freq, regParam, elasticNetParam, cdSweeps))
  }

  def autoRidge(p: Panel, timeCol: String, freq: String, lagGrid: Seq[Int],
                regParam: Double = 0.1): (Int, Double, LinearForecasterModel) =
    autoRegularized(p, timeCol, freq, lagGrid, regParam, elasticNetParam = 0.0)

  def autoLasso(p: Panel, timeCol: String, freq: String, lagGrid: Seq[Int],
                regParam: Double = 0.1, testSize: Int = 10, nSplits: Int = 3,
                stepSize: Int = 5, cdSweeps: Int = 40)
      : (Int, Double, LinearForecasterModel) =
    autoRegularized(p, timeCol, freq, lagGrid, regParam, elasticNetParam = 1.0,
      testSize, nSplits, stepSize, cdSweeps)

  def autoElasticNet(p: Panel, timeCol: String, freq: String, lagGrid: Seq[Int],
                     regParam: Double = 0.1, l1Ratio: Double = 0.5,
                     testSize: Int = 10, nSplits: Int = 3, stepSize: Int = 5,
                     cdSweeps: Int = 40)
      : (Int, Double, LinearForecasterModel) =
    autoRegularized(p, timeCol, freq, lagGrid, regParam, elasticNetParam = l1Ratio,
      testSize, nSplits, stepSize, cdSweeps)

  /** auto_knn (automl.py): sweep k over CV with the exact KNN path.
    * Our KNN forecaster is one-step-ahead by design, so each split
    * scores horizon 1 only (the pred↔actual join keeps matching
    * horizons) — still a per-k ranking signal across all entities.
    *
    * Unlike the generic [[autoModel]] sweep (one backtest per
    * candidate), every split runs ONE corpus scan keeping max(kGrid)
    * neighbors and every k averages a prefix of them
    * ([[KnnForecaster.predictOneStepMultiK]]) — the top-k set is a
    * prefix of the top-max(k) ranking, so the scores are bitwise the
    * per-candidate path's at |kGrid|× less corpus scanning. The
    * oracle (fc_auto_knn) has the same shape: one kd ranking CTE per
    * split serving both pk columns. */
  def autoKnn(p: Panel, timeCol: String, freq: String, lags: Int, kGrid: Seq[Int],
              testSize: Int = 10, nSplits: Int = 3, stepSize: Int = 5): (Int, Double) = {
    import org.apache.spark.sql.expressions.Window
    require(nSplits > 0, s"auto_knn needs nSplits > 0 (got $nSplits)")
    val positioned = CrossValidation.withPosition(p).localCheckpoint(true)
    try {
    val splits = CrossValidation.expandingWindowSplit(p, testSize, nSplits, stepSize,
      Some(positioned))
    // per split: one scan → one (k -> pred) map; join each to the
    // split's actuals exactly like Conformal.backtest's horizon join
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = splits.map { case (train, test) => Future {
      val preds = KnnForecaster.predictOneStepMultiK(
        p.copy(df = train), timeCol, freq, lags, kGrid)
      val actual = test
        .withColumn("__h", row_number().over(
          Window.partitionBy(p.entityCols: _*).orderBy(p.orderCols: _*)))
        .select((p.entityCols ++ Seq(col("__h"), p.x.as("__actual"))): _*)
      kGrid.map { k =>
        val pred = preds(k)
          .withColumn("__h", row_number().over(
            Window.partitionBy(p.entityCols: _*).orderBy(col(timeCol))))
          .select((p.entityCols :+ col("__h") :+ col(p.value).as("__pred")): _*)
        k -> actual.join(pred, p.entity :+ "__h", "inner")
          .select((p.entityCols :+ col("__actual").as("actual") :+ col("__pred").as("pred")): _*)
      }.toMap
    } }
    // every split ends before the first failure is rethrown: none may
    // still hold its persisted lag blocks when this call returns
    val perSplit = futures.map(Await.ready(_, Duration.Inf)).map(_.value.get.get)
    kGrid.map { k =>
      val bt = perSplit.map(_(k)).reduce(_ unionByName _)
      k -> meanScore(backtestScore(bt, p.entity), s"autoKnn(k=$k)")
    }.minBy(_._2)
    } finally EliteDeep.releaseCheckpoint(positioned)
  }

  /** auto_lightgbm (automl.py:191-229): lag sweep over expanding-window
    * CV with the tree-boosted forecaster, refit on all data with the
    * winning lag count. Each candidate's backtest fits one MLlib GBT
    * per split over the shared cached panel (the generic autoModel
    * machinery); the tree count/depth are held small and fixed — the
    * reference sweeps them via FLAML, which SURVEY.md §2.5 scopes down
    * to the lag grid. */
  /** auto_lightgbm's lag sweep over the ORACLE-CHECKED deterministic
    * depth-2 tree boost ([[TreeBoost]]) — same sweep mechanics as
    * [[autoGbt]] (automl.py:191-229) with a fit whose every split and
    * leaf the DuckDB oracle replicates
    * ([[graft.queries.OlsBacktestSql.backtestTree2]]/`fullTree2`).
    * Refit on all data with the winning lag count. */
  def autoTreeBoost(p: Panel, timeCol: String, freq: String, lagGrid: Seq[Int],
                    rounds: Int = 3, bins: Int = 4, eta: Double = 0.3,
                    testSize: Int = 10, nSplits: Int = 2, stepSize: Int = 5)
      : (Int, Double, TreeBoost.Model) = {
    val (bestLags, bestScore) = autoModel(p, timeCol, lagGrid, testSize, nSplits, stepSize) {
      lags => (tr, fh) =>
        TreeBoost.fit(tr, lags, freq, rounds, bins, eta).predict(tr, timeCol, fh)
    }
    (bestLags, bestScore, TreeBoost.fit(p, bestLags, freq, rounds, bins, eta))
  }

  // ── FLAML/CFO-faithful adaptive local search ──────────────────────
  //
  // FLAML's CFO (automl.py:191-229 wires the spaces; the searcher
  // starts at `low_cost_partial_config`, proposes a random neighbor of
  // the incumbent each iteration, and moves on improvement). The
  // lattice/grids below are the same ones the legacy seeded draw
  // sampled; index (0,0,..) — fewest lags, smallest α, l1=0 (closed
  // form, no CD sweeps) — is the low-cost start. Each step's proposal
  // is a deterministic md5 function of (namespace, seed, step,
  // incumbent), so the DuckDB oracle replays the WHOLE walk: it scores
  // every config the walk can reach (cfoReachable — a small set, the
  // proposal at step t only branches on the incumbent's step-t
  // coordinate) and selects the realized path with CASE chains over
  // the same score comparisons.

  // r14 widening toward FLAML's real ranges (automl.py:201-229): α
  // log-spaced over reg_alpha's loguniform(0.001, 20) (12 points), a
  // denser l1_ratio axis, lags to 14 (the verified oracle Cholesky
  // depth), a rounds axis tracking n_estimators(60-400)'s role at
  // this engine's round scale, wider bins/η. The walk's reachable set
  // stays bounded by its evaluation count regardless of lattice size
  // (proposals move ±1 from the low-cost corner), so the oracle cost
  // is unchanged in structure; every grid value keeps a short decimal
  // repr (exact DECIMAL parse in DuckDB).
  private[operators] val linLagsGrid = Vector(3, 4, 5, 6, 7, 8, 10, 12, 14)
  private[operators] val linAlphaGrid = Vector(0.001, 0.002, 0.005, 0.01,
    0.02, 0.05, 0.1, 0.2, 0.5, 2.0, 8.0, 20.0)
  private[operators] val linL1Grid = Vector(0.0, 0.25, 0.5, 0.75, 1.0)
  private[operators] val gbtLagsGrid = Vector(3, 5, 7, 9)
  private[operators] val gbtRoundsGrid = Vector(2, 3, 4, 6, 8)
  private[operators] val gbtBinsGrid = Vector(3, 4, 5, 6)
  private[operators] val gbtEtaGrid = Vector(0.1, 0.3, 0.5, 1.0)

  /** Lattice coords → linear-arm candidate (lags, α, l1_ratio). */
  def decodeLinear(c: Vector[Int]): (Int, Double, Double) =
    (linLagsGrid(c(0)), linAlphaGrid(c(1)), linL1Grid(c(2)))
  val dimsLinear: Vector[Int] =
    Vector(linLagsGrid.length, linAlphaGrid.length, linL1Grid.length)

  /** Lattice coords → GBT-arm candidate (lags, rounds, bins, η). */
  def decodeGbt(c: Vector[Int]): (Int, Int, Int, Double) =
    (gbtLagsGrid(c(0)), gbtRoundsGrid(c(1)), gbtBinsGrid(c(2)), gbtEtaGrid(c(3)))
  val dimsGbt: Vector[Int] = Vector(gbtLagsGrid.length, gbtRoundsGrid.length,
    gbtBinsGrid.length, gbtEtaGrid.length)

  /** The full GBT lattice (320 configs since the r14 widening — too
    * many to warm exhaustively; [[BenchWarmup]] warms only the
    * registry walk's REACHABLE configs via [[cfoReachable]]). */
  def searchSpaceGbt: Seq[(Int, Int, Int, Double)] = for {
    l <- gbtLagsGrid; r <- gbtRoundsGrid; b <- gbtBinsGrid; e <- gbtEtaGrid
  } yield (l, r, b, e)

  /** CFO's step-t neighbor of `inc`: md5(ns, seed, t) picks a
    * dimension and a ±1 direction; out-of-range moves REFLECT (FLAML
    * bounces off the box), a size-1 dimension stays put. Depends on
    * the incumbent only through the picked coordinate — which is what
    * keeps the oracle's reachable set small. */
  def cfoProposal(ns: String, seed: Long, t: Int, inc: Vector[Int],
                  dims: Vector[Int]): Vector[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"graft:cfo:$ns:$seed:$t".getBytes("UTF-8"))
    def b(j: Int): Int = h(j) & 0xff
    val d = b(0) % dims.length
    val sign = if (b(1) % 2 == 0) 1 else -1
    val raw = inc(d) + sign
    val refl = if (raw < 0 || raw >= dims(d)) inc(d) - sign else raw
    val v = if (refl < 0 || refl >= dims(d)) inc(d) else refl
    inc.updated(d, v)
  }

  /** Every config a `steps`-evaluation walk can visit, in canonical
    * first-reached order (index 0 = the low-cost start), plus per-step
    * transition maps (possible-incumbent index → its proposal index).
    * The oracle builder derives its score chains and CASE selection
    * from exactly this enumeration. */
  def cfoReachable(ns: String, seed: Long, steps: Int, dims: Vector[Int])
      : (Seq[Vector[Int]], Seq[Map[Int, Int]]) = {
    val configs = scala.collection.mutable.ArrayBuffer(Vector.fill(dims.length)(0))
    def idOf(c: Vector[Int]): Int = {
      val i = configs.indexOf(c)
      if (i >= 0) i else { configs += c; configs.length - 1 }
    }
    var incs = Set(0)
    val trans = (1 until steps).map { t =>
      val m = incs.toSeq.sorted
        .map(i => i -> idOf(cfoProposal(ns, seed, t, configs(i), dims))).toMap
      incs = incs ++ m.values
      m
    }
    (configs.toSeq, trans)
  }

  /** Run the walk: start at the low-cost config; at each step score
    * the seeded neighbor of the incumbent and move iff STRICTLY
    * better. The comparison is NaN-inert in BOTH directions (a NaN
    * score neither moves in nor lets the incumbent be displaced) —
    * the exact semantics of the oracle's bare SQL `<` under its
    * NULL/NaN guards. Scores are memoized (reflections can revisit).
    * Returns (final incumbent, its score, incumbent sequence incl.
    * the start). */
  def cfoWalk(ns: String, seed: Long, steps: Int, dims: Vector[Int])
             (score: Vector[Int] => Double)
      : (Vector[Int], Double, Seq[Vector[Int]]) = {
    def lt(a: Double, b: Double) = !a.isNaN && !b.isNaN && a < b
    val memo = scala.collection.mutable.Map.empty[Vector[Int], Double]
    def sc(c: Vector[Int]) = memo.getOrElseUpdate(c, score(c))
    var inc = Vector.fill(dims.length)(0)
    sc(inc) // the low-cost start is the FIRST trial (FLAML evaluates
            // its init config before any neighbor)
    val path = scala.collection.mutable.ArrayBuffer(inc)
    for (t <- 1 until steps) {
      val prop = cfoProposal(ns, seed, t, inc, dims)
      if (lt(sc(prop), sc(inc))) inc = prop
      path += inc
    }
    (inc, sc(inc), path.toSeq)
  }

  /** Deterministic seeded hyperparameter draws over (lags, α,
    * l1_ratio) — the LEGACY adaptive-search analog of FLAML's sampler
    * (automl.py:191-229), kept as the `strategy = "halving"` fallback;
    * the default arm is now the CFO walk above. Scoped to a
    * reproducible md5 stream so the DuckDB oracle (built from the SAME
    * Scala draw) replicates the whole search. lags ∈ 3..6 and the
    * small α/l1 grids keep each candidate's unrolled oracle chain
    * bounded. */
  def searchCandidates(seed: Long, n: Int): Seq[(Int, Double, Double)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until n).map { i =>
      val h = md.digest(s"graft:$seed:$i".getBytes("UTF-8"))
      def b(j: Int): Int = h(j) & 0xff
      val lags = 3 + b(0) % 4
      val alpha = Seq(0.01, 0.05, 0.1, 0.5)(b(1) % 4)
      val l1 = Seq(0.0, 0.5, 1.0)(b(2) % 3)
      (lags, alpha, l1)
    }
  }

  /** The shared successive-halving protocol (both adaptive-search
    * arms): stage 1 scores EVERY candidate on the cheapest window
    * (splits = 1 — which IS split nSplits−1 of the full plan, cutoff =
    * testSize, what lets the oracle score one shared backtest chain
    * per candidate), the top half survive, survivors pay the full
    * nSplits plan, argmin with index tie-break. Both stages overlap
    * their candidates as concurrent jobs. The sort keys (score asc —
    * NaN last in Scala's Double ordering — then index) are replayed by
    * the oracles' `ORDER BY s ASC NULLS LAST, i` rank CTEs; a change
    * here changes BOTH arms and both oracles.
    *
    * CFO-style scheduling: FLAML's CFO starts its walk from the
    * low-cost config and spends early evaluations on cheap candidates
    * (automl.py:191-229, `low_cost_partial_config`). The analog here —
    * which must keep the seeded draw and the (score, index) selection
    * BITWISE unchanged so the DuckDB oracle replays the search — is to
    * LAUNCH each stage's candidate jobs low-cost-first (`cost(i)`,
    * ties by index): under a saturated scheduler pool the cheap
    * candidates clear first and the expensive tail overlaps them,
    * like CFO's cheap-early trajectories, while the returned winner is
    * a pure argmin over the same (score, index) pairs regardless of
    * launch order. Returns (winner index, stage-2 score). */
  private def successiveHalving[C](cands: Seq[C], nSplits: Int,
                                   cost: C => Double = (_: C) => 0.0)
                                  (score: (C, Int, Int) => Double): (Int, Double) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    def byCost(is: Seq[Int]): Seq[Int] = is.sortBy(i => (cost(cands(i)), i))
    val s1 = Await.result(Future.sequence(byCost(cands.indices).map { i =>
      Future(i -> score(cands(i), i, 1))
    }), Duration.Inf)
    val keep = math.max(1, cands.length / 2)
    val survivors = s1.sortBy { case (i, s) => (s, i) }.take(keep).map(_._1)
    val s2 = Await.result(Future.sequence(byCost(survivors).map { i =>
      Future(i -> score(cands(i), i, nSplits))
    }), Duration.Inf)
    s2.sortBy { case (i, s) => (s, i) }.head
  }

  /** Successive-halving search over [[searchCandidates]] — adaptive
    * in the FLAML sense; the protocol is [[successiveHalving]], the
    * winner refits on all data. Returns (winner index, candidate,
    * stage-2 score, fitted model). */
  def autoSearchRegularized(p: Panel, timeCol: String, freq: String,
                            seed: Long = 42L, nCandidates: Int = 4,
                            testSize: Int = 5, nSplits: Int = 2,
                            stepSize: Int = 5, cdSweeps: Int = 6,
                            strategy: String = "cfo")
      : (Int, (Int, Double, Double), Double, LinearForecasterModel) = {
    require(strategy == "cfo" || strategy == "halving",
      s"autoSearchRegularized strategy must be 'cfo' or 'halving' (got '$strategy')")
    val cached = p.copy(df = p.df.cache())
    def bt(c: (Int, Double, Double), splits: Int): DataFrame = c match {
      case (lags, alpha, l1) =>
        if (l1 == 0.0)
          backtestLinearPrefix(cached, timeCol, lags, testSize, splits, stepSize,
            ridge = alpha)
        else Conformal.backtest(cached, timeCol, testSize, splits, stepSize,
          (tr, h) => LinearForecaster.fit(tr, lags, freq, alpha, l1, cdSweeps)
            .predict(tr, timeCol, h))
    }
    try {
      if (strategy == "cfo") {
        // FLAML-faithful trajectory: nCandidates evaluations of a
        // seeded local walk from the low-cost config, each scored on
        // the FULL nSplits plan (CFO has no halving stage); the winner
        // index is the config's position in the canonical cfoReachable
        // enumeration (what the oracle's CASE chains use too)
        val (cfg, best, _) = cfoWalk("lin", seed, nCandidates, dimsLinear) { c =>
          val cand = decodeLinear(c)
          scoreOwned(bt(cand, nSplits), p.entity, s"autoSearch(cfo, $cand)")
        }
        val (configs, _) = cfoReachable("lin", seed, nCandidates, dimsLinear)
        val (lags, alpha, l1) = decodeLinear(cfg)
        (configs.indexOf(cfg), (lags, alpha, l1), best,
          LinearForecaster.fit(cached, lags, freq, alpha, l1, cdSweeps))
      } else {
      val cands = searchCandidates(seed, nCandidates)
      // CFO cost order: closed-form ridge/OLS candidates (one moment
      // scan over the shared prefix frame) before the CD families
      // (per-slice sweep refits), cheapest lag counts first
      val (winner, best) = successiveHalving(cands, nSplits,
        (c: (Int, Double, Double)) =>
          c._1.toDouble + (if (c._3 != 0.0) 100.0 else 0.0)) { (c, i, splits) =>
        scoreOwned(bt(c, splits), p.entity,
          s"autoSearch(candidate=$i, $c, splits=$splits)")
      }
      val (lags, alpha, l1) = cands(winner)
      (winner, cands(winner), best,
        LinearForecaster.fit(cached, lags, freq, alpha, l1, cdSweeps))
      }
    } finally cached.df.unpersist(blocking = false)
  }

  /** Seeded draws over TreeBoost's (lags, rounds, bins, η) — the
    * GBT arm of the adaptive search (FLAML samples num_leaves /
    * learning_rate analogs per model family, automl.py:191-229).
    * Same reproducible md5 stream idea as [[searchCandidates]], its
    * own namespace so the two arms draw independently; the small
    * grids bound each candidate's unrolled tree2 oracle chain. */
  def searchCandidatesGbt(seed: Long, n: Int): Seq[(Int, Int, Int, Double)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until n).map { i =>
      val h = md.digest(s"graft:gbt:$seed:$i".getBytes("UTF-8"))
      def b(j: Int): Int = h(j) & 0xff
      val lags = Seq(3, 5)(b(0) % 2)
      val rounds = 2 + b(1) % 2
      val bins = Seq(3, 4)(b(2) % 2)
      val eta = Seq(0.3, 0.5, 1.0)(b(3) % 3)
      (lags, rounds, bins, eta)
    }
  }

  /** Successive-halving search over [[searchCandidatesGbt]] — the
    * TreeBoost twin of [[autoSearchRegularized]] on the same
    * [[successiveHalving]] protocol, refit on all data. Returns
    * (winner index, candidate, stage-2 score, fitted model). */
  def autoSearchTreeBoost(p: Panel, timeCol: String, freq: String,
                          seed: Long = 42L, nCandidates: Int = 6,
                          testSize: Int = 5, nSplits: Int = 2,
                          stepSize: Int = 5, strategy: String = "cfo")
      : (Int, (Int, Int, Int, Double), Double, TreeBoost.Model) = {
    require(strategy == "cfo" || strategy == "halving",
      s"autoSearchTreeBoost strategy must be 'cfo' or 'halving' (got '$strategy')")
    val cached = p.copy(df = p.df.cache())
    def score(c: (Int, Int, Int, Double), splits: Int, what: => String): Double = {
      val (lags, rounds, bins, eta) = c
      val bt = Conformal.backtest(cached, timeCol, testSize, splits, stepSize,
        (tr, h) => TreeBoost.fit(tr, lags, freq, rounds, bins, eta)
          .predict(tr, timeCol, h))
      scoreOwned(bt, p.entity, what)
    }
    try {
      if (strategy == "cfo") {
        val (cfg, best, _) = cfoWalk("gbt", seed, nCandidates, dimsGbt) { c =>
          score(decodeGbt(c), nSplits, s"autoSearchGbt(cfo, ${decodeGbt(c)})")
        }
        val (configs, _) = cfoReachable("gbt", seed, nCandidates, dimsGbt)
        val (lags, rounds, bins, eta) = decodeGbt(cfg)
        (configs.indexOf(cfg), (lags, rounds, bins, eta), best,
          TreeBoost.fit(cached, lags, freq, rounds, bins, eta))
      } else {
      val cands = searchCandidatesGbt(seed, nCandidates)
      // CFO cost order: a boosting fit pays rounds scans whose
      // split-search width is lags × bins — launch the small products
      // first
      val (winner, best) = successiveHalving(cands, nSplits,
        (c: (Int, Int, Int, Double)) => (c._1 * c._2 * c._3).toDouble) {
        case (c, i, splits) =>
          score(c, splits, s"autoSearchGbt(candidate=$i, ($c), splits=$splits)")
      }
      val (lags, rounds, bins, eta) = cands(winner)
      (winner, cands(winner), best,
        TreeBoost.fit(cached, lags, freq, rounds, bins, eta))
      }
    } finally cached.df.unpersist(blocking = false)
  }

  def autoGbt(p: Panel, timeCol: String, freq: String, lagGrid: Seq[Int],
              maxIter: Int = 5, maxDepth: Int = 3,
              testSize: Int = 10, nSplits: Int = 2, stepSize: Int = 5)
      : (Int, Double, GbtForecaster.Model) = {
    val (bestLags, bestScore) = autoModel(p, timeCol, lagGrid, testSize, nSplits, stepSize) {
      lags => (tr, fh) =>
        GbtForecaster.fit(tr, lags, freq, maxIter, maxDepth).predict(tr, timeCol, fh)
    }
    (bestLags, bestScore, GbtForecaster.fit(p, bestLags, freq, maxIter, maxDepth))
  }

  /** Elite ensemble — elite.py: backtest each named base forecaster,
    * rank per entity by mean CV SMAPE, average the predictions of the
    * per-entity top-k models (mean stacking, elite.py:303-308), with
    * the naive fallback built in (when naive ranks top-k it simply
    * participates; when it wins outright it dominates the blend). */
  def elite(p: Panel, timeCol: String, freq: String, fh: Int, topK: Int = 2,
            testSize: Int = 10, nSplits: Int = 3, stepSize: Int = 5): DataFrame = {
    val cached = p.copy(df = p.df.cache())
    // ONE positioned 14-lag frame serves both linear candidates'
    // backtests AND their full-data fits (lag_1..lag_7 of the 7-lag
    // model are the same columns; its training rows are the same
    // rn > lags filter) — was four separately built+cached lag frames
    val maxLinLags = 14
    val sharedLag = CrossValidation
      .withPosition(cached.copy(df = Preprocess.lagKeepAll(cached, 1 to maxLinLags)))
      .cache()
    def fitLinearShared(lags: Int): LinearForecasterModel = {
      val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l")
      val (b0, w) = graft.functions.Ols.fit(
        sharedLag.filter(col("__rn") > lags), featureCols, p.value)
      LinearForecasterModel(b0, w, lags, freq)
    }
    try {
    val base: Seq[(String, (Panel, Int) => DataFrame)] = Seq(
      "naive" -> ((tr, h) => Forecasters.naive(tr, timeCol, h, freq)),
      "snaive" -> ((tr, h) => Forecasters.snaive(tr, timeCol, h, sp = 7, freq = freq)),
      "linear_7" -> ((tr, h) => fitLinearShared(7).predict(tr, timeCol, h)),
      "linear_14" -> ((tr, h) => fitLinearShared(14).predict(tr, timeCol, h)))
    // per-(entity, model) CV score; every candidate family shares one
    // positioned/lag pass across its splits (prefix property) — naive
    // and snaive backtests involve no fit at all, just position joins
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // candidate backtests are independent — overlap their jobs (the
    // linear ones fit inside; naive/snaive are pure position joins)
    val scoresF = Future.sequence(base.map { case (name, f) => Future {
      val bt = name match {
        case "naive" => backtestNaivePrefix(cached, timeCol, 1, testSize, nSplits,
          stepSize, prePositioned = Some(sharedLag))
        case "snaive" => backtestNaivePrefix(cached, timeCol, 7, testSize, nSplits,
          stepSize, prePositioned = Some(sharedLag))
        case n if n.startsWith("linear_") =>
          backtestLinearPrefix(cached, timeCol, n.stripPrefix("linear_").toInt,
            testSize, nSplits, stepSize, preAssembled = Some(sharedLag))
        case _ => Conformal.backtest(cached, timeCol, testSize, nSplits, stepSize, f)
      }
      backtestScore(bt, p.entity).withColumn("model", lit(name))
    } })
    // full-data predictions don't depend on the scores — launch their
    // jobs (the linear entries fit eagerly inside f) concurrently with
    // the backtests instead of serializing the two rounds
    val predsF = Future.sequence(base.map { case (name, f) => Future {
      f(cached, fh).withColumn("model", lit(name))
    } })
    val scores = Await.result(scoresF, Duration.Inf).reduce(_ unionByName _)
    // model name as tie-break: equal scores (e.g. constant series, where
    // every candidate backtests identically) must rank deterministically
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(p.entityCols: _*).orderBy(col("smape").asc_nulls_last, col("model"))
    val winners = scores.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= topK)
      .select((p.entityCols :+ col("model")): _*)
    val preds = Await.result(predsF, Duration.Inf).reduce(_ unionByName _)
    // eager materialization (entities × fh rows) so the panel cache can
    // be released here rather than leaking past the call
    preds.join(winners, p.entity :+ "model")
      .groupBy((p.entityCols :+ col(timeCol)): _*)
      .agg(avg(col(p.value)).as(p.value))
      .localCheckpoint(eager = true)
    } finally {
      sharedLag.unpersist(blocking = false)
      cached.df.unpersist(blocking = false)
    }
  }
}