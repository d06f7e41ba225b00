package graft.functions

import org.apache.spark.sql.DataFrame

/** One-pass closed-form ordinary least squares.
  *
  * The reference fits its linear forecasters with a closed-form
  * Cholesky solve, arguing the normal matrix is tiny relative to the
  * data (reference: src/linalg/mod.rs:9-14). The Spark-native
  * equivalent: accumulate X^T X (upper triangle) and X^T y in ONE pass
  * over the reduction matrix — per-partition partial sums, no shuffle
  * of row data — then solve the (p+1)×(p+1) system on the driver.
  * Every fit here — closed-form, ridge, weighted, no-intercept,
  * coordinate descent, the AIC sweep and LARS — takes its moments from
  * one kind of pass, [[moments]]: one [[FitBlocks]] job that folds the
  * moments of every requested model at once ([[fitSets]]: every
  * direct/ensemble horizon; the censored regression folds the same
  * [[addMoments]] in its own block pass). Partials merge in
  * partition-index order from 0.0, so a fit's bits never depend on
  * task timing. Replaces MLlib `LinearRegression` on the pure-OLS
  * paths, which costs several passes (VectorAssembler materialization,
  * label/feature summaries, then the solve) for the same coefficients.
  *
  * At 100 TB the single pass is the floor for any exact fit; the
  * partial buffer is O(p²) doubles per partition and model,
  * independent of row count.
  */
object Ols {

  /** Fit y ~ intercept + w·x over `featureCols`. Rows with any null
    * are dropped. Returns (intercept, weights).
    *
    * `ridge` > 0 adds the L2 penalty λ‖w‖² (intercept unpenalized) by
    * adding λ to the non-intercept diagonal of the normal matrix —
    * algebraically identical to scikit-learn's `Ridge(alpha=λ,
    * fit_intercept=True)` (the reference's ridge backend,
    * reference: functime/forecasting/linear.py:34-39), which penalizes
    * the sum-of-squares objective without standardization. */
  def fit(df: DataFrame, featureCols: Seq[String], labelCol: String,
          ridge: Double = 0.0): (Double, Array[Double]) =
    // one-set moment pass (shared inside a withMomentSharing scope),
    // then the driver-side ridge + Cholesky
    solveMoments(gramMoments(df, featureCols, labelCol), 0, featureCols.length + 1, ridge)(
      noRows("OLS fit", featureCols, labelCol))

  /** One model of a [[moments]] pass: y ~ 1 + `features` over the rows
    * where every feature, the label and the `weight` column is neither
    * null nor NaN (the `na.drop(features :+ label ++ weight)` rule) and
    * every `notNull` column is not null (`IS NOT NULL`: a NaN passes).
    * With a `weight` column every term is w·(term) ([[addMoments]]). */
  final case class MomentSet(features: Seq[String], label: String,
                             notNull: Seq[String] = Nil, weight: Option[String] = None)

  /** Closed-form fits of every set in `sets` over the rows of `df`, in
    * ONE data pass ([[moments]]); the driver solves the sets in order,
    * each throwing the single-fit errors of [[fit]]. */
  def fitSets(df: DataFrame, sets: Seq[MomentSet],
              ridge: Double = 0.0): Seq[(Double, Array[Double])] = {
    val m = moments(df, sets)
    val offs = offsets(sets)
    sets.indices.map { k =>
      solveMoments(m, offs(k), sets(k).features.length + 1, ridge)(
        noRows("OLS fit", sets(k).features, sets(k).label))
    }
  }

  /** The one moment pass behind every fit: the columns the sets read
    * become [[FitBlocks]] blocks (not persisted — the pass reads them
    * once; rows that every set drops are not read), and one job folds
    * each set's moments under its own row rule into its own slot range
    * ([[addMoments]]' layout, from [[offsets]]). Every slot is the SQL
    * `sum` of its term over `df.cache()`, bit for bit (`OlsKernelSpec`
    * keeps that aggregate as the reference). A set that sees no row has
    * a zero count slot. */
  private[graft] def moments(df: DataFrame, sets: Seq[MomentSet]): Array[Double] = {
    val complete = sets.map(s => (s.features :+ s.label) ++ s.weight)
    val cols = sets.zip(complete).flatMap { case (s, c) => c ++ s.notNull }.distinct
    val dropNa = complete.reduce((a, b) => a.filter(b.contains)).distinct
    val idx = cols.zipWithIndex.toMap
    val feat = sets.map(_.features.map(idx).toArray).toArray
    val label = sets.map(s => idx(s.label)).toArray
    val weight = sets.map(_.weight.fold(-1)(idx)).toArray
    val full = complete.map(_.map(idx).toArray).toArray
    val nonNull = sets.map(_.notNull.map(idx).toArray).toArray
    val offs = offsets(sets)
    FitBlocks.sum(FitBlocks.blocks(df, cols, dropNa), offs.last, 0) { (b, s, _) =>
      val xs = feat.map(f => new Array[Double](f.length + 1))
      xs.foreach(_(0) = 1.0)
      var r = 0
      while (r < b.n) {
        var k = 0
        while (k < xs.length) {
          var ok = true
          var j = 0
          while (ok && j < full(k).length) {
            val c = full(k)(j)
            ok = !b.isNull(c, r) && !b.cols(c)(r).isNaN
            j += 1
          }
          j = 0
          while (ok && j < nonNull(k).length) { ok = !b.isNull(nonNull(k)(j), r); j += 1 }
          if (ok) {
            val x = xs(k)
            j = 0
            while (j < feat(k).length) { x(j + 1) = b.cols(feat(k)(j))(r); j += 1 }
            addMoments(s, offs(k), x, b.cols(label(k))(r),
              if (weight(k) < 0) 1.0 else b.cols(weight(k))(r))
          }
          k += 1
        }
        r += 1
      }
    }.sums
  }

  /** Start slot of each set in a [[moments]] vector, then its length. */
  private def offsets(sets: Seq[MomentSet]): Array[Int] =
    sets.scanLeft(0)((o, s) => o + momentWidth(s.features.length + 1)).toArray

  /** Slots of one moment set over d regressors (intercept included):
    * [[addMoments]]' layout. */
  private[graft] def momentWidth(d: Int): Int = d * (d + 1) / 2 + d + 2

  /** The moment fold of every pass — [[moments]] and the censored
    * regression ([[graft.operators.CensoredForecaster]]). Adds one row
    * to `s` from `off`: the upper triangle of w·(xᵢ·xⱼ) in row-major
    * order, then w·(xᵢ·y), then 1.0 (the row count), then w·(y·y) — the
    * association `Q.olsMomentsSql` mirrors. x(0) is 1.0 for an
    * intercept; w = 1.0 when unweighted (an exact product). From 0.0 in
    * row order, each slot is Spark's `Sum` of the same term. */
  private[graft] def addMoments(s: Array[Double], off: Int, x: Array[Double],
                                y: Double, w: Double): Unit = {
    val d = x.length
    var k = off
    var i = 0
    while (i < d) {
      val xi = x(i)
      var j = i
      while (j < d) { s(k) += w * (xi * x(j)); k += 1; j += 1 }
      i += 1
    }
    i = 0
    while (i < d) { s(k) += w * (x(i) * y); k += 1; i += 1 }
    s(k) += 1.0
    s(k + 1) += w * (y * y)
  }

  /** A normal system: (Xᵀ X, Xᵀ y, n, Σy²). */
  private[graft] type Normal = (Array[Array[Double]], Array[Double], Double, Double)

  /** The normal system of the moment set at `off` of `m` ([[addMoments]]'
    * layout, d regressors with the intercept first) as (Xᵀ X, Xᵀ y, n,
    * Σy²), fresh arrays; throws `noRows` when the set saw no row.
    * `intercept` = false drops the intercept row and column: every slot
    * is its own sum of the same per-row product (and 1.0·(xᵢ·xⱼ) is
    * exact), so what is left is the no-intercept system bit for bit. */
  private[graft] def system(m: Array[Double], off: Int, d: Int, intercept: Boolean = true)(
      noRows: => Exception): Normal = {
    val tri = d * (d + 1) / 2
    val n = m(off + tri + d)
    if (n == 0.0) throw noRows
    val from = if (intercept) 0 else 1
    val a = expand(java.util.Arrays.copyOfRange(m, off, off + tri), d)
    (a.drop(from).map(_.drop(from)), java.util.Arrays.copyOfRange(m, off + tri + from, off + tri + d),
      n, m(off + tri + d + 1))
  }

  /** Solves the moment set at `off` of `m` ([[system]]): adds `ridge` to
    * every diagonal entry but the intercept's and takes the Cholesky
    * solve. Returns (intercept, weights); the intercept is 0.0 when
    * `intercept` = false. */
  private[graft] def solveMoments(m: Array[Double], off: Int, d: Int, ridge: Double,
                                  intercept: Boolean = true)(
      noRows: => Exception): (Double, Array[Double]) = {
    val (a, b, _, _) = system(m, off, d, intercept)(noRows)
    var i = if (intercept) 1 else 0 // the intercept is never penalized
    if (ridge != 0.0) while (i < a.length) { a(i)(i) += ridge; i += 1 }
    val w = choleskySolve(a, b)
    if (intercept) (w(0), w.drop(1)) else (0.0, w)
  }

  /** The error of a fit whose row rule leaves no row. */
  private[graft] def noRows(what: String, featureCols: Seq[String],
                            labelCol: String): IllegalArgumentException =
    new IllegalArgumentException(
      s"$what has no complete training rows (all rows empty or null " +
        s"in ${featureCols.mkString(", ")} / $labelCol)")

  /** Fit y ~ w·x with NO intercept — scikit-learn
    * `LinearRegression/Ridge(fit_intercept=False)` semantics, the
    * reference elite zoo's `*_no_drift` members
    * (functime/forecasting/elite.py:92-95). With no unpenalized
    * intercept column, `ridge` > 0 adds λ to EVERY diagonal entry.
    * The same one-set moment pass as [[fit]], read without the
    * intercept row and column ([[system]]), then the Cholesky solve.
    * Returns the weight vector; callers model the fit as (0.0, w). */
  def fitNoDrift(df: DataFrame, featureCols: Seq[String], labelCol: String,
                 ridge: Double = 0.0): Array[Double] =
    solveMoments(gramMoments(df, featureCols, labelCol), 0, featureCols.length + 1, ridge,
      intercept = false)(noRows("no-drift OLS fit", featureCols, labelCol))._2

  /** Scoped MOMENT SHARING (r15): many elite-zoo members fit over the
    * IDENTICAL train slice with the identical feature set — linear vs
    * ridge differ only in the driver-side solve (λ on the diagonal),
    * lasso/elastic-net CD and the no-drift members read the very same
    * moments, and the transform trios (linear/ridge/lasso over one
    * scaled or detrended slice) share both the artifact subplan and the
    * moments. Each such fit used to run its own moment JOB (JobProfile
    * r15: 6 Ols collects per split in fc_elite_stack where 3 distinct
    * moment sets exist). Inside a `withMomentSharing` scope
    * [[gramMoments]] memoizes the raw moment vector on (canonicalized
    * plan, features, label, weight): plan-identical requests run ONE
    * job. Every caller expands its own matrix from the vector
    * ([[system]]), so the shared doubles are never mutated. The cache
    * lives only while scopes are open (cleared when the outermost
    * exits), so nothing persists across queries or bench reps —
    * strictly a within-query intermediate, like the caches the members
    * already share. */
  private final class MomentHolder {
    private var value: Array[Double] = _
    def get(body: () => Array[Double]): Array[Double] = synchronized {
      if (value == null) value = body()
      value
    }
  }
  private val momentScopeDepth = new java.util.concurrent.atomic.AtomicInteger(0)
  private val momentCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      Seq[String], String, Option[String]), MomentHolder]()

  /** Open a moment-sharing scope around `body` (re-entrant; the cache
    * clears when the outermost scope exits). */
  def withMomentSharing[T](body: => T): T = {
    momentScopeDepth.incrementAndGet()
    try body
    finally if (momentScopeDepth.decrementAndGet() == 0) momentCache.clear()
  }

  /** One set's moments over `df` (intercept layout): a one-set
    * [[moments]] pass, memoized inside a [[withMomentSharing]] scope. */
  private def gramMoments(df: DataFrame, featureCols: Seq[String], labelCol: String,
                          weightCol: Option[String] = None): Array[Double] = {
    def compute() = moments(df, Seq(MomentSet(featureCols, labelCol, weight = weightCol)))
    if (momentScopeDepth.get() == 0) compute()
    else {
      val key = (df.queryExecution.analyzed.canonicalized, featureCols, labelCol, weightCol)
      val holder = momentCache.computeIfAbsent(key, _ => new MomentHolder)
      try holder.get(() => compute())
      catch { case t: Throwable => momentCache.remove(key, holder); throw t }
    }
  }

  /** [[system]] of one set over `df` ([[gramMoments]]); `what` names the
    * fit in the no-rows error. */
  private def gram(df: DataFrame, featureCols: Seq[String], labelCol: String, what: String,
                   intercept: Boolean = true): Normal =
    system(gramMoments(df, featureCols, labelCol), 0, featureCols.length + 1, intercept)(
      noRows(what, featureCols, labelCol))

  /** Weighted least squares — the sample-weight hook of the
    * reference's regressors (base/model.py:48 `fit(..., sample_weight)`;
    * `weight_transform` pipes y through a user callable to produce the
    * weights, _regressors.py:39-42): minimize Σ wᵢ·(yᵢ − b₀ − xᵢ·β)².
    * Weighted raw normal equations — every sum is `w·(xᵢ·xⱼ)` (that
    * exact association is mirrored by Q.olsMomentsSql's weighted
    * form — keep them in lockstep) including the intercept row, solved
    * by the same Cholesky. Still ONE data pass at any scale. Rows with
    * a null or NaN weight are dropped like null features; weights are
    * taken as-is (no normalization — WLS is scale-invariant in w). */
  def fitWeighted(df: DataFrame, featureCols: Seq[String], labelCol: String,
                  weightCol: String): (Double, Array[Double]) =
    solveMoments(gramMoments(df, featureCols, labelCol, Some(weightCol)), 0,
      featureCols.length + 1, 0.0)(noRows("weighted OLS fit", featureCols, labelCol))

  /** Lasso / elastic-net by cyclic coordinate descent on the CENTERED
    * normal-equation moments — scikit-learn `ElasticNet(alpha,
    * l1_ratio, fit_intercept=True)` semantics (the reference's lasso /
    * elastic_net backend, reference: functime/forecasting/linear.py:
    * 105-143): minimize 1/(2n)‖y − b₀ − Xw‖² + α·l1·‖w‖₁ +
    * α(1−l1)/2·‖w‖². sklearn centers X and y, runs CD on the
    * covariance system, and recovers b₀ = ȳ − w·x̄ — exactly what the
    * Gram updates below do.
    *
    * L1 has no closed form, but CD needs only X^T X / X^T y — so at
    * 100 TB this is still ONE data pass (the same moment pass as
    * OLS/ridge) plus O(sweeps·p²) driver flops, instead of an iterative
    * solver passing over the data per step. A FIXED `sweeps` count (no
    * tolerance early-exit) keeps the update sequence deterministic, so
    * the DuckDB oracle (Q.cdSolveSql) replicates it step-exactly. */
  def elasticNetCD(df: DataFrame, featureCols: Seq[String], labelCol: String,
                   alpha: Double, l1Ratio: Double,
                   sweeps: Int = 40): (Double, Array[Double]) = {
    val (a, b, _, _) = gram(df, featureCols, labelCol, "OLS fit")
    cdFromMoments(a, b, alpha, l1Ratio, sweeps)
  }

  /** Lasso / elastic-net CD with NO intercept — scikit-learn
    * `ElasticNet(fit_intercept=False)`, the elite zoo's
    * `lasso_no_drift` (elite.py:95). CD runs on the RAW Gram system
    * (no centering, no intercept recovery), fixed sweep count; the
    * SQL oracle (Q.cdSolveNoDriftSql) replicates the update sequence
    * term-for-term. Returns the weight vector. */
  def elasticNetCDNoDrift(df: DataFrame, featureCols: Seq[String],
                          labelCol: String, alpha: Double, l1Ratio: Double,
                          sweeps: Int): Array[Double] = {
    val (g, b, nn, _) = gram(df, featureCols, labelCol, "no-drift CD fit", intercept = false)
    cdSweeps(g, b, nn * (alpha * l1Ratio), nn * (alpha * (1.0 - l1Ratio)), sweeps)
  }

  /** LassoLarsIC analog — the reference elite's final stacking
    * regressor (`sklearn.linear_model.LassoLarsIC`, elite.py:9,
    * :304-308) selects its regularization by information criterion
    * along the LARS path; this deterministic, oracle-replicable
    * analog sweeps a FIXED alpha grid of lasso CD solves on ONE
    * collected moment set and picks the minimum-AIC candidate:
    *
    *   AIC = n·ln(RSS/n) + 2·df,   df = #nonzero coefficients + 1
    *
    * RSS is recovered from the same raw moments (Σy², the X^T y
    * vector, and X^T X), so the whole sweep is one data pass plus
    * O(grid·sweeps·p²) driver flops. Ties break toward the smaller
    * alpha. Returns (chosenAlpha, intercept, weights).
    *
    * This is a LOOSE analog by design: sklearn's LassoLarsIC walks
    * the LARS path and scores candidates with a noise-variance-scaled
    * criterion, so grid selection here is NOT expected to numerically
    * match the reference stacker's chosen regularization (even
    * directionally on some inputs) — it trades path-exactness for a
    * deterministic, single-pass, oracle-replicable rule.
    *
    * The RSS fold order (ŷ·y then ŷ² with j-then-k ascending
    * accumulation) is replicated term-for-term by the SQL oracle —
    * keep them in lockstep. */
  def lassoAicCD(df: DataFrame, featureCols: Seq[String], labelCol: String,
                 alphaGrid: Seq[Double], sweeps: Int = 40)
      : (Double, Double, Array[Double]) = {
    require(alphaGrid.nonEmpty, "lassoAicCD needs a non-empty alpha grid")
    lassoAic(gram(df, featureCols, labelCol, "lassoAicCD"), alphaGrid, sweeps)
  }

  /** [[lassoAicCD]] on a collected [[system]]. */
  private[graft] def lassoAic(sys: Normal, alphaGrid: Seq[Double],
                              sweeps: Int): (Double, Double, Array[Double]) = {
    val (a, b, nn, syy) = sys
    val p = b.length - 1
    val cands = alphaGrid.map { al =>
      val (b0, w) = cdFromMoments(a, b, al, 1.0, sweeps)
      // RSS = Σy² − 2·Σy·ŷ + Σŷ² from raw moments, fixed fold order
      var yhatY = b0 * b(0)
      var j = 0
      while (j < p) { yhatY += w(j) * b(j + 1); j += 1 }
      var cross = 0.0
      j = 0
      while (j < p) { cross += w(j) * a(0)(j + 1); j += 1 }
      var quad = 0.0
      j = 0
      while (j < p) {
        var kk = 0
        while (kk < p) { quad += w(j) * w(kk) * a(j + 1)(kk + 1); kk += 1 }
        j += 1
      }
      val rss = syy - 2.0 * yhatY + (b0 * b0 * nn + 2.0 * b0 * cross + quad)
      val dfree = w.count(_ != 0.0) + 1
      // ln(<=0) differs across engines (Java -Inf/NaN, DuckDB errors):
      // a non-positive RSS is a perfect fit — pin its AIC to the floor
      val aic = if (rss <= 0.0) -1e308
                else nn * math.log(rss / nn) + 2.0 * dfree
      (aic, al, b0, w)
    }
    val best = cands.minBy(c => (c._1, c._2))
    (best._2, best._3, best._4)
  }

  /** Lasso-LARS homotopy path from CENTERED moments — the exact piece
    * sklearn's `lars_path(method="lasso")` computes (Efron et al.,
    * "Least Angle Regression", Annals of Statistics 2004): descending
    * the penalty λ from max|Xᵀy|, the active-set solution
    * w_A(λ) = G_AA⁻¹(c_A − λ·s_A) is LINEAR in λ, so the path is a
    * sequence of knots where a feature JOINS (an inactive correlation
    * catches up to λ) or, the lasso modification, LEAVES (an active
    * coefficient crosses zero). Returns knots (alpha = λ/n, w)
    * descending, first knot at the all-zero solution, last at λ ≈ 0
    * (the OLS solution) — sklearn's `alphas_`/`coef_path_` pairs.
    * `cm`/`cv` are the centered Gram and Xᵀy, `nn` the row count.
    * Small-p driver arithmetic (the stack uses p = topK+1). */
  private[graft] def lassoLarsPath(cm: Array[Array[Double]], cv: Array[Double],
                                   nn: Double): Seq[(Double, Array[Double])] = {
    val p = cv.length
    // dense LU solve with partial pivoting for the tiny G_AA systems
    def solve(m: Array[Array[Double]], rhs: Array[Double]): Array[Double] = {
      val d = rhs.length
      val a = Array.tabulate(d, d)((i, j) => m(i)(j))
      val x = rhs.clone()
      // pivot tolerance RELATIVE to the Gram scale (ADVICE r10): the
      // old exactly-zero test let near-singular Grams (members equal
      // up to rounding noise) through to huge path directions; after
      // elimination a duplicated column's pivot sits at rounding-noise
      // scale, not exactly 0
      var pivTol = 0.0
      var di = 0
      while (di < d) { pivTol = math.max(pivTol, math.abs(m(di)(di))); di += 1 }
      pivTol *= 1e-10
      var i = 0
      while (i < d) {
        var piv = i
        var j = i + 1
        while (j < d) { if (math.abs(a(j)(i)) > math.abs(a(piv)(i))) piv = j; j += 1 }
        if (piv != i) { val t = a(i); a(i) = a(piv); a(piv) = t
          val tv = x(i); x(i) = x(piv); x(piv) = tv }
        require(math.abs(a(i)(i)) > pivTol, "lassoLarsPath: singular active Gram")
        j = i + 1
        while (j < d) {
          val f = a(j)(i) / a(i)(i)
          var k = i
          while (k < d) { a(j)(k) -= f * a(i)(k); k += 1 }
          x(j) -= f * x(i)
          j += 1
        }
        i += 1
      }
      i = d - 1
      while (i >= 0) {
        var k = i + 1
        while (k < d) { x(i) -= a(i)(k) * x(k); k += 1 }
        x(i) /= a(i)(i)
        i -= 1
      }
      x
    }
    val eps = 1e-12
    val w = new Array[Double](p)
    var active = Vector.empty[Int]
    var lam = cv.map(math.abs).max
    val knots = scala.collection.mutable.ArrayBuffer((lam / nn, w.clone()))
    var guard = 0
    // lasso modification bookkeeping: a feature dropped at a knot is
    // barred from re-admission at that SAME knot — its correlation
    // still sits exactly on the |c| = λ boundary there, so without the
    // bar it would instantly rejoin with the old sign, reproduce the
    // identical direction, and be pushed through zero again (a
    // join/drop cycle that truncates at the guard and leaves knots
    // that are NOT lasso solutions). It may rejoin at any LATER knot
    // via the normal join event, exactly Efron et al.'s rule and
    // sklearn lars_path's drop handling. (Round-10 review finding.)
    var justDropped = -1
    // features whose admission made the active Gram exactly singular
    // (duplicate member forecasts in the stack) — permanently
    // excluded, sklearn's "degenerate regressors in active set"
    // behavior of dropping rather than aborting
    var degenerate = Set.empty[Int]
    // admissions since the last SUCCESSFUL solve — the pool the
    // singular-Gram culprit search draws from (ADVICE r10: the batch
    // admission below can admit several features at one knot, and the
    // degenerate one is not necessarily the last admitted)
    var recentAdmits = Vector.empty[Int]
    while (lam > eps && guard < 8 * p * p) {
      guard += 1
      // current correlations c_j − G_j· w
      val corr = Array.tabulate(p) { j =>
        var s = cv(j)
        var k = 0
        while (k < p) { s -= cm(j)(k) * w(k); k += 1 }
        s
      }
      // admit every inactive feature whose correlation has caught up
      (0 until p).foreach { j =>
        if (!active.contains(j) && j != justDropped && !degenerate(j) &&
            math.abs(corr(j)) >= lam * (1.0 - 1e-9)) {
          active :+= j
          recentAdmits :+= j
        }
      }
      justDropped = -1
      if (active.isEmpty) { lam = 0.0 }
      else {
        val aIdx = active.toArray
        val s = aIdx.map(j => math.signum(corr(j)))
        val gAA = Array.tabulate(aIdx.length, aIdx.length)((i, j) => cm(aIdx(i))(aIdx(j)))
        val dirOpt =
          try Some(solve(gAA, s)) // dw per unit DECREASE of λ
          catch { case _: IllegalArgumentException => None }
        dirOpt match {
          case None =>
            // singular active Gram: some recent admission duplicates
            // an earlier active column. Probe each candidate from the
            // admissions since the last clean solve (newest first —
            // the likeliest culprit) and exclude the first whose
            // removal makes the reduced Gram solvable; if no single
            // removal fixes it (several duplicates entered together),
            // drop the newest and let the loop re-probe. sklearn's
            // "degenerate regressors in active set" handling: drop,
            // never abort. (ADVICE r10: the old code always removed
            // active.last, which can be an innocent feature admitted
            // after the duplicated pair in the same batch.)
            val pool = {
              val r = recentAdmits.reverse.filter(active.contains)
              if (r.nonEmpty) r else Vector(active.last)
            }
            val culprit = pool.find { j =>
              val rem = active.filterNot(_ == j).toArray
              rem.isEmpty || {
                val g = Array.tabulate(rem.length, rem.length)(
                  (ri, rj) => cm(rem(ri))(rem(rj)))
                val sr = rem.map(jj => math.signum(corr(jj)))
                try { solve(g, sr); true }
                catch { case _: IllegalArgumentException => false }
              }
            }.getOrElse(pool.head)
            degenerate += culprit
            active = active.filterNot(_ == culprit)
          case Some(dir) =>
            recentAdmits = Vector.empty
            // inactive correlation drift per unit decrease of λ
            val aDrift = Array.tabulate(p) { j =>
              var v = 0.0
              var k = 0
              while (k < aIdx.length) { v += cm(j)(aIdx(k)) * dir(k); k += 1 }
              v
            }
            var gamma = lam // default: ride to the end of the path
            (0 until p).foreach { j =>
              if (!active.contains(j) && !degenerate(j)) {
                // |corr_j − γ·a_j| = λ − γ
                val g1 = (lam - corr(j)) / (1.0 - aDrift(j))
                val g2 = (lam + corr(j)) / (1.0 + aDrift(j))
                Seq(g1, g2).foreach { g =>
                  if (g > eps && g < gamma - eps) gamma = g
                }
              }
            }
            var dropper = -1
            aIdx.zipWithIndex.foreach { case (j, i) =>
              if (dir(i) != 0.0) {
                val g = -w(j) / dir(i)
                if (g > eps && g < gamma - eps) { gamma = g; dropper = j }
              }
            }
            aIdx.zipWithIndex.foreach { case (j, i) => w(j) += gamma * dir(i) }
            lam -= gamma
            if (dropper >= 0) {
              w(dropper) = 0.0
              active = active.filterNot(_ == dropper)
              justDropped = dropper
            }
            knots += ((math.max(lam, 0.0) / nn, w.clone()))
        }
      }
    }
    knots.toSeq
  }

  /** sklearn-faithful `LassoLarsIC` (the reference elite stacker,
    * elite.py:9,:304-308): select the lasso regularization along the
    * LARS path by a NOISE-VARIANCE-SCALED information criterion —
    * sklearn ≥ 1.1's formula
    *
    *   crit_k = n·ln(2π·σ̂²) + RSS_k/σ̂² + K·df_k,
    *   σ̂² = RSS_OLS / (n − p − 1),  K = 2 (aic) | ln n (bic),
    *   df_k = #nonzero coefficients at knot k,
    *
    * argmin over the path knots (first minimum wins, numpy argmin).
    * This is the path-exact sibling of [[lassoAicCD]] (which sweeps a
    * FIXED alpha grid with the unscaled n·ln(RSS/n)+2df criterion —
    * kept as the deterministic SQL-oracle mode); the two can pick
    * different alphas, see EliteDeepSpec. RSS is recovered from the
    * same one-pass moments. Returns (chosenAlpha, intercept, weights).
    * Requires n > p + 1 rows (the OLS noise-variance denominator). */
  def lassoLarsIC(df: DataFrame, featureCols: Seq[String], labelCol: String,
                  criterion: String = "aic"): (Double, Double, Array[Double]) = {
    require(criterion == "aic" || criterion == "bic",
      s"lassoLarsIC criterion must be aic or bic (got '$criterion')")
    lassoLarsICOf(gram(df, featureCols, labelCol, "lassoLarsIC"), criterion)
  }

  /** [[lassoLarsIC]] on a collected [[system]]. */
  private[graft] def lassoLarsICOf(sys: Normal,
                                   criterion: String): (Double, Double, Array[Double]) = {
    val (a, b, nn, syy) = sys
    val p = b.length - 1
    require(nn > p + 1,
      s"lassoLarsIC needs n > p + 1 rows for the noise variance (n=$nn, p=$p)")
    val cm = Array.tabulate(p, p)((j, k) => a(j + 1)(k + 1) - a(0)(j + 1) * a(0)(k + 1) / nn)
    val cv = Array.tabulate(p)(j => b(j + 1) - a(0)(j + 1) * b(0) / nn)
    val syyC = syy - b(0) * b(0) / nn
    def rss(w: Array[Double]): Double = {
      var lin = 0.0
      var j = 0
      while (j < p) { lin += w(j) * cv(j); j += 1 }
      var quad = 0.0
      j = 0
      while (j < p) {
        var k = 0
        while (k < p) { quad += w(j) * w(k) * cm(j)(k); k += 1 }
        j += 1
      }
      syyC - 2.0 * lin + quad
    }
    // σ̂² from the full OLS on the centered system (sklearn's
    // _estimate_noise_variance: lstsq residuals / (n − p − 1))
    val wOls = choleskySolve(cm, cv)
    val sigma2 = math.max(rss(wOls), 0.0) / (nn - p - 1)
    val kFactor = if (criterion == "aic") 2.0 else math.log(nn)
    val path = lassoLarsPath(cm, cv, nn)
    // zero noise variance (a member reproduces the actuals exactly —
    // reachable on clean periodic panels): the criterion's σ²→0 limit
    // is dominated by RSS/σ², so take the min-RSS knot (first on
    // ties — the sparsest perfect fit) instead of aborting the whole
    // elite forecast. sklearn would emit inf/nan garbage here; the
    // limit is the principled continuation. (Round-10 review finding.)
    val scored = if (sigma2 > 0.0) {
      path.map { case (al, w) =>
        val dfree = w.count(_ != 0.0)
        (nn * math.log(2.0 * math.Pi * sigma2) + rss(w) / sigma2 + kFactor * dfree,
          al, w)
      }
    } else path.map { case (al, w) => (rss(w), al, w) }
    // numpy argmin: first index of the minimum (minBy returns it)
    val (_, alpha, w) = scored.minBy(_._1)
    var dot = 0.0
    var j = 0
    while (j < p) { dot += w(j) * a(0)(j + 1); j += 1 }
    (alpha, (b(0) - dot) / nn, w)
  }

  /** The driver-side centered CD solve; arithmetic order (centering,
    * [[cdSweeps]], the intercept recovery) is replicated term-for-term
    * by Q.cdSolveSql — keep the two in lockstep. */
  private[graft] def cdFromMoments(a: Array[Array[Double]], b: Array[Double],
                                   alpha: Double, l1Ratio: Double,
                                   sweeps: Int): (Double, Array[Double]) = {
    val p = b.length - 1
    val nn = a(0)(0)
    val cm = Array.tabulate(p, p)((j, k) => a(j + 1)(k + 1) - a(0)(j + 1) * a(0)(k + 1) / nn)
    val cv = Array.tabulate(p)(j => b(j + 1) - a(0)(j + 1) * b(0) / nn)
    val w = cdSweeps(cm, cv, nn * (alpha * l1Ratio), nn * (alpha * (1.0 - l1Ratio)), sweeps)
    var dot = 0.0
    var j = 0
    while (j < p) { dot += w(j) * a(0)(j + 1); j += 1 }
    ((b(0) - dot) / nn, w)
  }

  /** The one cyclic coordinate-descent loop ([[cdFromMoments]] on the
    * centered system, [[elasticNetCDNoDrift]] on the raw one): `sweeps`
    * fixed passes of w_j = S(c_j − Σ_{k≠j} g_jk·w_k, thr) / (g_jj + l2)
    * for j ascending, ρ accumulated k-ascending from c_j. Q.cdSolveSql
    * and Q.cdSolveNoDriftSql replicate it term-for-term — keep them in
    * lockstep. */
  private def cdSweeps(g: Array[Array[Double]], c: Array[Double], thr: Double,
                       l2: Double, sweeps: Int): Array[Double] = {
    val p = c.length
    val w = new Array[Double](p)
    var t = 0
    while (t < sweeps) {
      var j = 0
      while (j < p) {
        var rho = c(j)
        var k = 0
        while (k < p) { if (k != j) rho -= g(j)(k) * w(k); k += 1 }
        val den = g(j)(j) + l2
        w(j) =
          if (den <= 0.0) 0.0
          else if (rho > thr) (rho - thr) / den
          else if (rho < -thr) (rho + thr) / den
          else 0.0
        j += 1
      }
      t += 1
    }
    w
  }

  private def expand(tri: Array[Double], d: Int): Array[Array[Double]] = {
    val a = Array.ofDim[Double](d, d)
    var k = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) { a(i)(j) = tri(k); a(j)(i) = tri(k); k += 1; j += 1 }
      i += 1
    }
    a
  }

  /** Cholesky solve of the SPD normal system; retries with escalating
    * trace-scaled ridge jitter if a pivot collapses (collinear lags),
    * and THROWS if the jittered attempts also fail (non-finite normal
    * matrix) — a bad fit must surface, not silently predict zeros. */
  private[graft] def choleskySolve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val d = b.length
    def attempt(jitter: Double): Option[Array[Double]] = {
      val l = Array.ofDim[Double](d, d)
      var i = 0
      while (i < d) {
        var j = 0
        while (j <= i) {
          var s = a(i)(j) + (if (i == j) jitter else 0.0)
          var k = 0
          while (k < j) { s -= l(i)(k) * l(j)(k); k += 1 }
          if (i == j) {
            // a NaN pivot (non-finite moments) fails too, so it reaches
            // the jittered retries and the throw below
            if (!(s > 0.0)) return None
            l(i)(i) = math.sqrt(s)
          } else l(i)(j) = s / l(j)(j)
          j += 1
        }
        i += 1
      }
      // forward then back substitution
      val y = new Array[Double](d)
      i = 0
      while (i < d) {
        var s = b(i)
        var k = 0
        while (k < i) { s -= l(i)(k) * y(k); k += 1 }
        y(i) = s / l(i)(i)
        i += 1
      }
      val x = new Array[Double](d)
      i = d - 1
      while (i >= 0) {
        var s = y(i)
        var k = i + 1
        while (k < d) { s -= l(k)(i) * x(k); k += 1 }
        x(i) = s / l(i)(i)
        i -= 1
      }
      Some(x)
    }
    val trace = (0 until d).map(i => a(i)(i)).sum
    attempt(0.0)
      .orElse(attempt(1e-10 * math.max(trace, 1.0)))
      .orElse(attempt(1e-6 * math.max(trace, 1.0)))
      .getOrElse(throw new IllegalStateException(
        s"OLS normal system not factorizable (trace=$trace" +
          s", finite=${a.forall(_.forall(x => !x.isNaN && !x.isInfinite))})" +
          " — non-finite or degenerate inputs; refusing to return a silent" +
          " zero fit"))
  }
}
