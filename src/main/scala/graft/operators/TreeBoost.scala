package graft.operators

import graft.core.Panel
import graft.functions.{FitBlocks, QuantileGather}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Depth-2 gradient-boosted trees over the AR reduction — the
  * oracle-checked GBT-family forecaster.
  *
  * Reference semantics: functime/forecasting/lightgbm.py:103-121
  * (gradient boosting over the lag-matrix reduction; LightGBM's
  * histogram algorithm bins each feature once globally, then every
  * node scans the shared bin edges). This forecaster follows that
  * histogram design with every choice pinned deterministic so the
  * DuckDB oracle ([[graft.queries.OlsBacktestSql.fullTree2]]) can
  * replicate it step-exact: squared loss, leaf value = mean residual
  * × learning rate, split candidates on a fixed uniform grid between
  * each feature's exact global min/max (uniform instead of quantile
  * so both engines derive bit-identical thresholds from bit-identical
  * min/max), root split then one split per child from the SAME global
  * grid — 4 leaves per tree.
  *
  * Each boosting round is TWO folds over the training rows, persisted
  * once as [[graft.functions.FitBlocks]]: pass A computes every row's
  * residual and scores every (feature, threshold) root candidate
  * (left sums/sizes); pass B — after the driver argmaxes the root —
  * scores every candidate within each child region. The quantile
  * objective adds pass C, the leaf renewal. The argmaxes and leaf values
  * are driver arithmetic over the pass results, mirrored term-for-term
  * by the oracle's per-round CTEs; the grid, the argmax and the
  * min/max pass are [[BoostGrid]]'s, shared with the depth-1 sibling
  * ([[StumpBoost]]). The full-depth MLlib ensemble ([[GbtForecaster]])
  * remains the production alternative whose tree internals stay out of
  * SQL reach (spec-checked in ForecastSpec).
  *
  * Scale design: the pass that materializes the blocks, one base-score
  * pass, then 2·`rounds` (quantile: 3·`rounds`) folds. Each fold's
  * partial per partition is O(lags·bins) doubles (a renewal's is the
  * leaf state of its quantile rule) merged in partition order, so
  * every sum has the SQL aggregate's bits. Under
  * [[graft.functions.FitBlocks.driverCap]] the first job brings the
  * blocks to the driver and every later pass folds there with no job;
  * past the cap each pass is one job. No Catalyst query runs inside the
  * loop. The model is `rounds` 4-leaf trees that the recursive predict
  * reads; no per-row state, no driver loop over entities.
  */
object TreeBoost {

  /** One depth-2 tree: root split (1-based lag `fi`, threshold `thr`),
    * per-child splits (`fl`/`tl`, `fr`/`tr`) and the 4 leaf values
    * (already scaled by the learning rate). */
  final case class Tree2(fi: Int, thr: Double,
                         fl: Int, tl: Double, vll: Double, vlr: Double,
                         fr: Int, tr: Double, vrl: Double, vrr: Double) {
    /** The leaf value of row `r` of column-major lags `x`, routed with
      * Spark's `x <= thr` (every x goes left of a NaN threshold). */
    def at(x: Array[Array[Double]], r: Int): Double =
      if (FitBlocks.le(x(fi - 1)(r), thr)) { if (FitBlocks.le(x(fl - 1)(r), tl)) vll else vlr }
      else { if (FitBlocks.le(x(fr - 1)(r), tr)) vrl else vrr }
  }

  /** ((b0 + c1) + c2)… — the oracle's (b0 + c1 + c2 …) fold order. */
  private def score(b0: Double, trees: Array[Tree2], x: Array[Array[Double]], r: Int): Double = {
    var acc = b0
    var k = 0
    while (k < trees.length) { acc += trees(k).at(x, r); k += 1 }
    acc
  }

  final case class Model(b0: Double, trees: Seq[Tree2], lags: Int, freq: String,
                         objective: String = "l2",
                         labelClamp: Boolean = false) {
    def score(feats: Array[Double]): Double =
      TreeBoost.score(b0, trees.toArray, feats.map(Array(_)), 0)

    def predict(p: Panel, timeCol: String, fh: Int): DataFrame = {
      // log-link objectives score on the log scale and emit exp(F);
      // the recursion then rolls the ORIGINAL-scale prediction into
      // the lag state, exactly like the oracle's exp(p-expr) stages.
      // "quantile" scores on the data scale like l2 (pinball leaves
      // are additive corrections, no link).
      val emit: Array[Double] => Double =
        if (objective == "l2" || objective == "quantile") score
        else feats => math.exp(score(feats))
      // a clamp-fitted model rolls its lag state from the CLAMPED
      // series: the reference stores y_lag from the transformed y
      // (_enforce_label_constraint runs before fit_autoreg,
      // lightgbm.py:109-112), so the predict tail must see the same
      // values the fit saw
      val src = if (labelClamp) TreeBoost.clampPanel(p, objective) else p
      GbtForecaster.predictRecursiveModel(src, timeCol, fh, freq, lags, emit)
    }
  }

  /** The reference's `_enforce_label_constraint` (lightgbm.py:30-47),
    * opt-in via `labelClamp`: gamma maps y ≤ 0 → 1; poisson/tweedie
    * map y < 0 → 0; other objectives pass through. Applied to the
    * panel BEFORE the lag reduction, so lag features are built from
    * the clamped series exactly as the reference's fit_autoreg sees
    * them. */
  def clampPanel(p: Panel, objective: String): Panel = {
    val y = col(p.value)
    objective match {
      case "gamma" =>
        p.copy(df = p.df.withColumn(p.value, when(y <= 0, lit(1.0)).otherwise(y)))
      case "poisson" | "tweedie" =>
        p.copy(df = p.df.withColumn(p.value, when(y < 0, lit(0.0)).otherwise(y)))
      case _ => p
    }
  }

  /** `objective` — the label-constraint analogs of the reference's
    * LightGBM objective options (lightgbm.py:103):
    *  - "l2" (default): squared loss, residual y − F, F IS the
    *    prediction;
    *  - "poisson": log link — F is the log-scale score, pseudo-
    *    residual y·exp(−F) − 1 (the per-row NEWTON ratio
    *    gradient/hessian of the Poisson deviance: (y − exp F)/exp F),
    *    base score ln(ȳ), prediction exp(F);
    *  - "gamma": log link — pseudo-residual 1 − exp(F)/y (gamma
    *    deviance per-row Newton ratio, hessian y·exp(−F)), base score
    *    ln(ȳ), prediction exp(F).
    * Both log-link objectives keep the SAME deterministic histogram
    * machinery (uniform-grid candidates over the original-scale lags,
    * SSE-argmax on the pseudo-residuals, mean-leaf × η) applied to the
    * per-row Newton RATIOS, i.e. a diagonal-Newton step rather than
    * LightGBM's leaf-aggregated Newton. The ratio form is load-bearing:
    * a raw-gradient leaf (mean of y − exp F) lives on the DATA scale
    * but is added to the LOG-scale score, so the recursion explodes
    * multiplicatively (observed 3.4e6 forecasts on a ≤327-valued
    * panel) and cross-engine exp drift breaks the rd6 gate at large
    * magnitudes; the ratio keeps leaves as bounded RELATIVE
    * corrections. The DuckDB oracle replicates both step-exact; they
    * require a positive target mean (log link; gamma additionally
    * divides by y, so zero targets yield null rows in both engines).
    * Negative targets under poisson/tweedie are rejected LOUDLY at
    * fit time (LightGBM likewise refuses negative labels for these
    * objectives) unless `labelClamp` pre-clamps them away.
    *
    * Two further objectives (reference: `_prepare_kwargs` maps
    * `alpha` → objective="quantile", lightgbm.py:25-27; xgboost.py:25
    * lists reg:tweedie):
    *  - "tweedie": log link with variance power p = `objParam` ∈
    *    (1,2) — per-row Newton ratio (y − e^F) / ((p−1)·y + (2−p)·e^F)
    *    (the poisson↔gamma interpolation: p→1 gives y·e^(−F) − 1,
    *    p→2 gives 1 − e^F/y), base score ln(ȳ), prediction exp(F).
    *    Zero targets are native (denominator (2−p)·e^F > 0).
    *  - "quantile": pinball loss at level α = `objParam` ∈ (0,1) —
    *    splits by SSE-argmax on the constant-magnitude gradient
    *    α − 1{y ≤ F}, then LightGBM-style LEAF RENEWAL: each leaf's
    *    value is η·Q_α(y − F | leaf) (exact interpolated quantile,
    *    Spark `percentile` ≡ DuckDB `quantile_cont` bit-for-bit),
    *    base score Q_α(y). Renewal is load-bearing: mean-gradient
    *    leaves are scale-free (|g| ≤ 1) so convergence would need
    *    O(scale/η) rounds; the renewed leaf jumps straight to the
    *    in-leaf conditional quantile. One extra pass per round (pass
    *    C) gathers each leaf's residuals per partition into the state
    *    of its quantile rule ([[graft.functions.QuantileGather]]);
    *    the exact rule depends on the residual multiset only (hence
    *    bitwise-stable), and its memory is O(residuals) per leaf — at
    *    100 TB use `quantileExact = false` below.
    *
    * `labelClamp` opts into the reference's pre-fit label transform
    * ([[clampPanel]]); the default keeps this engine's null-gradient
    * gamma behavior (documented above) — the two modes differ on
    * zero-heavy gamma targets, see AutoForecastSpec.
    *
    * `weight` — per-row sample weights, the reference GBT family's
    * `weight_transform` hook (lightgbm.py:50, _regressors.py:19-42;
    * the user callable becomes a `(rn, cnt) => Column` expression over
    * the per-entity position, rn 1-based). Weighted statistics
    * throughout: base score Σwy/Σw, node sizes Σw, split gain
    * (Σwr)²/Σw, leaf Σwr/Σw·η — LightGBM's weighted histogram
    * semantics on this deterministic machinery. Negative weights are
    * rejected LOUDLY at fit time (LightGBM likewise): a negative Σw
    * node size silently poisons pickSplit's nl > 0 && nl < nn guard.
    * Combined with "quantile", the leaf renewal/base score use the
    * cumulative-weight interpolated quantile
    * ([[graft.functions.WeightedQuantile]] — quantile_cont's positions
    * generalized to fractional weights; the w ≡ 1 case reduces to the
    * unweighted rule on identical positions, with ≤2-ULP interpolation
    * op-order drift vs `percentile`, see QuantileSpec).
    *
    * `quantileExact` — the quantile renewal's production switch. The
    * default (true) uses Spark's exact `percentile` rule (bit-identical
    * to DuckDB quantile_cont — the oracle-gated mode), whose state is
    * every residual of a leaf: unbounded on a 100 TB panel of
    * continuous targets. `quantileExact = false` swaps base score and
    * leaf renewal to `approx_percentile`'s rule (Spark's
    * Greenwald-Khanna digest, memory bounded by the accuracy — 1e5 here,
    * ≤ ~1e-5 rank error), dropping the bitwise-oracle claim for a
    * bounded-memory fit; QuantileSpec pins the two modes' agreement
    * tolerance. WEIGHTED + production (r12): the weighted renewal's
    * bounded-memory twin is [[graft.functions.WeightedQuantileSketch]]
    * (uniform-budget merging histogram, ~2δ centroids per group,
    * ~1/δ rank error — GK has no fractional-weight form); same
    * spec-pinned-not-oracle-gated contract. `quantileDelta` is that
    * sketch's accuracy budget: the default 2000 (~5e-4 rank error) is
    * 50× looser than the unweighted GK-at-1e-5 twin and suits CENTRAL
    * quantiles only — for deep tails (α within ~10/δ of 0 or 1, e.g.
    * α = 0.999 renewals) or tight agreement tolerances raise it
    * (20000 → ~5e-5 at 10× the per-group state; QuantileSpec pins the
    * realized error scaling at both budgets). Read only under
    * `weight.isDefined && !quantileExact`. */
  def fit(p: Panel, lags: Int, freq: String, rounds: Int = 5,
          bins: Int = 8, eta: Double = 0.3, objective: String = "l2",
          objParam: Double = Double.NaN, labelClamp: Boolean = false,
          weight: Option[(Column, Column) => Column] = None,
          quantileExact: Boolean = true, quantileDelta: Int = 2000): Model = {
    require(Set("l2", "poisson", "gamma", "tweedie", "quantile")(objective),
      s"tree-boost objective must be l2, poisson, gamma, tweedie or quantile " +
        s"(got '$objective')")
    // objective parameter: quantile level α, or tweedie variance power
    val alpha =
      if (objective == "quantile") { if (objParam.isNaN) 0.5 else objParam }
      else Double.NaN
    val tweedieP =
      if (objective == "tweedie") { if (objParam.isNaN) 1.5 else objParam }
      else Double.NaN
    if (objective == "quantile")
      require(alpha > 0.0 && alpha < 1.0,
        s"quantile objective needs objParam = alpha in (0,1), got $alpha")
    if (objective == "tweedie")
      require(tweedieP > 1.0 && tweedieP < 2.0,
        s"tweedie objective needs objParam = variance power in (1,2), got $tweedieP")
    val pc = if (labelClamp) clampPanel(p, objective) else p
    val reduction0 = Forecasters.makeReduction(pc, lags)
    // weighted mode: attach the per-entity position and the caller's
    // weight expression before the projection (positions over the
    // reduction equal positions over the raw panel)
    // weighted-quantile mode ALSO carries the integer microweight
    // ⌊w·10⁶ + 0.5⌋ (an integral-valued double): with the pinball
    // gradient a two-valued constant, different thresholds inducing
    // the same row partition have EXACTLY tied gains, and float Σw
    // drift breaks the tie differently per engine (and per DuckDB
    // run) — so every weighted-quantile split statistic (node sizes
    // and gradient sums, like the renewal positions) lives on the
    // microweight lattice, where sums are exact in any association
    // order (see [[graft.functions.WeightedQuantile]]'s class doc)
    val isQW = weight.isDefined && objective == "quantile"
    val reduction = weight match {
      case None => reduction0
      case Some(f) =>
        val base = CrossValidation.withPosition(pc.copy(df = reduction0))
          .withColumn("__wgt", f(col("__rn"), col("__cnt")))
        // Spark floor() yields LongType; keep the microweight an
        // integral DOUBLE like DuckDB's floor so both engines sum the
        // same type (integral-double sums are exact below 2^53)
        if (isQW) base.withColumn("__wgtq",
          floor(col("__wgt") * lit(1e6) + lit(0.5)).cast("double"))
        else base
    }
    val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l")
    val isW = weight.isDefined
    val keep = (featureCols :+ p.value) ++
      (if (isW) Seq("__wgt") else Nil) ++
      (if (isQW) Seq("__wgtq") else Nil)
    // block column j < lags is lag j+1, then the label, the weight and
    // the microweight
    val (yj, wj, qj) = (lags, lags + 1, lags + 2)
    val blocks = FitBlocks.persist(reduction, keep)
    try {
      // the pass that materializes the blocks: per-lag min/max, the row
      // count and the guard counts (negative labels, negative weights,
      // weights above 1e9)
      val range = BoostGrid.firstPass(blocks, lags, 0, 3) { (b, _, c) =>
        val y = b.cols(yj)
        var r = 0
        while (r < b.n) {
          if (y(r) < 0) c(1) += 1L
          if (isW && b.cols(wj)(r) < 0) c(2) += 1L
          if (isQW && b.cols(wj)(r) > 1e9) c(3) += 1L
          r += 1
        }
      }
      val nRows = range.n
      // loud label guard (ADVICE r9): LightGBM rejects negative labels
      // for poisson/tweedie; a negative target under a log link makes
      // the deviance gradient meaningless. labelClamp removes them by
      // construction. Gamma's y ≤ 0 handling (null residual) is
      // documented above and exercised by AutoForecastSpec.
      if ((objective == "poisson" || objective == "tweedie") && !labelClamp)
        require(range.counts(0) == 0L,
          s"$objective objective rejects negative targets (${range.counts(0)} rows < 0); " +
            s"pre-validate the panel or opt into labelClamp = true " +
            s"(the reference's _enforce_label_constraint, lightgbm.py:30-47)")
      // loud weight guard (ADVICE r10): LightGBM rejects negative sample
      // weights; a negative per-row weight can make a child's Σw size
      // negative or zero, where pickSplit's nl > 0 && nl < nn guard
      // silently discards valid splits — mirror the label guard above
      if (isW)
        require(range.counts(1) == 0L,
          s"tree-boost sample weights must be non-negative (${range.counts(1)} rows < 0); " +
            s"negative weights silently poison Σw node sizes and split gains")
      // loud magnitude guard (ADVICE r11): the weighted-quantile
      // microweight lattice is exact only while every Σm stays below
      // 2^53 and every per-row ⌊w·10⁶⌋ is itself exactly representable;
      // past the bounds NEITHER engine errors — the bitwise keystone
      // quietly degrades to float drift. Cap per-row weights at 1e9
      // (microweight 1e15, comfortably exact), which pushes a 2^53
      // group-total breach past ~9e6 rows at the cap — outside the
      // exact renewal's regime (see WeightedQuantile's class doc).
      if (isQW)
        require(range.counts(2) == 0L,
          s"weighted-quantile tree-boost caps per-row weights at 1e9 (${range.counts(2)} " +
            s"rows above); larger weights leave the exact microweight lattice " +
            s"(2^53 integral-double bound) and silently break the bitwise " +
            s"renewal contract — rescale the weights (quantile positions are " +
            s"scale-invariant)")
      if (nRows == 0L)
        throw new IllegalArgumentException(
          s"tree-boost fit has no complete training rows (every entity " +
            s"shorter than lags=$lags, or all rows null in ${p.value})")
      // every later pass folds in the fits' coalesce rule's partition
      // groups — the sequential fold order the oracle replicates. The
      // weighted-quantile mode keeps the uncoalesced partitions: its
      // per-task renewal work is O(rows in task), so one partition
      // would serialize the most expensive passes (the r11 41 s
      // defect), and every one of its statistics is association-order
      // independent (exact integral microweight sums, multiset
      // quantiles)
      val parts = FitBlocks.coalesceParts(blocks.numPartitions, nRows)
      val train =
        if (!isQW && parts < blocks.numPartitions) blocks.coalesce(parts) else blocks
      val newGather = () => QuantileGather(isW, quantileExact, alpha, quantileDelta)
      /** The quantile of y − F in each of `nb` leaves (F = `f0` plus the
        * leaves of `ts`; `leaf` routes a row): each partition's rows into
        * its leaves' states, merged in partition order. */
      def renew(nb: Int, f0: Double, ts: Array[Tree2])(
          leaf: (Array[Array[Double]], Int) => Int): Array[java.lang.Double] = {
        val partials = train.gather { bs =>
          val st = Array.fill(nb)(newGather())
          bs.foreach { b =>
            val x = b.cols
            var r = 0
            while (r < b.n) {
              st(leaf(x, r)).add(x(yj)(r) - score(f0, ts, x, r), if (isW) x(wj)(r) else 1.0)
              r += 1
            }
          }
          st.map(_.partial())
        }
        Array.tabulate(nb) { j =>
          val g = newGather()
          partials.foreach(ps => g.merge(ps(j)))
          g.result()
        }
      }
      val b0 = if (objective == "quantile") {
        // base score Q_α(y) (y − 0.0 is y, bit for bit) — under the
        // weighted rules Q_α over w
        val q = renew(1, 0.0, Array.empty)((_, _) => 0).head
        require(q != null, "quantile base score is null (no positive-weight training rows)")
        q.doubleValue
      } else {
        // Σy/n, or Σwy/Σw (LightGBM's weighted boost_from_average)
        val t = train.sum(2, 0) { (b, s, _) =>
          val y = b.cols(yj)
          var r = 0
          while (r < b.n) {
            if (isW) { s(0) += b.cols(wj)(r) * y(r); s(1) += b.cols(wj)(r) } else s(0) += y(r)
            r += 1
          }
        }
        val (sy, sw) = (t.sums(0), if (isW) t.sums(1) else nRows.toDouble)
        require(sw > 0, s"tree-boost sample weights sum to $sw (need > 0)")
        if (objective == "l2") sy / sw
        else {
          val (what, sumOf) = if (isW) ("weighted ", "w*y") else ("", "y")
          require(sy > 0, s"$objective objective needs a positive ${what}target mean " +
            s"(log link); sum($sumOf) = $sy")
          math.log(sy / sw)
        }
      }
      val grid = new BoostGrid.Grid(range, bins)
      val nc = grid.size
      val candFeat = grid.feat
      val candThr = grid.thr
      // One row's split statistics: `g` is added to a cell's gradient
      // sum when `has`, `sz` to its size. The gradient is the
      // objective's residual as Spark computed it: `exp` is
      // StrictMath.exp, and try_divide by a zero gives a NULL residual
      // (exactly DuckDB's double/0), `has = false` here — the row still
      // counts in node sizes and leaf denominators, it just contributes
      // no gradient; the tweedie Newton ratio's (p−1) and (2−p) are
      // precomputed as the oracle's literals are. Weighted mode:
      // gradient Σw·r, size Σw (LightGBM's weighted histogram). Weighted
      // QUANTILE mode: both are EXACT microweight sums — Σm over the
      // cell (size) and Σm over the cell ∧ y − F ≤ 0 — and the gradient
      // sum is α·Σm − Σm_le, combined at read time (the real Σm·r, since
      // r ∈ {α−1, α}); exact integral sums keep exactly-tied gains tied
      // (see the microweight comment at the reduction). Unweighted
      // sizes count rows (as doubles, exact below 2^53).
      val obj = Seq("l2", "poisson", "gamma", "tweedie", "quantile").indexOf(objective)
      val (tw1, tw2) = (tweedieP - 1.0, 2.0 - tweedieP)
      final class RowStat(var has: Boolean, var g: Double, var sz: Double)
      def rowStat(x: Array[Array[Double]], r: Int, f: Double, out: RowStat): Unit = {
        val y = x(yj)(r)
        if (isQW) {
          out.has = FitBlocks.le(y - f, 0.0); out.g = x(qj)(r); out.sz = x(qj)(r)
        } else {
          out.has = true
          val res = obj match {
            case 0 => y - f
            case 1 => y * StrictMath.exp(-f) - 1.0
            case 2 => if (y == 0.0) { out.has = false; 0.0 } else 1.0 - StrictMath.exp(f) / y
            case 3 =>
              val den = tw1 * y + tw2 * StrictMath.exp(f)
              if (den == 0.0) { out.has = false; 0.0 } else (y - StrictMath.exp(f)) / den
            // pinball gradient α − 1{y ≤ F}: constant-magnitude, used
            // ONLY to pick splits; leaf values come from pass C renewal
            case _ => if (FitBlocks.le(y, f)) alpha - 1.0 else alpha
          }
          out.g = if (isW) x(wj)(r) * res else res
          out.sz = if (isW) x(wj)(r) else 1.0
        }
      }
      // the read-time gradient-sum combine (weighted quantile): α·Σm −
      // Σm_le in this exact op order — the SQL oracle's cell expression
      // is byte-matched to it
      def grad(mleOrSl: Double, sm: Double): Double =
        if (isQW) alpha * sm - mleOrSl else mleOrSl
      var trees = Vector.empty[Tree2]
      (1 to rounds).foreach { _ =>
        val (fb0, ts) = (b0, trees.toArray)
        // One fold per pass: `side` routes each row to a node; per node,
        // slots 0..nc−1 hold each candidate's left gradient sum, slot nc
        // the node's, then the same nc + 1 sizes. Returns each node's
        // (left sums, left sizes, gradient sum, size).
        def cells(nodes: Int)(side: (Array[Array[Double]], Int) => Int) = {
          val w = 2 * (nc + 1)
          val t = train.sum(nodes * w, 0) { (b, s, _) =>
            val x = b.cols
            val st = new RowStat(false, 0.0, 0.0)
            var r = 0
            while (r < b.n) {
              rowStat(x, r, score(fb0, ts, x, r), st)
              val off = side(x, r) * w
              var ci = 0
              while (ci <= nc) {
                if (ci == nc || FitBlocks.le(x(candFeat(ci))(r), candThr(ci))) {
                  if (st.has) s(off + ci) += st.g
                  s(off + nc + 1 + ci) += st.sz
                }
                ci += 1
              }
              r += 1
            }
          }
          Array.tabulate(nodes) { k =>
            val nl = Array.tabulate(nc + 1)(ci => t.sums(k * w + nc + 1 + ci))
            val sl = Array.tabulate(nc + 1)(ci => grad(t.sums(k * w + ci), nl(ci)))
            (sl, nl, sl(nc), nl(nc))
          }
        }
        // pass A: the root candidates. The root's leaf values are
        // discarded (children refine them), but the picked candidate's
        // sum/size become the child nodes' totals
        val Array((slA, nlA, st, nt)) = cells(1)((_, _) => 0)
        val (root, _, _) = BoostGrid.pickSplit(grid, slA, nlA, st, nt, eta)
        val (rf, rthr) = (candFeat(root), candThr(root))
        // pass B: every candidate inside each child. A row goes left on
        // Spark's x <= thr and right on x > thr (the blocks hold no NaN),
        // the same routing as the trees
        val Array(l, rt) = cells(2)((x, r) => if (FitBlocks.le(x(rf)(r), rthr)) 0 else 1)
        val (lc, vllG, vlrG) = BoostGrid.pickSplit(grid, l._1, l._2, slA(root), nlA(root), eta)
        val (rc, vrlG, vrrG) = BoostGrid.pickSplit(grid, rt._1, rt._2, st - slA(root),
          nt - nlA(root), eta)
        val split = Tree2(rf + 1, rthr, candFeat(lc) + 1, candThr(lc), vllG, vlrG,
          candFeat(rc) + 1, candThr(rc), vrlG, vrrG)
        trees :+= (if (objective != "quantile") split else {
          // pass C (quantile only): leaf renewal — replace each leaf's
          // mean-gradient value with η·Q_α(y − F | leaf); an empty leaf's
          // quantile is null → 0.0, like the mean path
          val leafOf = split.copy(vll = 0, vlr = 1, vrl = 2, vrr = 3)
          val q = renew(4, fb0, ts)((x, r) => leafOf.at(x, r).toInt)
            .map(v => if (v == null) 0.0 else v * eta)
          split.copy(vll = q(0), vlr = q(1), vrl = q(2), vrr = q(3))
        })
      }
      Model(b0, trees, lags, freq, objective, labelClamp)
    } finally blocks.unpersist()
  }
}
