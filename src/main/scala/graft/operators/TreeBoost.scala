package graft.operators

import graft.core.Panel
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
  * Each boosting round is TWO codegen'd conditional-aggregation
  * passes over the cached reduction: pass A scores every (feature,
  * threshold) root candidate (left-sums/counts), pass B — after the
  * driver argmaxes the root — scores every candidate within each
  * child region. The argmaxes and leaf values are driver arithmetic
  * over the two collected rows, mirrored term-for-term by the oracle's
  * per-round CTEs. The depth-1 sibling ([[StumpBoost]]) shares the
  * grid/gain/leaf conventions; the full-depth MLlib ensemble
  * ([[GbtForecaster]]) remains the production alternative whose tree
  * internals stay out of SQL reach (spec-checked in ForecastSpec).
  *
  * Scale design: 2·`rounds` sequential scans of the cached reduction
  * (each a map-side partial agg, no shuffle beyond the lag window), a
  * collected row of O(lags·bins) doubles per pass, and a model of
  * `rounds` 4-leaf trees broadcast into the recursive predict. No
  * per-row state, no driver loop over entities.
  */
object TreeBoost {

  /** One depth-2 tree: root split (1-based lag `fi`, threshold `thr`),
    * per-child splits (`fl`/`tl`, `fr`/`tr`) and the 4 leaf values
    * (already scaled by the learning rate). */
  final case class Tree2(fi: Int, thr: Double,
                         fl: Int, tl: Double, vll: Double, vlr: Double,
                         fr: Int, tr: Double, vrl: Double, vrr: Double)

  final case class Model(b0: Double, trees: Seq[Tree2], lags: Int, freq: String,
                         objective: String = "l2",
                         labelClamp: Boolean = false) {
    def score(feats: Array[Double]): Double =
      // ((b0 + c1) + c2)… — the oracle's (b0 + c1 + c2 …) fold order
      trees.foldLeft(b0)((acc, t) =>
        acc + (if (feats(t.fi - 1) <= t.thr) {
          if (feats(t.fl - 1) <= t.tl) t.vll else t.vlr
        } else {
          if (feats(t.fr - 1) <= t.tr) t.vrl else t.vrr
        }))

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

  /** The tree's contribution as a Column — used for the residual of
    * the NEXT round (same nested-CASE shape the oracle's
    * stumpTerm/treeTerm emit). Every fitted value — thresholds, leaf
    * values AND the argmax-picked feature indices — enters through
    * [[graft.functions.StableConst]] reference objects and an
    * `element_at` over the feature array, never as inlined literals or
    * data-chosen column references: the generated source then depends
    * only on (lags, chain length), so all 5 boosting rounds and every
    * dataset share the handful of Janino classes Bench's tiny-panel
    * warmup precompiles (the cold driver bench previously paid
    * ~0.6-1 s compile per pass × 10 passes). Values and comparisons
    * are bitwise the literal form's, so the oracle is unaffected. */
  private def treeCol(t: Tree2, featsArr: Column): Column = {
    import graft.functions.StableConst.{double => sd, int => si}
    def f(i: Int): Column = element_at(featsArr, si(i))
    when(f(t.fi) <= sd(t.thr),
      when(f(t.fl) <= sd(t.tl), sd(t.vll)).otherwise(sd(t.vlr)))
      .otherwise(
        when(f(t.fr) <= sd(t.tr), sd(t.vrl)).otherwise(sd(t.vrr)))
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
    *    in-leaf conditional quantile. One extra aggregation pass per
    *    round. NOTE the renewal quantile buffers a value→count map
    *    per leaf (order-independent, hence bitwise-stable) — exact
    *    percentile memory is O(distinct residuals); at 100 TB swap in
    *    approx_percentile and drop the bitwise-oracle claim.
    *
    * `labelClamp` opts into the reference's pre-fit label transform
    * ([[clampPanel]]); the default keeps this engine's null-gradient
    * gamma behavior (documented above) — the two modes differ on
    * zero-heavy gamma targets, see TreeBoostSpec.
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
    * default (true) uses exact `percentile` (bit-identical to DuckDB
    * quantile_cont — the oracle-gated mode) whose value→count buffer
    * is O(distinct residuals) per merge task: unbounded on a 100 TB
    * panel of continuous targets. `quantileExact = false` swaps base
    * score and leaf renewal to `approx_percentile` (Greenwald-Khanna
    * sketch, memory bounded by the accuracy parameter — 1e5 here,
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
    val keep = (featureCols :+ p.value) ++
      (if (weight.isDefined) Seq("__wgt") else Nil) ++
      (if (isQW) Seq("__wgtq") else Nil)
    val train0 = reduction.na.drop(keep)
      .select(keep.map(col): _*).cache()
    // the GBT-fit parallelism rule (see GbtForecaster.fit): the round
    // loop runs 2·rounds sequential aggregation jobs plus a residual
    // cache each — target ~100k rows/partition so a small reduction
    // stops paying 32-task scheduling overhead per job, while a
    // 100 TB reduction still fans out to thousands of tasks
    // one pass on the PARALLEL cache: per-feature exact min/max and
    // the row count — all order-independent aggregates (min/max/count
    // are bitwise invariant to partial-merge order), so running them
    // before the coalesce is both safe and faster, and the pass doubles
    // as the cache materialization the coalesce below reads from. Only
    // sum(y) is order-sensitive and waits for the coalesced frame.
    val mmAggs = featureCols.flatMap(f => Seq(min(col(f)), max(col(f)))) ++
      Seq(count(lit(1)), count(when(col(p.value) < 0, lit(1)))) ++
      (if (weight.isDefined) Seq(count(when(col("__wgt") < 0, lit(1)))) else Nil) ++
      (if (isQW) Seq(count(when(col("__wgt") > 1e9, lit(1)))) else Nil)
    val mmRow = train0.agg(mmAggs.head, mmAggs.tail: _*).collect()(0)
    val nRows = mmRow.getLong(2 * lags)
    // loud label guard (ADVICE r9): LightGBM rejects negative labels
    // for poisson/tweedie; a negative target under a log link makes
    // the deviance gradient meaningless. labelClamp removes them by
    // construction. Gamma's y ≤ 0 handling (null residual) is
    // documented above and exercised by TreeBoostSpec.
    if ((objective == "poisson" || objective == "tweedie") && !labelClamp) {
      val nNeg = mmRow.getLong(2 * lags + 1)
      require(nNeg == 0L,
        s"$objective objective rejects negative targets ($nNeg rows < 0); " +
          s"pre-validate the panel or opt into labelClamp = true " +
          s"(the reference's _enforce_label_constraint, lightgbm.py:30-47)")
    }
    // loud weight guard (ADVICE r10): LightGBM rejects negative sample
    // weights; a negative per-row weight can make a child's Σw size
    // negative or zero, where pickSplit's nl > 0 && nl < nn guard
    // silently discards valid splits — mirror the label guard above
    if (weight.isDefined) {
      val nNegW = mmRow.getLong(2 * lags + 2)
      require(nNegW == 0L,
        s"tree-boost sample weights must be non-negative ($nNegW rows < 0); " +
          s"negative weights silently poison Σw node sizes and split gains")
    }
    // loud magnitude guard (ADVICE r11): the weighted-quantile
    // microweight lattice is exact only while every Σm stays below
    // 2^53 and every per-row ⌊w·10⁶⌋ is itself exactly representable;
    // past the bounds NEITHER engine errors — the bitwise keystone
    // quietly degrades to float drift. Cap per-row weights at 1e9
    // (microweight 1e15, comfortably exact), which pushes a 2^53
    // group-total breach past ~9e6 rows at the cap — outside the
    // exact renewal's regime (see WeightedQuantile's class doc).
    if (isQW) {
      val nBigW = mmRow.getLong(2 * lags + 3)
      require(nBigW == 0L,
        s"weighted-quantile tree-boost caps per-row weights at 1e9 ($nBigW " +
          s"rows above); larger weights leave the exact microweight lattice " +
          s"(2^53 integral-double bound) and silently break the bitwise " +
          s"renewal contract — rescale the weights (quantile positions are " +
          s"scale-invariant)")
    }
    if (nRows == 0L)
      throw new IllegalArgumentException(
        s"tree-boost fit has no complete training rows (every entity " +
          s"shorter than lags=$lags, or all rows null in ${p.value})")
    val parts = math.max(1L,
      math.min(train0.rdd.getNumPartitions.toLong, nRows / 100000L)).toInt
    // The ~100k-rows/partition coalesce was tuned for the cheap
    // codegen'd moment aggregates of the round loop (2·rounds small
    // jobs shouldn't pay 32-task scheduling). The weighted-quantile
    // mode must NOT inherit it: its 13 WeightedQuantileAgg passes are
    // object-buffer UDAFs whose per-task work is O(rows in task), so
    // coalescing to 1 partition serializes the most expensive passes
    // in the registry (the r11 41 s defect). Skipping the coalesce is
    // bitwise-safe there because EVERY isQW statistic is association-
    // order independent: split cells are exact integral microweight
    // sums, and base score / renewals are multiset quantiles (the
    // UDAF sorts in finish) — unlike the float sum(y)/Σw·r paths that
    // the sequential-fold oracle replicates on the coalesced frame.
    val train =
      if (!isQW && parts < train0.rdd.getNumPartitions) train0.coalesce(parts).cache()
      else train0
    try {
      val mins = Array.tabulate(lags)(i => mmRow.getDouble(2 * i))
      val maxs = Array.tabulate(lags)(i => mmRow.getDouble(2 * i + 1))
      // base prediction sum(y)/n on the COALESCED frame — the sum's
      // sequential fold order there is what the oracle replicates; this
      // first action also materializes the coalesced cache (reading
      // train0's cached blocks), after which train0 is safe to drop
      // quantile: base score Q_α(y) — Spark's exact interpolated
      // percentile, whose value is a pure function of the value
      // MULTISET (the buffer is a value→count map), so unlike the
      // sum it is partial-merge-order independent; the agg still
      // doubles as the coalesced-cache materialization
      // quantile aggregation dispatch (base score AND pass-C renewal):
      // weighted exact → cumulative-weight interpolated quantile;
      // weighted production → the bounded-memory merging-histogram
      // sketch (WeightedQuantileSketch, ~2δ centroids per group);
      // unweighted exact → Spark `percentile` (≡ DuckDB quantile_cont,
      // the oracle mode); unweighted production → approx_percentile at
      // accuracy 1e5 (GK sketch, bounded memory)
      def qAgg(value: Column): Column =
        if (weight.isDefined) {
          if (quantileExact) graft.functions.WeightedQuantileAgg(alpha)(value, col("__wgt"))
          else graft.functions.WeightedQuantileSketchAgg(alpha, quantileDelta)(value, col("__wgt"))
        }
        else if (quantileExact) percentile(value, lit(alpha))
        else approx_percentile(value, lit(alpha), lit(100000))
      val b0 = if (objective == "quantile") {
        val q = train.agg(qAgg(col(p.value))).collect()(0)
        if (train ne train0) train0.unpersist(blocking = false)
        require(!q.isNullAt(0),
          "quantile base score is null (no positive-weight training rows)")
        q.getDouble(0)
      } else if (weight.isDefined) {
        // weighted base score Σwy/Σw (LightGBM's weighted
        // boost_from_average)
        val r0 = train.agg(sum(col("__wgt") * col(p.value)), sum(col("__wgt")))
          .collect()(0)
        if (train ne train0) train0.unpersist(blocking = false)
        val (swy, sw) = (r0.getDouble(0), r0.getDouble(1))
        require(sw > 0, s"tree-boost sample weights sum to $sw (need > 0)")
        objective match {
          case "l2" => swy / sw
          case _ =>
            require(swy > 0,
              s"$objective objective needs a positive weighted target mean " +
                s"(log link); sum(w*y) = $swy")
            math.log(swy / sw)
        }
      } else {
        val sumY = train.agg(sum(col(p.value))).collect()(0).getDouble(0)
        if (train ne train0) train0.unpersist(blocking = false)
        objective match {
          case "l2" => sumY / nRows
          case _ =>
            require(sumY > 0,
              s"$objective objective needs a positive target mean (log link); " +
                s"sum(y) = $sumY")
            math.log(sumY / nRows)
        }
      }
      // uniform-grid candidates: mn + k·(mx−mn)/bins, k = 1..bins−1 —
      // identical IEEE op order to the oracle's threshold expression
      val cands = for { i <- 1 to lags; k <- 1 until bins }
        yield (i, k, mins(i - 1) + k * (maxs(i - 1) - mins(i - 1)) / bins.toDouble)

      /** Best candidate inside a node with residual-sum `sn` over size
        * `nn` (row count, or Σw in weighted mode — the arithmetic is
        * identical since Long counts convert exactly to Double below
        * 2^53), given each candidate's in-node left sum/size — the
        * shared SSE-reduction argmax (ties to lowest (feature, k), the
        * oracle's ORDER BY gain DESC, i, k LIMIT 1) and the mean-leaf
        * values ×η. Returns (feat, thr, vLeft, vRight). */
      def pickSplit(stats: IndexedSeq[(Int, Int, Double, Double, Double)],
                    sn: Double, nn: Double): (Int, Double, Double, Double) = {
        val scored = stats.map { case (i, k, t, sl, nl) =>
          val gain =
            if (nl > 0 && nl < nn) sl * sl / nl + (sn - sl) * (sn - sl) / (nn - nl)
            else -1e308
          (gain, i, k, t, sl, nl)
        }
        val (_, bi, _, bt, bsl, bnl) = scored.minBy { case (g, i, k, _, _, _) => (-g, i, k) }
        val vl = if (bnl > 0) bsl / bnl * eta else 0.0
        val vr = if (nn > bnl) (sn - bsl) / (nn - bnl) * eta else 0.0
        (bi, bt, vl, vr)
      }

      import graft.functions.StableConst.{double => sd, int => si}
      val featsArr = array(featureCols.map(col): _*)
      var trees = Vector.empty[Tree2]
      (1 to rounds).foreach { _ =>
        val fExpr = trees.foldLeft(sd(b0): Column)((acc, t) =>
          acc + treeCol(t, featsArr))
        val rExpr = objective match {
          case "l2" => col(p.value) - fExpr
          case "poisson" => col(p.value) * exp(-fExpr) - lit(1.0)
          // try_divide: a zero target yields a NULL residual (exactly
          // DuckDB's double/0) — the row still counts in node sizes
          // and leaf denominators (the aggregates below count matching
          // ROWS, like the oracle's CASE WHEN … THEN 1), it just
          // contributes no gradient
          case "gamma" => lit(1.0) - try_divide(exp(fExpr), col(p.value))
          // tweedie Newton ratio (see fit doc): driver-precomputed
          // (p−1)/(2−p) literals keep the SQL oracle's arithmetic
          // byte-identical; try_divide for the (unreachable after the
          // guard/clamp) zero denominator, matching DuckDB's NULL
          case "tweedie" =>
            try_divide(col(p.value) - exp(fExpr),
              lit(tweedieP - 1.0) * col(p.value) + lit(2.0 - tweedieP) * exp(fExpr))
          // pinball gradient α − 1{y ≤ F}: constant-magnitude, used
          // ONLY to pick splits; leaf values come from pass C renewal
          case "quantile" =>
            when(col(p.value) <= fExpr, lit(alpha - 1.0)).otherwise(lit(alpha))
        }
        // Materialize the residual ONCE per round behind a cache
        // barrier. Passing the raw expression into the O(lags·bins)
        // conditional aggregates would duplicate the nested per-tree
        // CASE chain into every aggregate expression — the plan (and
        // its generated code) grows ~200× per round, blowing codegen
        // method limits into interpreted fallback (measured 5-11 s per
        // pass at sf0.1 vs <0.5 s with the barrier). The cache also
        // lets pass B reuse pass A's materialization. Quantile also
        // materializes the raw residual y − F ("__d") behind the same
        // barrier — pass C renews leaves from its in-leaf quantiles.
        val rf0 = train.withColumn("__r", rExpr)
        val rf = (if (objective == "quantile")
          rf0.withColumn("__d", col(p.value) - fExpr)
        else rf0).cache()
        try {
        val r = col("__r")
        // pass A: root candidates (left sum/count per (feature, thr)).
        // The candidate FEATURE index i is structural (the loop spans
        // all of them) so the column reference stays direct; only the
        // threshold values are fitted → StableConst keeps the ~100-agg
        // generated class dataset-invariant.
        // counts tally matching ROWS (THEN 1, the oracle's form), not
        // non-null residuals — identical whenever r is non-null (l2 /
        // poisson always; gamma except zero targets), and it keeps the
        // two engines' node sizes aligned when gamma nulls a residual.
        // Weighted mode: residual sums become Σw·r and node sizes Σw
        // (LightGBM's weighted histogram), same shapes otherwise.
        // Weighted QUANTILE mode: the cells carry the two EXACT
        // microweight sums instead — Σm over the condition (size) and
        // Σm over condition ∧ y ≤ F — and the gradient sum is the
        // fixed combination α·Σm − Σm_le computed at read time (the
        // real Σm·r, since r ∈ {α−1, α}); exact integral sums keep
        // the exactly-tied gains tied (see the microweight comment at
        // the reduction)
        val isW = weight.isDefined
        val wc = col("__wgt")
        val wcq = col("__wgtq")
        val le = col("__d") <= lit(0.0)
        def rTerm(cond: Column): Column =
          if (isQW) sum(when(cond && le, wcq))
          else if (isW) sum(when(cond, wc * r))
          else sum(when(cond, r))
        def szTerm(cond: Column): Column =
          if (isQW) sum(when(cond, wcq))
          else if (isW) sum(when(cond, wc)) else count(when(cond, lit(1)))
        // a size cell: weighted sums can be NULL (no matching rows) —
        // coerce like the residual sums; unweighted counts never are
        def sz(row: org.apache.spark.sql.Row, idx: Int): Double =
          if (isW) { if (row.isNullAt(idx)) 0.0 else row.getDouble(idx) }
          else row.getLong(idx).toDouble
        // the read-time gradient-sum combine (weighted quantile):
        // α·Σm − Σm_le in this exact op order — the SQL oracle's cell
        // expression is byte-matched to it
        def grad(mleOrSl: Double, sm: Double): Double =
          if (isQW) alpha * sm - mleOrSl else mleOrSl
        val aggsA = cands.flatMap { case (i, _, t) =>
          Seq(rTerm(col(featureCols(i - 1)) <= sd(t)),
              szTerm(col(featureCols(i - 1)) <= sd(t)))
        } ++ (if (isQW) Seq(sum(when(le, wcq)), sum(wcq))
              else if (isW) Seq(sum(wc * r), sum(wc))
              else Seq(sum(r), count(lit(1))))
        val rowA = rf.agg(aggsA.head, aggsA.tail: _*).collect()(0)
        val stRaw = if (rowA.isNullAt(2 * cands.size)) 0.0
                    else rowA.getDouble(2 * cands.size)
        val nt = sz(rowA, 2 * cands.size + 1)
        val st = grad(stRaw, nt)
        val statsA = cands.zipWithIndex.map { case ((i, k, t), ci) =>
          val c0 = if (rowA.isNullAt(2 * ci)) 0.0 else rowA.getDouble(2 * ci)
          val n0 = sz(rowA, 2 * ci + 1)
          (i, k, t, grad(c0, n0), n0)
        }
        // root pick: leaf values are discarded (children refine them),
        // but the picked candidate's sum/count become the node totals
        val (rfi, rthr, _, _) = pickSplit(statsA, st, nt)
        val (_, _, _, sL, nL) = statsA.find { case (i, _, t, _, _) =>
          i == rfi && t == rthr
        }.get
        val (sR, nR) = (st - sL, nt - nL)
        // pass B: every candidate scored inside each child region. The
        // root decision is materialized as TWO boolean columns in a
        // tiny fused projection. The <=/> pair keeps the partition
        // EXPLICIT: a NaN feature fails `<=` and passes `>` (Spark —
        // like DuckDB — orders NaN above every double), so NaN rows
        // follow the RIGHT child in both engines, same as the
        // otherwise-branch in treeCol/Model.score. Keeping the gates
        // out of the 4·|cands| aggregates (vs inlining the picked
        // root condition into each) keeps the big pass-B aggregate
        // class identical across rounds; with the picked (feature,
        // threshold) carried via StableConst/element_at the projection
        // source is round- AND dataset-invariant too, so after the
        // warmup compile every round is a codegen-cache hit. A cache
        // barrier under the agg and a broadcast-params join were both
        // tried and measured SLOWER (materialization/join overhead
        // exceeded the compile saved) — keep this shape.
        val rootF = element_at(featsArr, si(rfi))
        val rfB = rf
          .withColumn("__gl", rootF <= sd(rthr))
          .withColumn("__gr", rootF > sd(rthr))
        val (gl, gr) = (col("__gl"), col("__gr"))
        val aggsB = cands.flatMap { case (i, _, t) =>
          val c = col(featureCols(i - 1)) <= sd(t)
          Seq(rTerm(gl && c), szTerm(gl && c),
              rTerm(gr && c), szTerm(gr && c))
        }
        val rowB = rfB.agg(aggsB.head, aggsB.tail: _*).collect()(0)
        def statsB(off: Int) = cands.zipWithIndex.map { case ((i, k, t), ci) =>
          val c0 = if (rowB.isNullAt(4 * ci + off)) 0.0 else rowB.getDouble(4 * ci + off)
          val n0 = sz(rowB, 4 * ci + off + 1)
          (i, k, t, grad(c0, n0), n0)
        }
        val (lfi, lthr, vllG, vlrG) = pickSplit(statsB(0), sL, nL)
        val (rfi2, rthr2, vrlG, vrrG) = pickSplit(statsB(2), sR, nR)
        // pass C (quantile only): leaf renewal — replace each leaf's
        // mean-gradient value with η·Q_α(y − F | leaf). The leaf
        // conditions reuse pass B's explicit __gl/__gr gates plus the
        // picked child split via StableConst/element_at (same NaN→
        // right-child and codegen-shape conventions as pass B); an
        // empty leaf's percentile is NULL → 0.0, like the mean path.
        val (vll, vlr, vrl, vrr) =
          if (objective != "quantile") (vllG, vlrG, vrlG, vrrG)
          else {
            val d = col("__d")
            val lF = element_at(featsArr, si(lfi))
            val rF2 = element_at(featsArr, si(rfi2))
            val aggsC = Seq(
              qAgg(when(gl && lF <= sd(lthr), d)),
              qAgg(when(gl && lF > sd(lthr), d)),
              qAgg(when(gr && rF2 <= sd(rthr2), d)),
              qAgg(when(gr && rF2 > sd(rthr2), d)))
            val rowC = rfB.agg(aggsC.head, aggsC.tail: _*).collect()(0)
            def lv(i: Int) =
              if (rowC.isNullAt(i)) 0.0 else rowC.getDouble(i) * eta
            (lv(0), lv(1), lv(2), lv(3))
          }
        trees :+= Tree2(rfi, rthr, lfi, lthr, vll, vlr, rfi2, rthr2, vrl, vrr)
        } finally rf.unpersist(blocking = false)
      }
      Model(b0, trees, lags, freq, objective, labelClamp)
    } finally train.unpersist(blocking = false)
  }
}
