package graft

import graft.core.Panel
import graft.functions.{FitBlocks, WeightedQuantile, WeightedQuantileSketch}
import graft.operators.{CrossValidation, Forecasters, TreeBoost}
import graft.operators.TreeBoost.Tree2
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** [[TreeBoost.fit]]'s block folds against the SQL-aggregate round loop
  * they replaced (kept below as the reference, with plain literals),
  * bit for bit: b0 and every tree's splits and leaf values, for every
  * objective and mode, on seeded panels with null, NaN, −0.0 and ±Inf
  * lags over 1, 3 and 8 partitions — each fit at driver cap 0 (one job
  * per pass) and with no cap (the passes after the first on the
  * driver). */
class TreeBoostKernelSpec extends SparkSpec {

  /** The former `TreeBoost.fit` body: per-round residual caches and two
    * (quantile: three) conditional-aggregation queries. The one change:
    * the picked root's sums are read by candidate index, where the old
    * (lag, threshold) lookup failed on a NaN threshold. */
  private def refTree(p: Panel, lags: Int, rounds: Int, bins: Int, eta: Double,
                      objective: String, objParam: Double = Double.NaN,
                      labelClamp: Boolean = false,
                      weight: Option[(Column, Column) => Column] = None,
                      quantileExact: Boolean = true,
                      quantileDelta: Int = 2000): (Double, Vector[Tree2]) = {
    val alpha =
      if (objective == "quantile") { if (objParam.isNaN) 0.5 else objParam } else Double.NaN
    val tweedieP =
      if (objective == "tweedie") { if (objParam.isNaN) 1.5 else objParam } else Double.NaN
    val pc = if (labelClamp) TreeBoost.clampPanel(p, objective) else p
    val reduction0 = Forecasters.makeReduction(pc, lags)
    val isQW = weight.isDefined && objective == "quantile"
    val reduction = weight match {
      case None => reduction0
      case Some(f) =>
        val base = CrossValidation.withPosition(pc.copy(df = reduction0))
          .withColumn("__wgt", f(col("__rn"), col("__cnt")))
        if (isQW) base.withColumn("__wgtq",
          floor(col("__wgt") * lit(1e6) + lit(0.5)).cast("double"))
        else base
    }
    val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l")
    val keep = (featureCols :+ p.value) ++
      (if (weight.isDefined) Seq("__wgt") else Nil) ++
      (if (isQW) Seq("__wgtq") else Nil)
    val train0 = reduction.na.drop(keep).select(keep.map(col): _*).cache()
    val mmAggs = featureCols.flatMap(f => Seq(min(col(f)), max(col(f)))) ++
      Seq(count(lit(1)))
    val mmRow = train0.agg(mmAggs.head, mmAggs.tail: _*).collect()(0)
    val nRows = mmRow.getLong(2 * lags)
    val parts = math.max(1L,
      math.min(train0.rdd.getNumPartitions.toLong, nRows / 100000L)).toInt
    val train =
      if (!isQW && parts < train0.rdd.getNumPartitions) train0.coalesce(parts).cache()
      else train0
    try {
      val mins = Array.tabulate(lags)(i => mmRow.getDouble(2 * i))
      val maxs = Array.tabulate(lags)(i => mmRow.getDouble(2 * i + 1))
      def qAgg(value: Column): Column =
        if (weight.isDefined) {
          if (quantileExact) udaf(new TreeBoostKernelSpec.WqAgg(alpha), TreeBoostKernelSpec.pairEnc)(value, col("__wgt"))
          else udaf(new TreeBoostKernelSpec.WqSketchAgg(alpha, quantileDelta), TreeBoostKernelSpec.pairEnc)(value, col("__wgt"))
        }
        else if (quantileExact) percentile(value, lit(alpha))
        else approx_percentile(value, lit(alpha), lit(100000))
      val b0 = if (objective == "quantile") {
        train.agg(qAgg(col(p.value))).collect()(0).getDouble(0)
      } else if (weight.isDefined) {
        val r0 = train.agg(sum(col("__wgt") * col(p.value)), sum(col("__wgt"))).collect()(0)
        val (swy, sw) = (r0.getDouble(0), r0.getDouble(1))
        if (objective == "l2") swy / sw else math.log(swy / sw)
      } else {
        val sumY = train.agg(sum(col(p.value))).collect()(0).getDouble(0)
        if (objective == "l2") sumY / nRows else math.log(sumY / nRows)
      }
      val cands = for { i <- 1 to lags; k <- 1 until bins }
        yield (i, k, mins(i - 1) + k * (maxs(i - 1) - mins(i - 1)) / bins.toDouble)
      def pickSplit(stats: IndexedSeq[(Int, Int, Double, Double, Double)],
                    sn: Double, nn: Double): (Int, Double, Double) = {
        val scored = stats.zipWithIndex.map { case ((i, k, _, sl, nl), ci) =>
          val gain =
            if (nl > 0 && nl < nn) sl * sl / nl + (sn - sl) * (sn - sl) / (nn - nl)
            else -1e308
          (gain, i, k, ci)
        }
        val (_, _, _, best) = scored.minBy { case (g, i, k, _) => (-g, i, k) }
        val (_, _, _, bsl, bnl) = stats(best)
        val vl = if (bnl > 0) bsl / bnl * eta else 0.0
        val vr = if (nn > bnl) (sn - bsl) / (nn - bnl) * eta else 0.0
        (best, vl, vr)
      }
      val featsArr = array(featureCols.map(col): _*)
      def f(i: Int): Column = element_at(featsArr, lit(i))
      var trees = Vector.empty[Tree2]
      (1 to rounds).foreach { _ =>
        val fExpr = trees.foldLeft(lit(b0))((acc, t) => acc +
          when(f(t.fi) <= lit(t.thr), when(f(t.fl) <= lit(t.tl), lit(t.vll)).otherwise(lit(t.vlr)))
            .otherwise(when(f(t.fr) <= lit(t.tr), lit(t.vrl)).otherwise(lit(t.vrr))))
        val rExpr = objective match {
          case "l2" => col(p.value) - fExpr
          case "poisson" => col(p.value) * exp(-fExpr) - lit(1.0)
          case "gamma" => lit(1.0) - try_divide(exp(fExpr), col(p.value))
          case "tweedie" =>
            try_divide(col(p.value) - exp(fExpr),
              lit(tweedieP - 1.0) * col(p.value) + lit(2.0 - tweedieP) * exp(fExpr))
          case "quantile" =>
            when(col(p.value) <= fExpr, lit(alpha - 1.0)).otherwise(lit(alpha))
        }
        val rf0 = train.withColumn("__r", rExpr)
        val rf = (if (objective == "quantile") rf0.withColumn("__d", col(p.value) - fExpr)
                  else rf0).cache()
        try {
          val r = col("__r")
          val isW = weight.isDefined
          val (wc, wcq) = (col("__wgt"), col("__wgtq"))
          val le = col("__d") <= lit(0.0)
          def rTerm(cond: Column): Column =
            if (isQW) sum(when(cond && le, wcq))
            else if (isW) sum(when(cond, wc * r))
            else sum(when(cond, r))
          def szTerm(cond: Column): Column =
            if (isQW) sum(when(cond, wcq))
            else if (isW) sum(when(cond, wc)) else count(when(cond, lit(1)))
          def sz(row: org.apache.spark.sql.Row, idx: Int): Double =
            if (isW) { if (row.isNullAt(idx)) 0.0 else row.getDouble(idx) }
            else row.getLong(idx).toDouble
          def grad(mleOrSl: Double, sm: Double): Double =
            if (isQW) alpha * sm - mleOrSl else mleOrSl
          val aggsA = cands.flatMap { case (i, _, t) =>
            Seq(rTerm(col(featureCols(i - 1)) <= lit(t)), szTerm(col(featureCols(i - 1)) <= lit(t)))
          } ++ (if (isQW) Seq(sum(when(le, wcq)), sum(wcq))
                else if (isW) Seq(sum(wc * r), sum(wc))
                else Seq(sum(r), count(lit(1))))
          val rowA = rf.agg(aggsA.head, aggsA.tail: _*).collect()(0)
          val stRaw = if (rowA.isNullAt(2 * cands.size)) 0.0 else rowA.getDouble(2 * cands.size)
          val nt = sz(rowA, 2 * cands.size + 1)
          val st = grad(stRaw, nt)
          val statsA = cands.zipWithIndex.map { case ((i, k, t), ci) =>
            val c0 = if (rowA.isNullAt(2 * ci)) 0.0 else rowA.getDouble(2 * ci)
            val n0 = sz(rowA, 2 * ci + 1)
            (i, k, t, grad(c0, n0), n0)
          }
          val (root, _, _) = pickSplit(statsA, st, nt)
          val (rfi, _, rthr, sL, nL) = statsA(root)
          val (sR, nR) = (st - sL, nt - nL)
          val rfB = rf.withColumn("__gl", f(rfi) <= lit(rthr)).withColumn("__gr", f(rfi) > lit(rthr))
          val (gl, gr) = (col("__gl"), col("__gr"))
          val aggsB = cands.flatMap { case (i, _, t) =>
            val c = col(featureCols(i - 1)) <= lit(t)
            Seq(rTerm(gl && c), szTerm(gl && c), rTerm(gr && c), szTerm(gr && c))
          }
          val rowB = rfB.agg(aggsB.head, aggsB.tail: _*).collect()(0)
          def statsB(off: Int) = cands.zipWithIndex.map { case ((i, k, t), ci) =>
            val c0 = if (rowB.isNullAt(4 * ci + off)) 0.0 else rowB.getDouble(4 * ci + off)
            val n0 = sz(rowB, 4 * ci + off + 1)
            (i, k, t, grad(c0, n0), n0)
          }
          val (lc, vllG, vlrG) = pickSplit(statsB(0), sL, nL)
          val (rc, vrlG, vrrG) = pickSplit(statsB(2), sR, nR)
          val (lfi, _, lthr) = cands(lc)
          val (rfi2, _, rthr2) = cands(rc)
          val (vll, vlr, vrl, vrr) =
            if (objective != "quantile") (vllG, vlrG, vrlG, vrrG)
            else {
              val d = col("__d")
              val aggsC = Seq(
                qAgg(when(gl && f(lfi) <= lit(lthr), d)),
                qAgg(when(gl && f(lfi) > lit(lthr), d)),
                qAgg(when(gr && f(rfi2) <= lit(rthr2), d)),
                qAgg(when(gr && f(rfi2) > lit(rthr2), d)))
              val rowC = rfB.agg(aggsC.head, aggsC.tail: _*).collect()(0)
              def lv(i: Int) = if (rowC.isNullAt(i)) 0.0 else rowC.getDouble(i) * eta
              (lv(0), lv(1), lv(2), lv(3))
            }
          trees :+= Tree2(rfi, rthr, lfi, lthr, vll, vlr, rfi2, rthr2, vrl, vrr)
        } finally rf.unpersist(blocking = false)
      }
      (b0, trees)
    } finally {
      train.unpersist(blocking = false)
      train0.unpersist(blocking = false)
    }
  }

  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)

  /** Bit-equal, except that zeros of either sign pass where `percentile`
    * cannot tell them apart (its value map orders −0.0 and 0.0 by hash). */
  private def same(a: Double, b: Double, zeroSign: Boolean): Boolean =
    bits(a) == bits(b) || (zeroSign && a == 0.0 && b == 0.0)

  private def assertSameModel(got: TreeBoost.Model, want: (Double, Vector[Tree2]),
                              zeroSign: Boolean, ctx: String): Unit = {
    assert(same(got.b0, want._1, zeroSign), s"$ctx b0 ${got.b0} vs ${want._1}")
    assert(got.trees.length == want._2.length, ctx)
    got.trees.zip(want._2).zipWithIndex.foreach { case ((g, w), k) =>
      val ok = g.fi == w.fi && g.fl == w.fl && g.fr == w.fr &&
        Seq(g.thr -> w.thr, g.tl -> w.tl, g.tr -> w.tr).forall { case (x, y) => bits(x) == bits(y) } &&
        Seq(g.vll -> w.vll, g.vlr -> w.vlr, g.vrl -> w.vrl, g.vrr -> w.vrr)
          .forall { case (x, y) => same(x, y, zeroSign) }
      assert(ok, s"$ctx round $k: $g vs $w")
    }
  }

  /** Seeded panels of 7 entities. Values sit on a coarse grid (gain ties,
    * values on thresholds) with −0.0 and 0.0, a null and a NaN cell per
    * entity; "inf" adds one short entity per sign whose one complete row
    * holds ±Inf in the last lag only (that lag's thresholds are NaN);
    * "allinf" opens two entities with `lags` values of −Inf and +Inf
    * (every lag's thresholds are NaN). `positive` keeps labels ≥ 0 (poisson, tweedie),
    * `zeros` adds zero labels (gamma's null residuals). */
  private def kernelPanel(seed: Long, lags: Int, flavour: String, positive: Boolean,
                          zeros: Boolean): Panel = {
    val rnd = new scala.util.Random(seed)
    def cell(t: Int): java.lang.Double = rnd.nextInt(40) match {
      case 0 if t > 0 => null
      case 1 if t > 0 => Double.NaN
      case 2 => -0.0
      case 3 if zeros => 0.0
      case _ =>
        val v = math.rint(rnd.nextGaussian() * 24) / 8 + (if (positive) 6.0 else 0.0)
        if (positive) math.abs(v) + (if (zeros) 0.0 else 0.25) else v
    }
    val body = (0 until 7).map(e => (0 until 30).map(cell))
    val extra = flavour match {
      case "inf" =>
        Seq(Double.NegativeInfinity, Double.PositiveInfinity).map(inf =>
          (inf: java.lang.Double) +: (1 to lags).map(_ => cell(1)).map(v =>
            if (v == null || v.isNaN) (if (positive) 1.0 else 0.5): java.lang.Double else v))
      case _ => Nil
    }
    val series = (body ++ extra).zipWithIndex.map { case (s, e) =>
      if (flavour == "allinf" && (e == 1 || e == 2))
        Seq.fill(lags)((if (e == 1) Double.NegativeInfinity else Double.PositiveInfinity):
          java.lang.Double) ++ s.drop(lags)
      else s
    }
    import spark.implicits._
    val rows = series.zipWithIndex.flatMap { case (s, e) =>
      s.zipWithIndex.map { case (v, t) => (e, t, Option(v).map(_.doubleValue)) }
    }
    Panel(rows.toDF("entity", "t", "value"), Seq("entity"), Seq("t"), "value")
  }

  private final case class Mode(name: String, objective: String,
                                objParam: Double = Double.NaN,
                                labelClamp: Boolean = false,
                                weight: Option[(Column, Column) => Column] = None,
                                exact: Boolean = true) {
    def positive: Boolean = !labelClamp && (objective == "poisson" || objective == "tweedie")
    def zeros: Boolean = objective == "gamma"
    /** Renewals under Spark's `percentile` may differ in a zero's sign. */
    def zeroSign: Boolean = objective == "quantile" && weight.isEmpty && exact
  }

  // fractional weights with zero and unit runs: non-positive weights
  // drop out of the weighted renewal, as in the former aggregate
  private val wfn: (Column, Column) => Column =
    (rn, cnt) => (pmod(rn, lit(4)) * lit(0.375) + (rn / cnt)).cast("double") *
      when(pmod(rn, lit(9)) === lit(0), lit(0.0)).otherwise(lit(1.0))

  private val modes = Seq(
    Mode("l2", "l2"),
    Mode("poisson", "poisson"),
    Mode("gamma", "gamma"),
    Mode("tweedie", "tweedie", objParam = 1.3),
    Mode("quantile 0.1", "quantile", objParam = 0.1),
    Mode("quantile 0.5", "quantile", objParam = 0.5),
    Mode("quantile 0.9", "quantile", objParam = 0.9),
    Mode("weighted l2", "l2", weight = Some(wfn)),
    Mode("weighted poisson", "poisson", weight = Some(wfn)),
    Mode("weighted quantile", "quantile", objParam = 0.25, weight = Some(wfn)),
    Mode("clamped gamma", "gamma", labelClamp = true),
    Mode("clamped poisson", "poisson", labelClamp = true),
    Mode("approx quantile", "quantile", objParam = 0.75, exact = false),
    Mode("sketch quantile", "quantile", objParam = 0.6, weight = Some(wfn), exact = false))

  private def check(m: Mode, flavour: String, seed: Long, parts: Int, lags: Int = 3,
                    rounds: Int = 3, bins: Int = 4): Unit = {
    val p0 = kernelPanel(seed, lags, flavour, m.positive, m.zeros)
    val p = p0.copy(df = p0.df.repartition(parts, col("entity")))
    val want = refTree(p, lags, rounds, bins, 0.3, m.objective, m.objParam, m.labelClamp,
      m.weight, m.exact)
    atBothCaps(noLeftovers(TreeBoost.fit(p, lags, "1i", rounds, bins, 0.3, m.objective,
      m.objParam, m.labelClamp, m.weight, m.exact))).foreach { case (cap, got) =>
      assertSameModel(got, want, m.zeroSign, s"${m.name}/$flavour/$parts/$cap")
    }
  }

  test("tree rounds: block folds == SQL-aggregate loop, bit for bit, every objective") {
    for ((m, k) <- modes.zipWithIndex; parts <- Seq(1, 3, 8))
      check(m, flavour = Seq("grid", "inf", "allinf")((k + parts) % 3), seed = 100L + k, parts)
  }

  test("tree rounds at 8 bins and 5 lags: same bits") {
    for ((m, k) <- Seq(modes(0), modes(2), modes(5), modes(9)).zipWithIndex)
      check(m, flavour = "inf", seed = 200L + k, parts = 3, lags = 5, rounds = 2, bins = 8)
  }

  test("the kernel panels reach NaN thresholds and gamma's null residuals") {
    // "inf": the last lag spans −Inf..+Inf, so its grid is NaN; "allinf":
    // every lag's is, and every tree splits at NaN
    val inf = refTree(kernelPanel(7L, 3, "inf", positive = false, zeros = false), 3, 2, 4,
      0.3, "l2")
    val all = refTree(kernelPanel(7L, 3, "allinf", positive = false, zeros = false), 3, 2, 4,
      0.3, "l2")
    assert(all._2.forall(t => t.thr.isNaN && t.tl.isNaN && t.tr.isNaN), all)
    assert(!inf._2.exists(_.thr.isNaN), inf)
    val red = Forecasters.makeReduction(kernelPanel(102L, 3, "grid", positive = false,
      zeros = true), 3)
    assert(red.na.drop().filter(col("value") === 0.0).count() > 0)
  }

  test("tree predict sends every value left of a NaN threshold, like the fit") {
    // the fit routes with Spark's `x <= thr` (NaN greatest): a NaN
    // threshold holds for every x, so the left subtree applies
    val p = panel((0 until 8).map(t => t.toDouble))
    val m = TreeBoost.Model(1.0, Seq(Tree2(1, Double.NaN, 1, Double.NaN, 5.0, -5.0,
      1, 0.0, 7.0, -7.0)), lags = 1, freq = "1i")
    val preds = m.predict(p, "t", fh = 2).orderBy("t").collect().map(_.getAs[Double]("value"))
    assert(preds.toSeq == Seq(6.0, 6.0))
  }

  test("tree fit and predict on a panel whose lags span -Inf..+Inf") {
    // the first two points of each entity are lags only: ±Inf there
    // makes every grid threshold NaN, so every row takes the left leaf
    // of every tree and the right subtree is empty (leaves 0.0); labels
    // of mixed magnitude keep the left leaves off 0.0
    val body = (0 until 30).map(t => math.sin(t) * 1000 + t * 1e-3)
    val p = panel(Seq(Double.NegativeInfinity, Double.NegativeInfinity) ++ body,
      Seq(Double.PositiveInfinity, Double.PositiveInfinity) ++ body.reverse)
    val m = TreeBoost.fit(p, lags = 2, freq = "1i", rounds = 3, bins = 4, eta = 0.5)
    assert(m.trees.forall(t => t.thr.isNaN && t.tl.isNaN && t.vrl == 0.0 && t.vrr == 0.0),
      m.trees)
    val left = m.trees.foldLeft(m.b0)(_ + _.vll)
    val right = m.trees.foldLeft(m.b0)(_ + _.vrr)
    assert(bits(left) != bits(right), s"fixture does not separate the leaves: $m")
    val preds = m.predict(p, "t", fh = 2).collect().map(_.getAs[Double]("value"))
    assert(preds.length == 4 && preds.forall(v => bits(v) == bits(left)),
      s"${preds.toSeq} vs left $left / right $right")
  }

  test("every guard fails before the rounds and leaves no blocks or cached frames") {
    val neg = panel((0 until 20).map(t => if (t == 9) -1.0 else t % 5 + 1.0))
    val ok = panel((0 until 20).map(t => t % 5 + 1.0), (0 until 20).map(t => t % 3 + 2.0))
    val cases = Seq[(String, () => TreeBoost.Model)](
      "poisson negative label" -> (() =>
        TreeBoost.fit(neg, lags = 2, freq = "1i", objective = "poisson")),
      "tweedie negative label" -> (() =>
        TreeBoost.fit(neg, lags = 2, freq = "1i", objective = "tweedie")),
      "negative weight" -> (() => TreeBoost.fit(ok, lags = 2, freq = "1i",
        weight = Some((rn, _) => when(rn === lit(5), lit(-1.0)).otherwise(lit(1.0))))),
      "weight above 1e9" -> (() => TreeBoost.fit(ok, lags = 2, freq = "1i",
        objective = "quantile", weight = Some((rn, _) => rn.cast("double") * lit(1e8)))),
      "no rows" -> (() => TreeBoost.fit(panel(Seq(1.0, 2.0)), lags = 3, freq = "1i")),
      "quantile null base" -> (() => TreeBoost.fit(ok, lags = 2, freq = "1i",
        objective = "quantile", weight = Some((_, _) => lit(0.0)))))
    for ((name, fit) <- cases) {
      atBothCaps(intercept[IllegalArgumentException](noLeftovers(fit())).getMessage)
        .foreach { case (cap, msg) => assert(msg != null, s"$name/$cap") }
    }
  }

  test("a small fit runs one job at the default cap, one per pass at cap 0") {
    // the panel is cached partitioned by entity, so the reduction's
    // window needs no exchange and the materializing pass is one job
    val p0 = kernelPanel(300L, 3, "grid", positive = true, zeros = false)
    val cached = p0.df.repartition(3, col("entity")).cache()
    try {
      cached.count()
      val p = p0.copy(df = cached)
      val rounds = 3
      for (m <- modes if !m.labelClamp) {
        def fit() = TreeBoost.fit(p, 3, "1i", rounds, 4, 0.3, m.objective, m.objParam,
          m.labelClamp, m.weight, m.exact)
        val (jobs, _) = jobsOf(noLeftovers(fit()))
        val (capJobs, _) = withDriverCap(0L)(jobsOf(noLeftovers(fit())))
        val bound = 2 + (if (m.objective == "quantile") 3 else 2) * rounds
        assert(jobs == 1 && capJobs <= bound, s"${m.name}: $jobs jobs, $capJobs at cap 0")
      }
    } finally cached.unpersist()
  }

  test("a repeated fit of each objective compiles no new classes") {
    def compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def fits(seed: Long): Unit = modes.foreach { m =>
      TreeBoost.fit(kernelPanel(seed, 3, "grid", m.positive, m.zeros), 3, "1i", 2, 4, 0.3,
        m.objective, m.objParam, m.labelClamp, m.weight, m.exact)
    }
    fits(401L)
    val c0 = compiles
    fits(402L)
    assert(compiles == c0)
  }
}

object TreeBoostKernelSpec {

  /** The former weighted renewal aggregate: (value, weight) rows, null
    * values and non-positive weights skipped, empty → null. */
  class WqAgg(alpha: Double)
      extends Aggregator[(java.lang.Double, java.lang.Double), WeightedQuantile.PairBuf,
        java.lang.Double] {
    def zero = new WeightedQuantile.PairBuf()
    def reduce(b: WeightedQuantile.PairBuf, in: (java.lang.Double, java.lang.Double)) =
      if (in._1 == null || in._2 == null || in._2.doubleValue <= 0.0) b
      else b.append(in._1.doubleValue, in._2.doubleValue)
    def merge(a: WeightedQuantile.PairBuf, b: WeightedQuantile.PairBuf) = a.mergeWith(b)
    def finish(b: WeightedQuantile.PairBuf) = WeightedQuantile.of(b.pairs, alpha)
    def bufferEncoder: Encoder[WeightedQuantile.PairBuf] = Encoders.kryo[WeightedQuantile.PairBuf]
    def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
  }

  /** The former bounded-memory weighted renewal aggregate. */
  class WqSketchAgg(alpha: Double, delta: Int)
      extends Aggregator[(java.lang.Double, java.lang.Double), WeightedQuantileSketch,
        java.lang.Double] {
    def zero = new WeightedQuantileSketch(delta, 8192)
    def reduce(b: WeightedQuantileSketch, in: (java.lang.Double, java.lang.Double)) =
      if (in._1 == null || in._2 == null || in._2.doubleValue <= 0.0) b
      else b.add(in._1.doubleValue, in._2.doubleValue)
    def merge(a: WeightedQuantileSketch, b: WeightedQuantileSketch) = a.mergeWith(b)
    def finish(b: WeightedQuantileSketch) = b.quantile(alpha)
    def bufferEncoder: Encoder[WeightedQuantileSketch] = Encoders.kryo[WeightedQuantileSketch]
    def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
  }

  val pairEnc: Encoder[(java.lang.Double, java.lang.Double)] =
    Encoders.product[(java.lang.Double, java.lang.Double)]
}
