package graft.queries

/** DuckDB-SQL generators replicating the closed-form linear backtest /
  * predict machinery ([[graft.operators.AutoForecast]],
  * [[graft.operators.LinearForecaster]]) for the correctness oracle.
  *
  * All fragments assume a CTE `lagd` is in scope with columns
  * `user_id, ts, value, f1..f<maxLag>` (fj = lag(value, j) over the
  * entity window), `rn` (1-based position) and `cnt` (series length).
  * Solves reuse [[Q.cholSolveSql]]'s staged-Cholesky chains; rd6
  * rounding on the final consumer absorbs the engines' sub-ULP
  * sum-order drift through the solves.
  */
object OlsBacktestSql {

  /** Recursive AR prediction for horizon h over solution columns
    * a_0..a_<lags> and tail columns t1..t<lags>: state(j) = p_{h-j}
    * for j < h (earlier horizons), else t_{j-h+1}. Folds from the
    * intercept in ascending j, the order of
    * graft.operators.Forecasters.affineExpr (predictRecursiveLinear
    * and the prefix backtests). */
  private def predExpr(h: Int, lags: Int, drift: Boolean = true): String = {
    // drift=false (no-intercept fit): the Cholesky solution names
    // a_0..a_{lags-1} for f1..f<lags> and there is no intercept term
    val terms = (1 to lags).map { j =>
      val s = if (j < h) s"p${h - j}" else s"t${j - h + 1}"
      if (drift) s"a_$j * $s" else s"a_${j - 1} * $s"
    }
    val all = if (drift) s"a_0" +: terms else terms
    all.mkString("(", " + ", s") AS p$h")
  }

  /** Staged recursion: one MATERIALIZED CTE per horizon (lateral-alias
    * substitution nests the whole chain into one expression and blows
    * DuckDB's binder recursion limit at lags·horizons ≳ 128). `from0`
    * must carry t1..t<lags> and a_0..a_<lags>; the final CTE
    * `<p>pred` also carries p1..p<horizons>. */
  private def predStages(p: String, from0: String, horizons: Int, lags: Int,
                         drift: Boolean = true): String = {
    val stages = (1 to horizons).map { h =>
      val src = if (h == 1) from0 else s"${p}h${h - 1}"
      s"${p}h$h AS MATERIALIZED (SELECT *, ${predExpr(h, lags, drift)} FROM $src)"
    }
    (stages :+ s"${p}pred AS (SELECT * FROM ${p}h$horizons)").mkString(", ")
  }

  /** Tail CTE `<tag>_tail`: one row per entity long enough for a
    * `lags`-deep state ending at position `endRn` (SQL over lagd
    * columns), with t1 = newest state value. */
  private def tailCte(tag: String, lags: Int, endRn: String): String = {
    val ts = (1 to lags).map(j => if (j == 1) "value AS t1" else s"f${j - 1} AS t$j")
    val longEnough = if (lags == 1) "TRUE" else s"f${lags - 1} IS NOT NULL"
    s"""${tag}_tail AS (SELECT user_id, ts AS cutoff, ${ts.mkString(", ")}
          FROM lagd WHERE rn = $endRn AND $longEnough)"""
  }

  /** CTEs for one expanding-window linear backtest candidate: pooled
    * per-split OLS on the row-prefix (rn ≤ cnt − cutoff), recursive
    * predictions for h = 1..testSize, inner-joined to actuals.
    * Emits `bt_<tag>` with (user_id, h, split, actual, pred).
    * `offset` shifts every cutoff: the backtest runs on the row-prefix
    * cnt − offset instead of the full series — the inner backtest a
    * NESTED CV (an elite fit per outer split) performs on an outer
    * train slice. */
  def backtestLinear(tag: String, lags: Int, testSize: Int, nSplits: Int,
                     stepSize: Int, ridge: Double = 0.0,
                     drift: Boolean = true, offset: Int = 0): String = {
    // drift=false: no intercept regressor — every coefficient is
    // penalized (sklearn fit_intercept=False), d = lags
    val xs = if (drift) "1.0" +: (1 to lags).map(j => s"f$j")
             else (1 to lags).map(j => s"f$j")
    val d = xs.length
    val pfrom = if (drift) 1 else 0
    val splits = (0 until nSplits).map { i =>
      val cutoff = offset + testSize + (nSplits - 1 - i) * stepSize
      val t = s"${tag}_s$i"
      val predCases = (1 to testSize)
        .map(h => s"WHEN $h THEN p.p$h").mkString(" ")
      s"""${t}_mom AS (SELECT ${Q.olsMomentsSql(xs, "value", ridge, pfrom)}
            FROM lagd WHERE rn > $lags AND rn <= cnt - $cutoff),
          ${Q.cholSolveSql(d, s"${t}_mom", s"${t}_ch")},
          ${tailCte(s"$t", lags, s"cnt - $cutoff")},
          ${t}_p0 AS (SELECT * FROM ${t}_tail
            CROSS JOIN ${Q.cholSolveLast(d, s"${t}_ch")}),
          ${predStages(s"${t}_", s"${t}_p0", testSize, lags, drift)},
          ${t}_bt AS (
            SELECT a.user_id, a.rn - (a.cnt - $cutoff) AS h, $i AS split,
                   a.value AS actual, CASE a.rn - (a.cnt - $cutoff) $predCases END AS pred
            FROM lagd a JOIN ${t}_pred p ON a.user_id = p.user_id
            WHERE a.rn > a.cnt - $cutoff AND a.rn <= a.cnt - $cutoff + $testSize)"""
    }
    val union = (0 until nSplits).map(i => s"SELECT * FROM ${tag}_s${i}_bt")
      .mkString(" UNION ALL ")
    (splits :+ s"bt_$tag AS ($union)").mkString(", ")
  }

  /** CTEs for the (seasonal-)naive expanding-window backtest: horizon
    * h's prediction is the train-slice value at position
    * trainEnd − sp + ((h−1) mod sp) + 1. Emits `bt_<tag>`. */
  def backtestNaive(tag: String, sp: Int, testSize: Int, nSplits: Int,
                    stepSize: Int, offset: Int = 0): String = {
    val splits = (0 until nSplits).map { i =>
      val cutoff = offset + testSize + (nSplits - 1 - i) * stepSize
      s"""${tag}_s${i}_bt AS (
            SELECT a.user_id, a.rn - (a.cnt - $cutoff) AS h, $i AS split,
                   a.value AS actual, pr.value AS pred
            FROM lagd a JOIN lagd pr
              ON a.user_id = pr.user_id
             AND pr.rn = (a.cnt - $cutoff) - $sp + ((a.rn - (a.cnt - $cutoff) - 1) % $sp) + 1
            WHERE a.rn > a.cnt - $cutoff AND a.rn <= a.cnt - $cutoff + $testSize)"""
    }
    val union = (0 until nSplits).map(i => s"SELECT * FROM ${tag}_s${i}_bt")
      .mkString(" UNION ALL ")
    (splits :+ s"bt_$tag AS ($union)").mkString(", ")
  }

  /** CTEs for one expanding-window elastic-net/lasso backtest
    * candidate: per split, cyclic-CD fit (fixed sweeps) on the
    * row-prefix moments, recursive predictions for h = 1..testSize,
    * inner-joined to actuals — the oracle of the generic
    * [[graft.operators.AutoForecast.autoModel]] backtest with a CD
    * fit per slice (the slice's lag matrix IS the prefix filter of
    * the full one). Emits `bt_<tag>` with (user_id, h, split,
    * actual, pred). */
  def backtestElasticNet(tag: String, lags: Int, testSize: Int, nSplits: Int,
                         stepSize: Int, alpha: Double, l1Ratio: Double,
                         sweeps: Int): String = {
    val xs = "1.0" +: (1 to lags).map(j => s"f$j")
    val splits = (0 until nSplits).map { i =>
      val cutoff = testSize + (nSplits - 1 - i) * stepSize
      val t = s"${tag}_s$i"
      val predCases = (1 to testSize)
        .map(h => s"WHEN $h THEN p.p$h").mkString(" ")
      s"""${t}_mom AS (SELECT ${Q.olsMomentsSql(xs, "value")}
            FROM lagd WHERE rn > $lags AND rn <= cnt - $cutoff),
          ${Q.cdSolveSql(lags, alpha, l1Ratio, sweeps, s"${t}_mom", s"${t}_cd")},
          ${tailCte(s"$t", lags, s"cnt - $cutoff")},
          ${t}_p0 AS (SELECT * FROM ${t}_tail
            CROSS JOIN ${Q.cdSolveLast(lags, sweeps, s"${t}_cd")}),
          ${predStages(s"${t}_", s"${t}_p0", testSize, lags)},
          ${t}_bt AS (
            SELECT a.user_id, a.rn - (a.cnt - $cutoff) AS h, $i AS split,
                   a.value AS actual, CASE a.rn - (a.cnt - $cutoff) $predCases END AS pred
            FROM lagd a JOIN ${t}_pred p ON a.user_id = p.user_id
            WHERE a.rn > a.cnt - $cutoff AND a.rn <= a.cnt - $cutoff + $testSize)"""
    }
    val union = (0 until nSplits).map(i => s"SELECT * FROM ${tag}_s${i}_bt")
      .mkString(" UNION ALL ")
    (splits :+ s"bt_$tag AS ($union)").mkString(", ")
  }

  /** Target-transform plumbing for the elite pipeline members
    * ([[graft.operators.ForecastPipeline]] refit per train slice):
    * everything is column algebra over the SHARED raw `lagd` plus a
    * per-(entity, split) artifact — a per-entity affine map commutes
    * with the lag windows, so no per-split lagd rebuild is needed.
    * For each transform: the artifact CTE over the row prefix, the
    * transformed feature/target expressions, the transformed tail
    * state, and the level-space invert of a horizon prediction. */
  private sealed trait XForm {
    /** artifact CTE named `art` alias columns; empty string if none */
    def artCte(t: String, prefixCond: String): Option[String]
    /** transformed lag-j feature over (lagd row ⋈ art) */
    def x(j: Int): String
    /** transformed target */
    def y: String
    /** training rows start after this many warmup rows */
    def warmup(lags: Int): Int
    /** extra carry columns on the tail (beyond t1..tlags, cutoff) */
    def tailCarry: Seq[String]
    /** transformed tail value t_j at the prefix-end row */
    def tailT(j: Int): String
    /** extra null-guard for mom/tail rows (ANDed; "TRUE" if none) */
    def guard: String
    /** horizon-h prediction p<h> (with tail carries in scope) back in
      * level space; `pos` is the 0-based arange index of that row */
    def invert(h: Int, pos: String): String
  }

  private object ScaleX extends XForm {
    def artCte(t: String, prefixCond: String) = Some(
      s"""${t}_art AS (SELECT user_id, avg(value) AS mu, stddev_samp(value) AS sd
            FROM lagd WHERE $prefixCond GROUP BY user_id)""")
    def x(j: Int) = s"((f$j - mu) / sd)"
    def y = "((value - mu) / sd)"
    def warmup(lags: Int) = lags
    def tailCarry = Seq("mu", "sd")
    def tailT(j: Int) = if (j == 1) "((value - mu) / sd)" else s"((f${j - 1} - mu) / sd)"
    // sd = 0 nulls every transformed row of the entity (Spark
    // try_divide); drop those rows like Ols.fit's na.drop does
    def guard = "sd IS NOT NULL AND sd <> 0"
    def invert(h: Int, pos: String) = s"(p$h * sd + mu)"
  }

  /** First differences (order 1, sp 1). Needs lagd built with
    * maxLag ≥ lags + 1 (d_{t−j} = f_j − f_{j+1}). */
  private object DiffX extends XForm {
    def artCte(t: String, prefixCond: String) = None
    def x(j: Int) = s"(f$j - f${j + 1})"
    def y = "(value - f1)"
    def warmup(lags: Int) = lags + 1
    def tailCarry = Seq("value AS anc")
    def tailT(j: Int) = if (j == 1) "(value - f1)" else s"(f${j - 1} - f$j)"
    def guard = "TRUE"
    // anchor + left-assoc cumulative sum — diffStep's lane cumsum
    def invert(h: Int, pos: String) =
      s"(anc + ${(1 to h).map(i => s"p$i").mkString("(", " + ", ")")})"
  }

  /** Per-entity linear detrend with the DECIMAL-exact β/α moments
    * (the p_detrend_linear fixture's formula — associative sums keep
    * both engines bit-identical; detrendLinearStep mirrors it). */
  private object DetrendX extends XForm {
    def artCte(t: String, prefixCond: String) = Some(
      s"""${t}_art AS (
            SELECT user_id, (n*sxy - sx*sy) / (n*sxx - sx*sx) AS beta,
                   sy/n - (n*sxy - sx*sy) / (n*sxx - sx*sx) * (sx/n) AS alpha
            FROM (SELECT user_id, count(*)::DOUBLE AS n,
                         CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sy,
                         CAST(sum(CAST(value AS DECIMAL(28,10))
                           * CAST((rn - 1)::DOUBLE AS DECIMAL(18,1))) AS DOUBLE) AS sxy,
                         sum((rn - 1)::DOUBLE) AS sx,
                         sum((rn - 1)::DOUBLE * (rn - 1)::DOUBLE) AS sxx
                  FROM lagd WHERE $prefixCond GROUP BY user_id))""")
    def x(j: Int) = s"(f$j - (beta * ((rn - 1 - $j)::DOUBLE) + alpha))"
    def y = "(value - (beta * ((rn - 1)::DOUBLE) + alpha))"
    def warmup(lags: Int) = lags
    def tailCarry = Seq("beta", "alpha", "(rn - 1)::DOUBLE AS tpos")
    def tailT(j: Int) =
      if (j == 1) "(value - (beta * ((rn - 1)::DOUBLE) + alpha))"
      else s"(f${j - 1} - (beta * ((rn - $j)::DOUBLE) + alpha))"
    def guard = "beta IS NOT NULL"
    // trend extrapolated to the prediction's own arange index
    def invert(h: Int, pos: String) = s"(p$h + (beta * (($pos)::DOUBLE) + alpha))"
  }

  /** Per-entity mean detrend — detrendMeanStep's oracle (the elite
    * zoo's detrend(method="mean") target transform, elite.py:139-147).
    * μ is the plain double avg ScaleX also uses; the invert adds μ
    * back, constant over any horizon. */
  private object MeanX extends XForm {
    def artCte(t: String, prefixCond: String) = Some(
      s"""${t}_art AS (SELECT user_id, avg(value) AS mu
            FROM lagd WHERE $prefixCond GROUP BY user_id)""")
    def x(j: Int) = s"(f$j - mu)"
    def y = "(value - mu)"
    def warmup(lags: Int) = lags
    def tailCarry = Seq("mu")
    def tailT(j: Int) = if (j == 1) "(value - mu)" else s"(f${j - 1} - mu)"
    def guard = "TRUE"
    def invert(h: Int, pos: String) = s"(p$h + mu)"
  }

  private def xformOf(name: String): XForm = name match {
    case "scale"        => ScaleX
    case "diff"         => DiffX
    case "detrend"      => DetrendX
    case "detrend_mean" => MeanX
    case other     => throw new IllegalArgumentException(s"unknown xform: $other")
  }

  /** cos/sin fourier regressor expressions at 0-based position `pos`
    * (seasonality/fourier.py:41-45: coef = (t mod sp)/sp), cos-then-sin
    * per ascending k — the exact column order FourierLinear's moment
    * pass uses, so the Cholesky solutions line up index-for-index. */
  private def fourierTerms(sp: Int, kTerms: Int, pos: String): Seq[String] =
    (1 to kTerms).flatMap(k => Seq(
      s"cos(2 * pi() * $k * ((($pos) % $sp)::DOUBLE / $sp))",
      s"sin(2 * pi() * $k * ((($pos) % $sp)::DOUBLE / $sp))"))

  /** predExpr for the AR+fourier member: horizon h reads lag state as
    * usual plus the fourier terms at the FUTURE position tn − 1 + h
    * (tn = train length, carried on the tail row). Strict left fold:
    * a_0, lag terms ascending, cos/sin pairs k-ascending — matching
    * the fold of graft.operators.Forecasters.unrollRecursive over
    * FourierLinear.fourierTerms (FourierLinear.fitPredict and
    * PrefixBacktest.backtestFourier). */
  private def predExprFourier(h: Int, lags: Int, sp: Int, kTerms: Int): String = {
    val lagTerms = (1 to lags).map { j =>
      val s = if (j < h) s"p${h - j}" else s"t${j - h + 1}"
      s"a_$j * $s"
    }
    val fTerms = fourierTerms(sp, kTerms, s"tn - 1 + $h").zipWithIndex.map {
      case (e, m) => s"a_${lags + 1 + m} * $e"
    }
    ("a_0" +: (lagTerms ++ fTerms)).mkString("(", " + ", s") AS p$h")
  }

  /** Tail CTE variant that also carries tn = the train length the
    * fourier prediction positions extrapolate from. */
  private def tailCteF(tag: String, lags: Int, endRn: String): String = {
    val ts = (1 to lags).map(j => if (j == 1) "value AS t1" else s"f${j - 1} AS t$j")
    val longEnough = if (lags == 1) "TRUE" else s"f${lags - 1} IS NOT NULL"
    s"""${tag}_tail AS (SELECT user_id, ts AS cutoff, ($endRn) AS tn,
          ${ts.mkString(", ")}
        FROM lagd WHERE rn = $endRn AND $longEnough)"""
  }

  /** Expanding-window backtest of the AR+fourier member — the oracle
    * of FourierLinear.fitPredict under Conformal.backtest. Emits
    * `bt_<tag>`. */
  def backtestFourierLinear(tag: String, lags: Int, sp: Int, kTerms: Int,
                            testSize: Int, nSplits: Int, stepSize: Int,
                            ridge: Double = 0.0, l1Ratio: Double = 0.0,
                            cdSweeps: Int = 8): String = {
    val xs = ("1.0" +: (1 to lags).map(j => s"f$j")) ++
      fourierTerms(sp, kTerms, "rn - 1")
    val d = xs.length
    val splits = (0 until nSplits).map { i =>
      val cutoff = testSize + (nSplits - 1 - i) * stepSize
      val t = s"${tag}_s$i"
      val predCases = (1 to testSize)
        .map(h => s"WHEN $h THEN p.p$h").mkString(" ")
      val stages = (1 to testSize).map { h =>
        val src = if (h == 1) s"${t}_p0" else s"${t}_h${h - 1}"
        s"${t}_h$h AS MATERIALIZED (SELECT *, ${predExprFourier(h, lags, sp, kTerms)} FROM $src)"
      }
      // l1Ratio > 0: lasso_fourier — centered CD instead of Cholesky,
      // `ridge` routed as the CD alpha (both emit a_0..a_{d−1})
      val (solve, solLast) =
        if (l1Ratio > 0)
          (Q.cdSolveSql(d - 1, ridge, l1Ratio, cdSweeps, s"${t}_mom", s"${t}_cd"),
            Q.cdSolveLast(d - 1, cdSweeps, s"${t}_cd"))
        else (Q.cholSolveSql(d, s"${t}_mom", s"${t}_ch"),
          Q.cholSolveLast(d, s"${t}_ch"))
      val momRidge = if (l1Ratio > 0) 0.0 else ridge
      s"""${t}_mom AS (SELECT ${Q.olsMomentsSql(xs, "value", momRidge)}
            FROM lagd WHERE rn > $lags AND rn <= cnt - $cutoff),
          $solve,
          ${tailCteF(s"$t", lags, s"cnt - $cutoff")},
          ${t}_p0 AS (SELECT * FROM ${t}_tail
            CROSS JOIN $solLast),
          ${stages.mkString(", ")},
          ${t}_bt AS (
            SELECT a.user_id, a.rn - (a.cnt - $cutoff) AS h, $i AS split,
                   a.value AS actual, CASE a.rn - (a.cnt - $cutoff) $predCases END AS pred
            FROM lagd a JOIN ${t}_h$testSize p ON a.user_id = p.user_id
            WHERE a.rn > a.cnt - $cutoff AND a.rn <= a.cnt - $cutoff + $testSize)"""
    }
    val union = (0 until nSplits).map(i => s"SELECT * FROM ${tag}_s${i}_bt")
      .mkString(" UNION ALL ")
    (splits :+ s"bt_$tag AS ($union)").mkString(", ")
  }

  /** Full-data AR+fourier fit + fh-step prediction. Emits `fp_<tag>`
    * with (user_id, cutoff, p1..p<fh>). */
  def fullFourierLinear(tag: String, lags: Int, sp: Int, kTerms: Int,
                        fh: Int, ridge: Double = 0.0, l1Ratio: Double = 0.0,
                        cdSweeps: Int = 8): String = {
    val xs = ("1.0" +: (1 to lags).map(j => s"f$j")) ++
      fourierTerms(sp, kTerms, "rn - 1")
    val d = xs.length
    val stages = (1 to fh).map { h =>
      val src = if (h == 1) s"${tag}_p0" else s"${tag}_h${h - 1}"
      s"${tag}_h$h AS MATERIALIZED (SELECT *, ${predExprFourier(h, lags, sp, kTerms)} FROM $src)"
    }
    val (solve, solLast) =
      if (l1Ratio > 0)
        (Q.cdSolveSql(d - 1, ridge, l1Ratio, cdSweeps, s"${tag}_mom", s"${tag}_cd"),
          Q.cdSolveLast(d - 1, cdSweeps, s"${tag}_cd"))
      else (Q.cholSolveSql(d, s"${tag}_mom", s"${tag}_ch"),
        Q.cholSolveLast(d, s"${tag}_ch"))
    val momRidge = if (l1Ratio > 0) 0.0 else ridge
    s"""${tag}_mom AS (SELECT ${Q.olsMomentsSql(xs, "value", momRidge)}
          FROM lagd WHERE rn > $lags),
        $solve,
        ${tailCteF(tag, lags, "cnt")},
        ${tag}_p0 AS (SELECT * FROM ${tag}_tail
          CROSS JOIN $solLast),
        ${stages.mkString(", ")},
        fp_$tag AS (SELECT * FROM ${tag}_h$fh)"""
  }

  /** No-intercept elastic-net backtest (elite.py:95 lasso_no_drift):
    * CD on the raw feature Gram (no centering), coefficients named for
    * drift=false predStages. Emits `bt_<tag>`. */
  def backtestElasticNetNoDrift(tag: String, lags: Int, testSize: Int,
                                nSplits: Int, stepSize: Int, alpha: Double,
                                l1Ratio: Double, sweeps: Int): String = {
    val xs = (1 to lags).map(j => s"f$j")
    val splits = (0 until nSplits).map { i =>
      val cutoff = testSize + (nSplits - 1 - i) * stepSize
      val t = s"${tag}_s$i"
      val predCases = (1 to testSize)
        .map(h => s"WHEN $h THEN p.p$h").mkString(" ")
      s"""${t}_mom AS (SELECT ${Q.olsMomentsSql(xs, "value")}, count(*)::DOUBLE AS nn
            FROM lagd WHERE rn > $lags AND rn <= cnt - $cutoff),
          ${Q.cdSolveNoDriftSql(lags, alpha, l1Ratio, sweeps, s"${t}_mom", s"${t}_cn")},
          ${tailCte(s"$t", lags, s"cnt - $cutoff")},
          ${t}_p0 AS (SELECT * FROM ${t}_tail
            CROSS JOIN ${Q.cdSolveNoDriftLast(lags, sweeps, s"${t}_cn")}),
          ${predStages(s"${t}_", s"${t}_p0", testSize, lags, drift = false)},
          ${t}_bt AS (
            SELECT a.user_id, a.rn - (a.cnt - $cutoff) AS h, $i AS split,
                   a.value AS actual, CASE a.rn - (a.cnt - $cutoff) $predCases END AS pred
            FROM lagd a JOIN ${t}_pred p ON a.user_id = p.user_id
            WHERE a.rn > a.cnt - $cutoff AND a.rn <= a.cnt - $cutoff + $testSize)"""
    }
    val union = (0 until nSplits).map(i => s"SELECT * FROM ${tag}_s${i}_bt")
      .mkString(" UNION ALL ")
    (splits :+ s"bt_$tag AS ($union)").mkString(", ")
  }

  /** Full-data no-intercept CD fit + fh-step prediction. Emits
    * `fp_<tag>`. */
  def fullElasticNetNoDrift(tag: String, lags: Int, fh: Int, alpha: Double,
                            l1Ratio: Double, sweeps: Int): String = {
    val xs = (1 to lags).map(j => s"f$j")
    s"""${tag}_mom AS (SELECT ${Q.olsMomentsSql(xs, "value")}, count(*)::DOUBLE AS nn
          FROM lagd WHERE rn > $lags),
        ${Q.cdSolveNoDriftSql(lags, alpha, l1Ratio, sweeps, s"${tag}_mom", s"${tag}_cn")},
        ${tailCte(tag, lags, "cnt")},
        ${tag}_p0 AS (SELECT * FROM ${tag}_tail
          CROSS JOIN ${Q.cdSolveNoDriftLast(lags, sweeps, s"${tag}_cn")}),
        ${predStages(s"${tag}_", s"${tag}_p0", fh, lags, drift = false)},
        fp_$tag AS (SELECT * FROM ${tag}_pred)"""
  }

  /** Expanding-window backtest of a target-transformed AR+fourier
    * member (elite.py:115-137's *_scaled_fourier and :148-164's
    * *_detrend_linear_fourier analogs): the transform artifact is
    * refit per split, the regression runs in transformed space over
    * lag + fourier regressors, and predictions invert to levels.
    * Emits `bt_<tag>`. */
  def backtestXformFourier(tag: String, lags: Int, sp: Int, kTerms: Int,
                           testSize: Int, nSplits: Int, stepSize: Int,
                           xformName: String, ridge: Double = 0.0,
                           l1Ratio: Double = 0.0, cdSweeps: Int = 8): String = {
    val xf = xformOf(xformName)
    val xs = ("1.0" +: (1 to lags).map(xf.x)) ++ fourierTerms(sp, kTerms, "rn - 1")
    val d = xs.length
    val splits = (0 until nSplits).map { i =>
      val cutoff = testSize + (nSplits - 1 - i) * stepSize
      val t = s"${tag}_s$i"
      val artJoin = xf.artCte(t, s"rn <= cnt - $cutoff")
        .map(_ => s" JOIN ${t}_art USING (user_id)").getOrElse("")
      val ts = (1 to lags).map(j => s"${xf.tailT(j)} AS t$j")
      val longEnough = if (lags == 1) "TRUE" else s"f${lags - 1} IS NOT NULL"
      val diffGuard = if (xf == DiffX) s" AND f$lags IS NOT NULL" else ""
      val predCases = (1 to testSize)
        .map(h => s"WHEN $h THEN ${xf.invert(h, "a.rn - 1")}").mkString(" ")
      val stages = (1 to testSize).map { h =>
        val src = if (h == 1) s"${t}_p0" else s"${t}_h${h - 1}"
        s"${t}_h$h AS MATERIALIZED (SELECT *, ${predExprFourier(h, lags, sp, kTerms)} FROM $src)"
      }
      val (solve, solLast) =
        if (l1Ratio > 0)
          (Q.cdSolveSql(d - 1, ridge, l1Ratio, cdSweeps, s"${t}_mom", s"${t}_cd"),
            Q.cdSolveLast(d - 1, cdSweeps, s"${t}_cd"))
        else (Q.cholSolveSql(d, s"${t}_mom", s"${t}_ch"),
          Q.cholSolveLast(d, s"${t}_ch"))
      val momRidge = if (l1Ratio > 0) 0.0 else ridge
      s"""${xf.artCte(t, s"rn <= cnt - $cutoff").map(_ + ",").getOrElse("")}
          ${t}_mom AS (SELECT ${Q.olsMomentsSql(xs, xf.y, momRidge)}
            FROM lagd$artJoin
            WHERE rn > ${xf.warmup(lags)} AND rn <= cnt - $cutoff AND ${xf.guard}),
          $solve,
          ${t}_tail AS (SELECT user_id, ts AS cutoff, (cnt - $cutoff) AS tn,
              ${(xf.tailCarry ++ ts).mkString(", ")}
            FROM lagd$artJoin
            WHERE rn = cnt - $cutoff AND $longEnough$diffGuard AND ${xf.guard}),
          ${t}_p0 AS (SELECT * FROM ${t}_tail
            CROSS JOIN $solLast),
          ${stages.mkString(", ")},
          ${t}_bt AS (
            SELECT a.user_id, a.rn - (a.cnt - $cutoff) AS h, $i AS split,
                   a.value AS actual,
                   CASE a.rn - (a.cnt - $cutoff) $predCases END AS pred
            FROM lagd a JOIN ${t}_h$testSize p ON a.user_id = p.user_id
            WHERE a.rn > a.cnt - $cutoff AND a.rn <= a.cnt - $cutoff + $testSize)"""
    }
    val union = (0 until nSplits).map(i => s"SELECT * FROM ${tag}_s${i}_bt")
      .mkString(" UNION ALL ")
    (splits :+ s"bt_$tag AS ($union)").mkString(", ")
  }

  /** Full-data transformed AR+fourier fit + fh-step prediction in
    * level space. Emits `fp_<tag>` (user_id, cutoff, p1..p<fh>). */
  def fullXformFourier(tag: String, lags: Int, sp: Int, kTerms: Int, fh: Int,
                       xformName: String, ridge: Double = 0.0,
                       l1Ratio: Double = 0.0, cdSweeps: Int = 8): String = {
    val xf = xformOf(xformName)
    val xs = ("1.0" +: (1 to lags).map(xf.x)) ++ fourierTerms(sp, kTerms, "rn - 1")
    val d = xs.length
    val artJoin = xf.artCte(tag, "TRUE")
      .map(_ => s" JOIN ${tag}_art USING (user_id)").getOrElse("")
    val ts = (1 to lags).map(j => s"${xf.tailT(j)} AS t$j")
    val longEnough = if (lags == 1) "TRUE" else s"f${lags - 1} IS NOT NULL"
    val diffGuard = if (xf == DiffX) s" AND f$lags IS NOT NULL" else ""
    val lvls = (1 to fh).map(h => s"${xf.invert(h, s"tpos + $h")} AS p$h")
    val tailCarry =
      if (xf == DetrendX) xf.tailCarry
      else xf.tailCarry :+ "(rn - 1)::DOUBLE AS tpos"
    val stages = (1 to fh).map { h =>
      val src = if (h == 1) s"${tag}_p0" else s"${tag}_h${h - 1}"
      s"${tag}_h$h AS MATERIALIZED (SELECT *, ${predExprFourier(h, lags, sp, kTerms)} FROM $src)"
    }
    val (solve, solLast) =
      if (l1Ratio > 0)
        (Q.cdSolveSql(d - 1, ridge, l1Ratio, cdSweeps, s"${tag}_mom", s"${tag}_cd"),
          Q.cdSolveLast(d - 1, cdSweeps, s"${tag}_cd"))
      else (Q.cholSolveSql(d, s"${tag}_mom", s"${tag}_ch"),
        Q.cholSolveLast(d, s"${tag}_ch"))
    val momRidge = if (l1Ratio > 0) 0.0 else ridge
    s"""${xf.artCte(tag, "TRUE").map(_ + ",").getOrElse("")}
        ${tag}_mom AS (SELECT ${Q.olsMomentsSql(xs, xf.y, momRidge)}
          FROM lagd$artJoin
          WHERE rn > ${xf.warmup(lags)} AND ${xf.guard}),
        $solve,
        ${tag}_tail AS (SELECT user_id, ts AS cutoff, cnt AS tn,
            ${(tailCarry ++ ts).mkString(", ")}
          FROM lagd$artJoin
          WHERE rn = cnt AND $longEnough$diffGuard AND ${xf.guard}),
        ${tag}_p0 AS (SELECT * FROM ${tag}_tail
          CROSS JOIN $solLast),
        ${stages.mkString(", ")},
        fp_$tag AS (SELECT user_id, cutoff, ${lvls.mkString(", ")}
          FROM ${tag}_h$fh)"""
  }

  /** Expanding-window backtest of a target-transformed linear member
    * (transform refit per split on the row prefix). Emits `bt_<tag>`
    * with (user_id, h, split, actual, pred) — pred in LEVEL space. */
  def backtestXformLinear(tag: String, lags: Int, testSize: Int, nSplits: Int,
                          stepSize: Int, xformName: String,
                          ridge: Double = 0.0): String = {
    val xf = xformOf(xformName)
    val xs = "1.0" +: (1 to lags).map(xf.x)
    val splits = (0 until nSplits).map { i =>
      val cutoff = testSize + (nSplits - 1 - i) * stepSize
      val t = s"${tag}_s$i"
      val artJoin = xf.artCte(t, s"rn <= cnt - $cutoff")
        .map(_ => s" JOIN ${t}_art USING (user_id)").getOrElse("")
      val ts = (1 to lags).map(j => s"${xf.tailT(j)} AS t$j")
      val longEnough = if (lags == 1) "TRUE" else s"f${lags - 1} IS NOT NULL"
      val diffGuard = if (xf == DiffX) s" AND f$lags IS NOT NULL" else ""
      // h = rn − trainEnd, so the row's 0-based arange index is rn − 1
      val predCases = (1 to testSize)
        .map(h => s"WHEN $h THEN ${xf.invert(h, "a.rn - 1")}").mkString(" ")
      s"""${xf.artCte(t, s"rn <= cnt - $cutoff").map(_ + ",").getOrElse("")}
          ${t}_mom AS (SELECT ${Q.olsMomentsSql(xs, xf.y, ridge)}
            FROM lagd$artJoin
            WHERE rn > ${xf.warmup(lags)} AND rn <= cnt - $cutoff AND ${xf.guard}),
          ${Q.cholSolveSql(lags + 1, s"${t}_mom", s"${t}_ch")},
          ${t}_tail AS (SELECT user_id, ts AS cutoff,
              ${(xf.tailCarry ++ ts).mkString(", ")}
            FROM lagd$artJoin
            WHERE rn = cnt - $cutoff AND $longEnough$diffGuard AND ${xf.guard}),
          ${t}_p0 AS (SELECT * FROM ${t}_tail
            CROSS JOIN ${Q.cholSolveLast(lags + 1, s"${t}_ch")}),
          ${predStages(s"${t}_", s"${t}_p0", testSize, lags)},
          ${t}_bt AS (
            SELECT a.user_id, a.rn - (a.cnt - $cutoff) AS h, $i AS split,
                   a.value AS actual,
                   CASE a.rn - (a.cnt - $cutoff) $predCases END AS pred
            FROM lagd a JOIN ${t}_pred p ON a.user_id = p.user_id
            WHERE a.rn > a.cnt - $cutoff AND a.rn <= a.cnt - $cutoff + $testSize)"""
    }
    val union = (0 until nSplits).map(i => s"SELECT * FROM ${tag}_s${i}_bt")
      .mkString(" UNION ALL ")
    (splits :+ s"bt_$tag AS ($union)").mkString(", ")
  }

  /** Expanding-window backtest of a target-transformed LASSO /
    * elastic-net member — [[backtestXformLinear]] with the closed-form
    * Cholesky replaced by the fixed-sweep cyclic-CD solve
    * (Ols.cdFromMoments's oracle), same transform artifacts and
    * invert. Emits `bt_<tag>`. */
  def backtestXformElasticNet(tag: String, lags: Int, testSize: Int,
                              nSplits: Int, stepSize: Int, xformName: String,
                              alpha: Double, l1Ratio: Double,
                              sweeps: Int): String = {
    val xf = xformOf(xformName)
    val xs = "1.0" +: (1 to lags).map(xf.x)
    val splits = (0 until nSplits).map { i =>
      val cutoff = testSize + (nSplits - 1 - i) * stepSize
      val t = s"${tag}_s$i"
      val artJoin = xf.artCte(t, s"rn <= cnt - $cutoff")
        .map(_ => s" JOIN ${t}_art USING (user_id)").getOrElse("")
      val ts = (1 to lags).map(j => s"${xf.tailT(j)} AS t$j")
      val longEnough = if (lags == 1) "TRUE" else s"f${lags - 1} IS NOT NULL"
      val diffGuard = if (xf == DiffX) s" AND f$lags IS NOT NULL" else ""
      val predCases = (1 to testSize)
        .map(h => s"WHEN $h THEN ${xf.invert(h, "a.rn - 1")}").mkString(" ")
      s"""${xf.artCte(t, s"rn <= cnt - $cutoff").map(_ + ",").getOrElse("")}
          ${t}_mom AS (SELECT ${Q.olsMomentsSql(xs, xf.y)}
            FROM lagd$artJoin
            WHERE rn > ${xf.warmup(lags)} AND rn <= cnt - $cutoff AND ${xf.guard}),
          ${Q.cdSolveSql(lags, alpha, l1Ratio, sweeps, s"${t}_mom", s"${t}_cd")},
          ${t}_tail AS (SELECT user_id, ts AS cutoff,
              ${(xf.tailCarry ++ ts).mkString(", ")}
            FROM lagd$artJoin
            WHERE rn = cnt - $cutoff AND $longEnough$diffGuard AND ${xf.guard}),
          ${t}_p0 AS (SELECT * FROM ${t}_tail
            CROSS JOIN (SELECT ${(0 to lags).map(j => s"a_$j").mkString(", ")}
              FROM ${Q.cdSolveLast(lags, sweeps, s"${t}_cd")})),
          ${predStages(s"${t}_", s"${t}_p0", testSize, lags)},
          ${t}_bt AS (
            SELECT a.user_id, a.rn - (a.cnt - $cutoff) AS h, $i AS split,
                   a.value AS actual,
                   CASE a.rn - (a.cnt - $cutoff) $predCases END AS pred
            FROM lagd a JOIN ${t}_pred p ON a.user_id = p.user_id
            WHERE a.rn > a.cnt - $cutoff AND a.rn <= a.cnt - $cutoff + $testSize)"""
    }
    val union = (0 until nSplits).map(i => s"SELECT * FROM ${tag}_s${i}_bt")
      .mkString(" UNION ALL ")
    (splits :+ s"bt_$tag AS ($union)").mkString(", ")
  }

  /** Full-data transformed CD fit + fh-step prediction in level space.
    * Emits `fp_<tag>` (user_id, cutoff, p1..p<fh>). */
  def fullXformElasticNet(tag: String, lags: Int, fh: Int, xformName: String,
                          alpha: Double, l1Ratio: Double,
                          sweeps: Int): String = {
    val xf = xformOf(xformName)
    val xs = "1.0" +: (1 to lags).map(xf.x)
    val artJoin = xf.artCte(tag, "TRUE")
      .map(_ => s" JOIN ${tag}_art USING (user_id)").getOrElse("")
    val ts = (1 to lags).map(j => s"${xf.tailT(j)} AS t$j")
    val longEnough = if (lags == 1) "TRUE" else s"f${lags - 1} IS NOT NULL"
    val diffGuard = if (xf == DiffX) s" AND f$lags IS NOT NULL" else ""
    val lvls = (1 to fh).map(h => s"${xf.invert(h, s"tpos + $h")} AS p$h")
    val tailCarry =
      if (xf == DetrendX) xf.tailCarry
      else xf.tailCarry :+ "(rn - 1)::DOUBLE AS tpos"
    s"""${xf.artCte(tag, "TRUE").map(_ + ",").getOrElse("")}
        ${tag}_mom AS (SELECT ${Q.olsMomentsSql(xs, xf.y)}
          FROM lagd$artJoin
          WHERE rn > ${xf.warmup(lags)} AND ${xf.guard}),
        ${Q.cdSolveSql(lags, alpha, l1Ratio, sweeps, s"${tag}_mom", s"${tag}_cd")},
        ${tag}_tail AS (SELECT user_id, ts AS cutoff,
            ${(tailCarry ++ ts).mkString(", ")}
          FROM lagd$artJoin
          WHERE rn = cnt AND $longEnough$diffGuard AND ${xf.guard}),
        ${tag}_p0 AS (SELECT * FROM ${tag}_tail
          CROSS JOIN (SELECT ${(0 to lags).map(j => s"a_$j").mkString(", ")}
            FROM ${Q.cdSolveLast(lags, sweeps, s"${tag}_cd")})),
        ${predStages(s"${tag}_", s"${tag}_p0", fh, lags)},
        fp_$tag AS (SELECT user_id, cutoff, ${lvls.mkString(", ")}
          FROM ${tag}_pred)"""
  }

  /** Full-data transformed fit + fh-step recursive prediction, emitted
    * ALREADY inverted to level space: `fp_<tag>` (user_id, cutoff,
    * p1..p<fh>) — drop-in for the composite queries' linPred. */
  def fullXformLinear(tag: String, lags: Int, fh: Int, xformName: String,
                      ridge: Double = 0.0): String = {
    val xf = xformOf(xformName)
    val xs = "1.0" +: (1 to lags).map(xf.x)
    val artJoin = xf.artCte(tag, "TRUE")
      .map(_ => s" JOIN ${tag}_art USING (user_id)").getOrElse("")
    val ts = (1 to lags).map(j => s"${xf.tailT(j)} AS t$j")
    val longEnough = if (lags == 1) "TRUE" else s"f${lags - 1} IS NOT NULL"
    val diffGuard = if (xf == DiffX) s" AND f$lags IS NOT NULL" else ""
    // prediction h sits at 0-based arange index n − 1 + h (n = cnt,
    // carried on the tail row as tpos = n − 1)
    val lvls = (1 to fh).map(h => s"${xf.invert(h, s"tpos + $h")} AS p$h")
    val tailCarry =
      if (xf == DetrendX) xf.tailCarry
      else xf.tailCarry :+ "(rn - 1)::DOUBLE AS tpos"
    s"""${xf.artCte(tag, "TRUE").map(_ + ",").getOrElse("")}
        ${tag}_mom AS (SELECT ${Q.olsMomentsSql(xs, xf.y, ridge)}
          FROM lagd$artJoin
          WHERE rn > ${xf.warmup(lags)} AND ${xf.guard}),
        ${Q.cholSolveSql(lags + 1, s"${tag}_mom", s"${tag}_ch")},
        ${tag}_tail AS (SELECT user_id, ts AS cutoff,
            ${(tailCarry ++ ts).mkString(", ")}
          FROM lagd$artJoin
          WHERE rn = cnt AND $longEnough$diffGuard AND ${xf.guard}),
        ${tag}_p0 AS (SELECT * FROM ${tag}_tail
          CROSS JOIN ${Q.cholSolveLast(lags + 1, s"${tag}_ch")}),
        ${predStages(s"${tag}_", s"${tag}_p0", fh, lags)},
        fp_$tag AS (SELECT user_id, cutoff, ${lvls.mkString(", ")}
          FROM ${tag}_pred)"""
  }

  /** CTE chain replicating [[graft.operators.KnnForecaster
    * .predictRecursive]]: horizon h's query vector is (ŷ_{h−1}
    * prepended to the shifted state), each step a CROSS JOIN distance
    * rank + top-k mean — the oracle of the reference's recursive knn.
    * `endRn`/`trainCond` parameterize the row prefix so the same
    * chain serves full fits (`cnt`/TRUE) and backtest splits.
    * `scaled` wraps the member in the per-entity z-score target
    * transform (art over the prefix, recursion in scaled space,
    * level-space invert at the emitters). Emits `fp_<tag>` with
    * (user_id, cutoff, p1..p<horizons>) in LEVEL space. */
  def knnRecursiveCtes(tag: String, lags: Int, k: Int, horizons: Int,
                       endRn: String, trainCond: String,
                       xform: String = "none"): String = {
    require(Set("none", "scale", "detrend")(xform),
      s"knnRecursiveCtes xform must be none/scale/detrend (got $xform)")
    // per-entity transform artifact: z-score (mu, sd) or the
    // DECIMAL-exact linear-trend (beta, alpha) — the same estimators
    // ScaleX / DetrendX use, refit on the train prefix
    val art = xform match {
      case "scale" => Some(
        s"""${tag}_art AS (SELECT user_id, avg(value) AS mu, stddev_samp(value) AS sd
              FROM lagd WHERE $trainCond GROUP BY user_id)""")
      case "detrend" => Some(
        s"""${tag}_art AS (
              SELECT user_id, (n*sxy - sx*sy) / (n*sxx - sx*sx) AS beta,
                     sy/n - (n*sxy - sx*sy) / (n*sxx - sx*sx) * (sx/n) AS alpha
              FROM (SELECT user_id, count(*)::DOUBLE AS n,
                           CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sy,
                           CAST(sum(CAST(value AS DECIMAL(28,10))
                             * CAST((rn - 1)::DOUBLE AS DECIMAL(18,1))) AS DOUBLE) AS sxy,
                           sum((rn - 1)::DOUBLE) AS sx,
                           sum((rn - 1)::DOUBLE * (rn - 1)::DOUBLE) AS sxx
                    FROM lagd WHERE $trainCond GROUP BY user_id))""")
      case _ => None
    }
    val artJoin = if (art.isDefined) s" JOIN ${tag}_art USING (user_id)" else ""
    val guard = xform match {
      case "scale"   => " AND sd IS NOT NULL AND sd <> 0"
      case "detrend" => " AND beta IS NOT NULL"
      case _         => ""
    }
    // value at row rn sits at 0-based trend position rn−1; lag j at rn−1−j
    def tf(e: String, pos: String) = xform match {
      case "scale"   => s"(($e - mu) / sd)"
      case "detrend" => s"($e - (beta * (($pos)::DOUBLE) + alpha))"
      case _         => e
    }
    val trCols = (1 to lags).map(j => s"${tf(s"f$j", s"rn - 1 - $j")} AS f$j")
    // train keeps user_id only when transformed (each row's transform
    // is its OWN entity's): the scan is still global — every query
    // scans every training row, as in the Spark heap pass
    val tr =
      s"""${tag}_tr AS MATERIALIZED (SELECT ${tf("value", "rn - 1")} AS label,
            ${trCols.mkString(", ")}
          FROM lagd$artJoin WHERE $trainCond AND f$lags IS NOT NULL$guard)"""
    val qCols = (1 to lags).map(j =>
      if (j == 1) s"${tf("value", "rn - 1")} AS q1"
      else s"${tf(s"f${j - 1}", s"rn - $j")} AS q$j")
    val carryArt = xform match {
      case "scale"   => ", mu, sd"
      case "detrend" => ", beta, alpha, (rn - 1)::DOUBLE AS tpos"
      case _         => ""
    }
    val q0 =
      s"""${tag}_q0 AS (SELECT user_id, ts AS cutoff$carryArt,
            ${qCols.mkString(", ")}
          FROM lagd$artJoin
          WHERE rn = $endRn AND f${lags - 1} IS NOT NULL$guard)"""
    val dist = (1 to lags)
      .map(j => s"(t.f$j - q.q$j) * (t.f$j - q.q$j)").mkString("(", " + ", ")")
    val steps = (1 to horizons).flatMap { h =>
      val shift = (1 to lags).map(j =>
        if (j == 1) "p.p AS q1" else s"q.q${j - 1} AS q$j")
      val carryPr = (1 until h).map(j => s"q.pr$j") :+ s"p.p AS pr$h"
      val carryArtQ = xform match {
        case "scale"   => ", q.mu, q.sd"
        case "detrend" => ", q.beta, q.alpha, q.tpos"
        case _         => ""
      }
      Seq(
        s"""${tag}_d$h AS MATERIALIZED (
              SELECT q.user_id, t.label, $dist AS d
              FROM ${tag}_q${h - 1} q CROSS JOIN ${tag}_tr t)""",
        s"""${tag}_p$h AS (SELECT user_id, avg(label) AS p FROM (
              SELECT user_id, label,
                     row_number() OVER (PARTITION BY user_id ORDER BY d) AS nn
              FROM ${tag}_d$h) WHERE nn <= $k GROUP BY user_id)""",
        s"""${tag}_q$h AS (SELECT q.user_id, q.cutoff$carryArtQ,
              ${shift.mkString(", ")}, ${carryPr.mkString(", ")}
            FROM ${tag}_q${h - 1} q JOIN ${tag}_p$h p USING (user_id))""")
    }
    // prediction h (in transformed space) back to levels: z-score
    // invert, or trend extrapolated to the arange index tpos + h
    def lvl(h: Int) = xform match {
      case "scale"   => s"(pr$h * sd + mu)"
      case "detrend" => s"(pr$h + (beta * ((tpos + $h)::DOUBLE) + alpha))"
      case _         => s"pr$h"
    }
    val fp =
      s"""fp_$tag AS (SELECT user_id, cutoff,
            ${(1 to horizons).map(h => s"${lvl(h)} AS p$h").mkString(", ")}
          FROM ${tag}_q$horizons)"""
    (art.toSeq ++ Seq(tr, q0) ++ steps :+ fp).mkString(", ")
  }

  /** Expanding-window backtest of the recursive-KNN member (knn refit
    * per train slice — the reduction and query tails are prefix
    * filters, so everything reads the shared lagd). Emits `bt_<tag>`
    * with (user_id, h, split, actual, pred). */
  def backtestKnnRecursive(tag: String, lags: Int, k: Int, testSize: Int,
                           nSplits: Int, stepSize: Int,
                           xform: String = "none"): String = {
    val splits = (0 until nSplits).map { i =>
      val cutoff = testSize + (nSplits - 1 - i) * stepSize
      val t = s"${tag}_s$i"
      val predCases = (1 to testSize)
        .map(h => s"WHEN $h THEN p.p$h").mkString(" ")
      s"""${knnRecursiveCtes(t, lags, k, testSize, s"cnt - $cutoff",
        s"rn <= cnt - $cutoff", xform)},
          ${t}_bt AS (
            SELECT a.user_id, a.rn - (a.cnt - $cutoff) AS h, $i AS split,
                   a.value AS actual, CASE a.rn - (a.cnt - $cutoff) $predCases END AS pred
            FROM lagd a JOIN fp_$t p ON a.user_id = p.user_id
            WHERE a.rn > a.cnt - $cutoff AND a.rn <= a.cnt - $cutoff + $testSize)"""
    }
    val union = (0 until nSplits).map(i => s"SELECT * FROM ${tag}_s${i}_bt")
      .mkString(" UNION ALL ")
    (splits :+ s"bt_$tag AS ($union)").mkString(", ")
  }

  /** Mean per-entity SMAPE CTE over `bt_<btTag>` — the candidate score
    * of every auto sweep oracle (AutoForecast.backtestScore ∘ avg).
    * Emits `s_<scoreTag>` with the single column `s`. */
  def meanSmapeCte(scoreTag: String, btTag: String): String =
    s"""s_$scoreTag AS (SELECT avg(smape) AS s FROM (
          SELECT user_id, sum(abs(pred - actual)) / sum(pred + actual) AS smape
          FROM bt_$btTag GROUP BY user_id))"""

  /** MATERIALIZED variant of [[meanSmapeCte]] for score CTEs the CFO
    * walk references from several CASE branches — DuckDB inlines plain
    * CTEs per consumer, which would re-execute the whole backtest
    * chain behind each scalar subquery. */
  def meanSmapeCteMat(scoreTag: String, btTag: String): String =
    s"""s_$scoreTag AS MATERIALIZED (SELECT avg(smape) AS s FROM (
          SELECT user_id, sum(abs(pred - actual)) / sum(pred + actual) AS smape
          FROM bt_$btTag GROUP BY user_id))"""

  /** The CFO local-search walk as CTEs ([[graft.operators.AutoForecast
    * .cfoWalk]]'s SQL replica): `${w}0` holds the low-cost start
    * (config index 0); step t's CTE maps every possible incumbent
    * index to its seeded proposal via a CASE, moving iff the
    * proposal's score is strictly lower, with NULL/NaN inert in both
    * directions (a NULL/NaN comparison falls through to the ELSE —
    * exactly the Scala walk's `!a.isNaN && !b.isNaN && a < b`).
    * `trans` comes from `AutoForecast.cfoReachable` (the SAME Scala
    * machinery that runs the search); `cs(i)` names config i's
    * MATERIALIZED one-row score CTE. The final incumbent is
    * `${w}${trans.length}.inc`. */
  def cfoWalkCtes(w: String, trans: Seq[Map[Int, Int]], cs: Int => String): String = {
    val steps = trans.zipWithIndex.map { case (m, t0) =>
      val t = t0 + 1
      val branches = m.toSeq.sortBy(_._1).map { case (i, pi) =>
        if (pi == i) s"WHEN $i THEN $i"
        else
          s"""WHEN $i THEN (CASE WHEN (SELECT s FROM ${cs(pi)}) < (SELECT s FROM ${cs(i)})
                AND NOT isnan((SELECT s FROM ${cs(pi)}))
                AND NOT isnan((SELECT s FROM ${cs(i)})) THEN $pi ELSE $i END)"""
      }.mkString(" ")
      s"${w}$t AS (SELECT CASE inc $branches END AS inc FROM ${w}${t - 1})"
    }
    // build the CTE list as (w0 +: steps) so the degenerate
    // zero-transition walk (single evaluation) is still valid SQL —
    // the old "w0, ${steps.mkString}" template left a dangling comma
    // when trans was empty (ADVICE r13)
    (s"${w}0 AS (SELECT 0 AS inc)" +: steps).mkString(", ")
  }

  /** The shared tail of every two-candidate auto-sweep oracle: argmin
    * pick over the two `s_*` score CTEs (first-wins ties, hence <=),
    * FULL OUTER JOIN of the two full-data fh=3 prediction frames, and
    * the chosen-candidate projection. `candA`/`candB` are the emitted
    * `chosen_lags` values; `fullA`/`fullB` name the `fp_*` frames. */
  def autoPick2Sql(scoreA: String, scoreB: String, fullA: String, fullB: String,
                   candA: Int, candB: Int): String =
    s"""pick AS (SELECT CASE WHEN s_$scoreA.s <= s_$scoreB.s THEN $candA ELSE $candB END AS chosen
                 FROM s_$scoreA CROSS JOIN s_$scoreB),
        pr AS (SELECT coalesce(a.user_id, b.user_id) AS user_id,
                      coalesce(a.cutoff, b.cutoff) AS cutoff,
                      a.p1 AS a1, a.p2 AS a2, a.p3 AS a3,
                      b.p1 AS b1, b.p2 AS b2, b.p3 AS b3
               FROM fp_$fullA a FULL OUTER JOIN fp_$fullB b ON a.user_id = b.user_id)
        SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
               round(CASE WHEN chosen = $candA
                          THEN (CASE h WHEN 1 THEN a1 WHEN 2 THEN a2 ELSE a3 END)
                          ELSE (CASE h WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END) END, 6) AS value,
               chosen::BIGINT AS chosen_lags
        FROM pr CROSS JOIN pick CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)
        WHERE (chosen = $candA AND a1 IS NOT NULL) OR (chosen = $candB AND b1 IS NOT NULL)"""

  /** Per-entity SMAPE of a backtest frame: Σ|p−a| / Σ(p+a) (NULL on a
    * zero denominator in BOTH engines — Spark try_divide, DuckDB
    * double/0). Emits `sc_<tag>` with (user_id, smape). */
  def entityScore(tag: String): String =
    s"""sc_$tag AS (SELECT user_id,
          sum(abs(pred - actual)) / sum(pred + actual) AS smape
        FROM bt_$tag GROUP BY user_id)"""

  /** Full-data fit + fh-step recursive prediction for one lag count.
    * Emits `fp_<tag>` with (user_id, cutoff, p1..p<fh>). `warmup`
    * widens the training filter for lagd sources whose value column
    * has leading nulls (e.g. a differenced series: warmup = order·sp
    * extra rows are incomplete and Ols.fit's na.drop excludes them). */
  def fullLinear(tag: String, lags: Int, fh: Int, ridge: Double = 0.0,
                 warmup: Int = 0, drift: Boolean = true,
                 weight: String = ""): String = {
    val xs = if (drift) "1.0" +: (1 to lags).map(j => s"f$j")
             else (1 to lags).map(j => s"f$j")
    val d = xs.length
    val pfrom = if (drift) 1 else 0
    s"""${tag}_mom AS (SELECT ${Q.olsMomentsSql(xs, "value", ridge, pfrom, weight)}
          FROM lagd WHERE rn > ${lags + warmup}),
        ${Q.cholSolveSql(d, s"${tag}_mom", s"${tag}_ch")},
        ${tailCte(tag, lags, "cnt")},
        ${tag}_p0 AS (SELECT * FROM ${tag}_tail
          CROSS JOIN ${Q.cholSolveLast(d, s"${tag}_ch")}),
        ${predStages(s"${tag}_", s"${tag}_p0", fh, lags, drift)},
        fp_$tag AS (SELECT * FROM ${tag}_pred)"""
  }

  /** Full-data elastic-net/lasso CD fit + fh-step recursive
    * prediction ([[graft.functions.Ols.elasticNetCD]]'s oracle).
    * Emits `fp_<tag>` with (user_id, cutoff, p1..p<fh>). */
  def fullElasticNet(tag: String, lags: Int, fh: Int, alpha: Double,
                     l1Ratio: Double, sweeps: Int): String = {
    val xs = "1.0" +: (1 to lags).map(j => s"f$j")
    s"""${tag}_mom AS (SELECT ${Q.olsMomentsSql(xs, "value")}
          FROM lagd WHERE rn > $lags),
        ${Q.cdSolveSql(lags, alpha, l1Ratio, sweeps, s"${tag}_mom", s"${tag}_cd")},
        ${tailCte(tag, lags, "cnt")},
        ${tag}_p0 AS (SELECT * FROM ${tag}_tail
          CROSS JOIN ${Q.cdSolveLast(lags, sweeps, s"${tag}_cd")}),
        ${predStages(s"${tag}_", s"${tag}_p0", fh, lags)},
        fp_$tag AS (SELECT * FROM ${tag}_pred)"""
  }

  /** Full-data DIRECT multi-horizon fit (_ar.py:53-73 oracle,
    * mirroring [[graft.operators.LinearForecaster.fitDirect]]): one
    * pooled OLS per horizon h over the lag window shifted by h
    * (features f_h..f_{h+lags−1}), every model trained on the shared
    * reduction with the first lags+fh−1 warmup rows dropped, all
    * scoring the same per-entity tail. Emits `fp_<tag>` with
    * (user_id, cutoff, p1..p<fh>). */
  def fullDirect(tag: String, lags: Int, fh: Int): String = {
    val maxLag = lags + fh - 1
    val moms = (1 to fh).map { h =>
      val xs = "1.0" +: (h until h + lags).map(j => s"f$j")
      s"""${tag}_mom$h AS (SELECT ${Q.olsMomentsSql(xs, "value")}
            FROM lagd WHERE rn > $maxLag)"""
    }
    val chains = (1 to fh).map(h =>
      Q.cholSolveSql(lags + 1, s"${tag}_mom$h", s"${tag}_c$h"))
    val sols = (1 to fh).map { h =>
      val renames = (0 to lags).map(i => s"a_$i AS w${h}_$i").mkString(", ")
      s"${tag}_sol$h AS (SELECT $renames FROM ${Q.cholSolveLast(lags + 1, s"${tag}_c$h")})"
    }
    // ((w_1·t1 + w_2·t2 + …) + w_0): the foldLeft order of
    // DirectLinearModel.predict's reduce(_+_) + intercept
    def pred(h: Int) =
      (1 to lags).map(i => s"w${h}_$i * t$i").mkString("(", " + ", ")") + s" + w${h}_0"
    val solJoin = (1 to fh).map(h => s"${tag}_sol$h").mkString(" CROSS JOIN ")
    s"""${moms.mkString(", ")},
        ${chains.mkString(", ")},
        ${sols.mkString(", ")},
        ${tailCte(tag, lags, "cnt")},
        fp_$tag AS (SELECT user_id, cutoff,
            ${(1 to fh).map(h => s"${pred(h)} AS p$h").mkString(", ")}
          FROM ${tag}_tail CROSS JOIN $solJoin)"""
  }

  /** Full-data censored/zero-inflated fit + fh-step recursive predict
    * ([[graft.operators.CensoredForecaster]]'s oracle): IRLS logistic
    * P(value > τ) × above-τ OLS over the shared reduction, then the
    * σ(z)·ŷ recursion. Emits `fp_<tag>` with (user_id, cutoff,
    * p1..p<fh>). */
  def fullCensored(tag: String, lags: Int, fh: Int, thresholdSql: String,
                   irlsIters: Int = 6): String = {
    val xs = "1.0" +: (1 to lags).map(j => s"f$j")
    val pcren = (0 to lags).map(i => s"p_$i AS pc_$i").mkString(", ")
    val rcren = (0 to lags).map(i => s"a_$i AS rc_$i").mkString(", ")
    s"""${tag}_red AS MATERIALIZED (SELECT * FROM lagd WHERE rn > $lags),
        ${logisticIrlsSql(s"${tag}_cl", s"${tag}_red", xs, s"value > $thresholdSql", irlsIters)},
        ${tag}_clsol AS (SELECT $pcren FROM ${tag}_cl_s$irlsIters),
        ${tag}_rmom AS (SELECT ${Q.olsMomentsSql(xs, "value")}
          FROM ${tag}_red WHERE value > $thresholdSql),
        ${Q.cholSolveSql(lags + 1, s"${tag}_rmom", s"${tag}_rc")},
        ${tag}_rsol AS (SELECT $rcren FROM ${Q.cholSolveLast(lags + 1, s"${tag}_rc")}),
        ${tailCte(tag, lags, "cnt")},
        ${tag}_p0 AS (SELECT * FROM ${tag}_tail
          CROSS JOIN ${tag}_clsol CROSS JOIN ${tag}_rsol),
        ${censoredPredStages(s"${tag}_", s"${tag}_p0", fh, lags)},
        fp_$tag AS (SELECT * FROM ${tag}_pred)"""
  }

  /** The shared `lagd` CTE over events: f1..f<maxLag>, rn, cnt.
    * `valueExpr` substitutes a target transform (e.g. the
    * zero-inflated flooring) applied BEFORE the lag windows. */
  def lagdCte(maxLag: Int, valueExpr: String = "value",
              srcTable: String = "events"): String = {
    val fs = (1 to maxLag).map(j => s"lag(value, $j) OVER w AS f$j").mkString(", ")
    val src =
      if (valueExpr == "value") srcTable
      else s"(SELECT * REPLACE ($valueExpr AS value) FROM $srcTable)"
    // MATERIALIZED: the sweep oracles reference lagd from every
    // candidate chain's reduction, tail and backtest join — inlined,
    // DuckDB re-plans AND re-executes the whole lag-window pipeline
    // ~40× per statement, and the bind/optimize of those copies was
    // the dominant cost of fc_auto_search_gbt (round-10 profile)
    s"""lagd AS MATERIALIZED (
          SELECT user_id, ts, event_id, value, $fs,
                 row_number() OVER w AS rn,
                 count(*) OVER (PARTITION BY user_id) AS cnt
          FROM $src WINDOW w AS (${Q.W}))"""
  }

  /** CTEs replicating [[graft.functions.Logistic.fitIrls]] (λ = 0)
    * over `dataCte`: per Newton iteration, a per-row working-response
    * subquery (η, μ, w, r — lateral aliases, same arithmetic order as
    * the Scala loop), ONE weighted-moment aggregation, an unrolled
    * Cholesky solve of the step, and the β update. The final CTE
    * `<tag>_s<iters>` carries the solution `p_0..p_<p>`. */
  def logisticIrlsSql(tag: String, dataCte: String, xs: Seq[String],
                      labelExpr: String, iters: Int = 6): String = {
    val d = xs.length
    val init = s"${tag}_s0 AS (SELECT ${(0 until d)
      .map(i => s"CAST(0.0 AS DOUBLE) AS p_$i").mkString(", ")})"
    val its = (1 to iters).map { t =>
      val eta = (s"p_0" +: (1 until d).map(j => s"+ p_$j * ${xs(j)}"))
        .mkString("(", " ", ")")
      val rcte = s"""${tag}_r$t AS (
          SELECT *, $eta AS eta, 1.0 / (1.0 + exp(-eta)) AS mu,
                 mu * (1.0 - mu) AS wr, CAST($labelExpr AS DOUBLE) - mu AS rr
          FROM $dataCte CROSS JOIN ${tag}_s${t - 1})"""
      val ms = for (i <- 0 until d; j <- i until d)
        yield s"sum(wr * ${xs(i)} * ${xs(j)}) AS m_${i}_$j"
      val bs = (0 until d).map(i => s"sum(rr * ${xs(i)}) AS b_$i")
      val carry = (0 until d).map(i => s"min(p_$i) AS p_$i")
      val mcte = s"""${tag}_m$t AS (SELECT ${(ms ++ bs ++ carry).mkString(", ")}
          FROM ${tag}_r$t)"""
      val chol = Q.cholSolveSql(d, s"${tag}_m$t", s"${tag}_c$t")
      val scte = s"""${tag}_s$t AS (SELECT ${(0 until d)
        .map(i => s"p_$i + a_$i AS p_$i").mkString(", ")}
          FROM ${Q.cholSolveLast(d, s"${tag}_c$t")})"""
      Seq(rcte, mcte, chol, scte).mkString(", ")
    }
    (init +: its).mkString(", ")
  }

  /** CTEs replicating [[graft.operators.StumpBoost.fit]] + its
    * recursive predict, step-exact: per boosting round, ONE
    * conditional aggregation over the shared reduction (left
    * sums/counts for every uniform-grid candidate), an unpivot +
    * `ORDER BY gain DESC, i, k LIMIT 1` argmax, and leaf values
    * sl/nl·η — the same IEEE expressions the Scala driver computes
    * from its collected row. Emits `fp_<tag>` with
    * (user_id, cutoff, p1..p<fh>). */
  def fullStump(tag: String, lags: Int, fh: Int, rounds: Int,
                bins: Int, eta: Double): String = {
    val cands = (for { i <- 1 to lags; k <- 1 until bins } yield (i, k)).toIndexedSeq
    def thr(i: Int, k: Int) =
      s"(mn$i + $k * (mx$i - mn$i) / CAST($bins AS DOUBLE))"
    // runtime dispatch of a stump's feature column over the lag set
    def featCase(j: Int, xs: Int => String) =
      s"CASE fi_$j ${(1 to lags).map(i => s"WHEN $i THEN ${xs(i)}").mkString(" ")} END"
    def stumpTerm(j: Int, xs: Int => String) =
      s" + CASE WHEN ${featCase(j, xs)} <= thr_$j THEN vl_$j ELSE vr_$j END"
    val mm = s"""${tag}_mm AS (SELECT ${(1 to lags)
      .map(i => s"min(f$i) AS mn$i, max(f$i) AS mx$i").mkString(", ")},
          sum(value) / count(*) AS b0 FROM ${tag}_red)"""
    val roundCtes = (1 to rounds).map { m =>
      val priorJoins = (1 until m).map(j => s" CROSS JOIN ${tag}_b$j").mkString
      val fExpr = "b0" + (1 until m).map(j => stumpTerm(j, i => s"f$i")).mkString
      val rcte = s"""${tag}_r$m AS MATERIALIZED (
          SELECT *, value - ($fExpr) AS r
          FROM ${tag}_red CROSS JOIN ${tag}_mm$priorJoins)"""
      val sums = cands.zipWithIndex.map { case ((i, k), ci) =>
        s"""sum(CASE WHEN f$i <= ${thr(i, k)} THEN r END) AS sl_$ci,
            count(CASE WHEN f$i <= ${thr(i, k)} THEN 1 END) AS nl_$ci"""
      }
      val carry = (1 to lags).map(i => s"min(mn$i) AS mn$i, min(mx$i) AS mx$i")
      val acte = s"""${tag}_a$m AS (SELECT ${(sums ++ carry).mkString(", ")},
          sum(r) AS st, count(*) AS nt FROM ${tag}_r$m)"""
      val branches = cands.zipWithIndex.map { case ((i, k), ci) =>
        s"""SELECT $i AS i, $k AS k, ${thr(i, k)} AS thr,
              sl_$ci AS sl, nl_$ci AS nl, st, nt FROM ${tag}_a$m"""
      }
      val gcte = s"""${tag}_g$m AS (${branches.mkString(" UNION ALL ")})"""
      val bcte = s"""${tag}_b$m AS (SELECT i AS fi_$m, thr AS thr_$m,
            CASE WHEN nl > 0 THEN sl / nl * CAST($eta AS DOUBLE)
                 ELSE CAST(0.0 AS DOUBLE) END AS vl_$m,
            CASE WHEN nt > nl THEN (st - sl) / (nt - nl) * CAST($eta AS DOUBLE)
                 ELSE CAST(0.0 AS DOUBLE) END AS vr_$m
          FROM ${tag}_g$m
          ORDER BY CASE WHEN nl > 0 AND nl < nt
                        THEN sl * sl / nl + (st - sl) * (st - sl) / (nt - nl)
                        ELSE -1e308 END DESC, i, k
          LIMIT 1)"""
      Seq(rcte, acte, gcte, bcte).mkString(", ")
    }
    val allBests = (1 to rounds).map(j => s" CROSS JOIN ${tag}_b$j").mkString
    // per-horizon state: earlier predictions for j < h, tail values past
    val stages = (1 to fh).map { h =>
      val src = if (h == 1) s"${tag}_p0" else s"${tag}_h${h - 1}"
      val pExpr = "b0" + (1 to rounds).map(j =>
        stumpTerm(j, i => if (i < h) s"p${h - i}" else s"t${i - h + 1}")).mkString
      s"""${tag}_h$h AS MATERIALIZED (SELECT *, ($pExpr) AS p$h FROM $src)"""
    }
    s"""${tag}_red AS MATERIALIZED (SELECT * FROM lagd WHERE rn > $lags),
        $mm,
        ${roundCtes.mkString(", ")},
        ${tailCte(tag, lags, "cnt")},
        ${tag}_p0 AS (SELECT * FROM ${tag}_tail
          CROSS JOIN (SELECT b0 FROM ${tag}_mm) ${tag}_basej$allBests),
        ${stages.mkString(", ")},
        fp_$tag AS (SELECT * FROM ${tag}_h$fh)"""
  }

  /** CTEs replicating [[graft.operators.TreeBoost.fit]] + its
    * recursive predict, step-exact: per boosting round, TWO
    * conditional-aggregation passes over the shared reduction (pass A
    * scores every uniform-grid root candidate; pass B — cross-joined
    * with the picked root — scores every candidate inside each child
    * region), three `ORDER BY gain DESC, i, k LIMIT 1` argmaxes, and
    * mean-leaf values ×η — the same IEEE expressions the Scala driver
    * computes from its two collected rows. The picked root's
    * (coalesced) left sum/count become the child node totals, exactly
    * as the driver coerces NULL sums to 0.0 before deriving them.
    * Emits fit CTEs and a prediction chain ending in `<t>_pred`
    * (user_id, cutoff, p1..p<horizons>); `trainWhere` filters lagd
    * into the training reduction and `endRn` anchors the tail (full
    * fit: "rn > lags" / "cnt"; backtest split: prefix filters). */
  private def tree2Core(t: String, lags: Int, horizons: Int, rounds: Int,
                        bins: Int, eta: Double, trainWhere: String,
                        endRn: String, objective: String = "l2",
                        objParam: Double = Double.NaN,
                        weight: String = ""): String = {
    // log-link objectives (TreeBoost poisson/gamma/tweedie): base
    // score ln(ȳ), pseudo-residual on exp(F), prediction exp(F) — the
    // same touch points the Scala fit switches on. "quantile" stays on
    // the data scale but swaps the base score / leaf values for
    // quantile_cont renewal (bit-identical to Spark `percentile`) and
    // adds a pass-C CTE per round.
    val logLink = Set("poisson", "gamma", "tweedie")(objective)
    val isQ = objective == "quantile"
    val alpha = if (isQ && objParam.isNaN) 0.5 else objParam
    val tweedieP = if (objective == "tweedie" && objParam.isNaN) 1.5 else objParam
    val cands = (for { i <- 1 to lags; k <- 1 until bins } yield (i, k)).toIndexedSeq
    // thresholds are HOISTED into named mm columns (tc_i_k) and
    // referenced by name everywhere: each candidate's 5-op grid
    // expression appeared ~6-9× per round across the aggregate cells
    // and struct rows, and DuckDB's bind/optimize cost scales with the
    // statement's total expression count (the dominant cost of the
    // auto-GBT sweep oracles — round-10 profile). Values are bitwise
    // identical (same IEEE ops over the same min/max).
    def thr(i: Int, k: Int) = s"tc_${i}_$k"
    def thrExpr(i: Int, k: Int) =
      s"(mn$i + $k * (mx$i - mn$i) / CAST($bins AS DOUBLE))"
    // runtime dispatch of a picked feature index over the lag set
    def featCase(fcol: String, xs: Int => String) =
      s"CASE $fcol ${(1 to lags).map(i => s"WHEN $i THEN ${xs(i)}").mkString(" ")} END"
    def treeTerm(j: Int, xs: Int => String) =
      s""" + CASE WHEN ${featCase(s"fi_$j", xs)} <= thr_$j
             THEN (CASE WHEN ${featCase(s"fl_$j", xs)} <= tl_$j THEN vll_$j ELSE vlr_$j END)
             ELSE (CASE WHEN ${featCase(s"fr_$j", xs)} <= tr_$j THEN vrl_$j ELSE vrr_$j END) END"""
    val eSql = s"CAST($eta AS DOUBLE)"
    // weighted mode ([[graft.operators.TreeBoost.fit]]'s `weight`):
    // base score Σwy/Σw, residual sums Σw·r, node sizes Σw — the
    // `wq` column is the caller's weight expression over lagd rows
    val isWt = weight.nonEmpty
    val aQSql = s"CAST($alpha AS DOUBLE)"
    // weighted interpolated quantile ([[graft.functions.WeightedQuantile]]'s
    // rule) as an aggregate over a windowed pair frame carrying
    // (v, m = integer microweight ⌊w·10⁶ + 0.5⌋, sp = ascending
    // (v,m)-ordered exclusive prefix Σm, tot = ΣM, wl = last
    // microweight in sort order, n = pairs): position
    // p_j = sp/(tot − wl) is strictly increasing, bracket α between
    // max p ≤ α and min p ≥ α and interpolate. The prefix sums are
    // BIGINT — exact and association-order independent, so every
    // position is BIT-IDENTICAL to the Scala kernel's (a raw-weight
    // float frame was measurably unstable across DuckDB reps and its
    // sub-ULP drift flips the discontinuous pinball gradient — see
    // WeightedQuantile's class doc).
    def wqSelect: String = {
      val pE = "(CAST(sp AS DOUBLE) / CAST(tot - wl AS DOUBLE))"
      val plo = s"max$pE FILTER (WHERE $pE <= $aQSql)"
      val vlo = s"arg_max(v, $pE) FILTER (WHERE $pE <= $aQSql)"
      val phi = s"coalesce(min$pE FILTER (WHERE $pE >= $aQSql), CAST(1.0 AS DOUBLE))"
      val vhi = s"coalesce(arg_min(v, $pE) FILTER (WHERE $pE >= $aQSql), max(v))"
      s"""CASE WHEN max(n) = 1 OR max(tot - wl) <= 0 THEN min(v)
               WHEN $plo = $phi THEN $vlo
               ELSE $vlo + ($vhi - $vlo) * (($aQSql - $plo) / ($phi - $plo))
          END"""
    }
    // the shared window frame over a (grp, v, w) pair source (raw
    // double weights; quantized and sub-resolution-filtered here);
    // `grp` empty → one global group (the base score)
    def wqFrame(src: String, part: String): String = {
      val byP = if (part.isEmpty) "" else s"PARTITION BY $part "
      val sel = if (part.isEmpty) "" else s"$part, "
      s"""SELECT $sel v, w,
            coalesce(sum(w) OVER ($byP ORDER BY v, w
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              CAST(0 AS BIGINT)) AS sp,
            sum(w) OVER (${if (part.isEmpty) "" else s"PARTITION BY $part"}) AS tot,
            last_value(w) OVER ($byP ORDER BY v, w
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS wl,
            count(*) OVER (${if (part.isEmpty) "" else s"PARTITION BY $part"}) AS n
          FROM (SELECT $sel v, CAST(floor(w * 1000000.0 + 0.5) AS BIGINT) AS w
                FROM $src WHERE floor(w * 1000000.0 + 0.5) >= 1.0)"""
    }
    val wqB0Ctes =
      if (isQ && isWt)
        s"""${t}_wq0w AS MATERIALIZED (${wqFrame(
             s"(SELECT value AS v, wq AS w FROM ${t}_red WHERE wq > 0)", "")}),
            ${t}_wq0 AS MATERIALIZED (SELECT $wqSelect AS q FROM ${t}_wq0w), """
      else ""
    val b0Sql =
      if (isQ && isWt) s"(SELECT q FROM ${t}_wq0)"
      else if (isQ) s"quantile_cont(value, CAST($alpha AS DOUBLE))"
      else if (isWt && logLink) "ln(sum(wq * value) / sum(wq))"
      else if (isWt) "sum(wq * value) / sum(wq)"
      else if (logLink) "ln(sum(value) / count(*))"
      else "sum(value) / count(*)"
    // conditional residual-sum / node-size aggregate cells. Weighted
    // QUANTILE crosses to the exact microweight lattice: the gradient
    // cell is the fixed combine α·Σm − Σm_le (= Σm·r for the two-valued
    // pinball r), each Σ an exact integral-double sum — what keeps the
    // exactly-tied gains of same-partition thresholds TIED instead of
    // ULP-noise-ordered (the r10 raw-weight cells made this statement
    // unstable across DuckDB reps; see WeightedQuantile's class doc).
    // Byte-matched to TreeBoost.fit's `grad(c0, n0)` read-time combine.
    val isQW = isQ && isWt
    def rCell(cond: String, as: String) =
      if (isQW) s"""(CAST($alpha AS DOUBLE) *
            coalesce(sum(CASE WHEN $cond THEN mq END), CAST(0.0 AS DOUBLE)) -
            coalesce(sum(CASE WHEN ($cond) AND d <= 0.0 THEN mq END),
                     CAST(0.0 AS DOUBLE))) AS $as"""
      else if (isWt) s"sum(CASE WHEN $cond THEN wq * r END) AS $as"
      else s"sum(CASE WHEN $cond THEN r END) AS $as"
    def szCell(cond: String, as: String) =
      if (isQW) s"sum(CASE WHEN $cond THEN mq END) AS $as"
      else if (isWt) s"sum(CASE WHEN $cond THEN wq END) AS $as"
      else s"count(CASE WHEN $cond THEN 1 END) AS $as"
    // weighted sizes can be NULL (no matching rows) — coerce to 0.0
    // exactly like the Scala driver's isNullAt; unweighted counts
    // never are (keep their text byte-identical to round 9)
    def szRef(c: String) =
      if (isWt) s"coalesce($c, CAST(0.0 AS DOUBLE))" else c
    val mm = s"""${t}_mm0 AS MATERIALIZED (SELECT ${(1 to lags)
      .map(i => s"min(f$i) AS mn$i, max(f$i) AS mx$i").mkString(", ")},
          $b0Sql AS b0 FROM ${t}_red),
        ${t}_mm AS MATERIALIZED (SELECT *, ${cands
      .map { case (i, k) => s"${thrExpr(i, k)} AS ${thr(i, k)}" }
      .mkString(", ")} FROM ${t}_mm0)"""
    // a child pick CTE: argmax gain over in-node candidate stats
    // (i, k, thr, sl, nl, sn, nn) from `src`, leaf values ×η
    def childPick(cte: String, src: String, fCol: String, tCol: String,
                  vlCol: String, vrCol: String) =
      s"""$cte AS MATERIALIZED (SELECT i AS $fCol, thr AS $tCol,
            CASE WHEN nl > 0 THEN sl / nl * $eSql
                 ELSE CAST(0.0 AS DOUBLE) END AS $vlCol,
            CASE WHEN nn > nl THEN (sn - sl) / (nn - nl) * $eSql
                 ELSE CAST(0.0 AS DOUBLE) END AS $vrCol
          FROM $src
          ORDER BY CASE WHEN nl > 0 AND nl < nn
                        THEN sl * sl / nl + (sn - sl) * (sn - sl) / (nn - nl)
                        ELSE -1e308 END DESC, i, k
          LIMIT 1)"""
    val roundCtes = (1 to rounds).map { m =>
      val priorJoins = (1 until m)
        .map(j => s" CROSS JOIN ${t}_b$j CROSS JOIN ${t}_bl$j CROSS JOIN ${t}_br$j" +
          (if (isQ) s" CROSS JOIN ${t}_c$j" else ""))
        .mkString
      val fExpr = "b0" + (1 until m).map(j => treeTerm(j, i => s"f$i")).mkString
      val rSql = objective match {
        case "poisson" => s"value * exp(-($fExpr)) - 1.0"
        case "gamma" => s"1.0 - exp($fExpr) / value"
        // driver-precomputed (p−1)/(2−p) literals — byte-identical to
        // the Scala fit's lit(tweedieP - 1.0)/lit(2.0 - tweedieP)
        case "tweedie" =>
          s"""(value - exp($fExpr)) / (CAST(${tweedieP - 1.0} AS DOUBLE) * value
              + CAST(${2.0 - tweedieP} AS DOUBLE) * exp($fExpr))"""
        case "quantile" =>
          s"""CASE WHEN value <= ($fExpr) THEN CAST(${alpha - 1.0} AS DOUBLE)
              ELSE CAST($alpha AS DOUBLE) END"""
        case _ => s"value - ($fExpr)"
      }
      // quantile also carries the raw residual d = y − F for pass C
      val dSql = if (isQ) s", value - ($fExpr) AS d" else ""
      val rcte = s"""${t}_r$m AS MATERIALIZED (
          SELECT *, $rSql AS r$dSql
          FROM ${t}_red CROSS JOIN ${t}_mm$priorJoins)"""
      // pass A: root candidates
      val sumsA = cands.zipWithIndex.map { case ((i, k), ci) =>
        s"""${rCell(s"f$i <= ${thr(i, k)}", s"sl_$ci")},
            ${szCell(s"f$i <= ${thr(i, k)}", s"nl_$ci")}"""
      }
      // every 1-or-few-row stage below is MATERIALIZED: plain CTEs are
      // inlined per consumer, and b/bl/br are each referenced by every
      // LATER round's residual — un-materialized, the whole per-round
      // aggregation chain re-expands per reference and the oracle's
      // work grows exponentially in `rounds`
      val totA =
        if (isQW) s"""(CAST($alpha AS DOUBLE) *
              coalesce(sum(mq), CAST(0.0 AS DOUBLE)) -
              coalesce(sum(CASE WHEN d <= 0.0 THEN mq END),
                       CAST(0.0 AS DOUBLE))) AS st, sum(mq) AS nt"""
        else if (isWt) "sum(wq * r) AS st, sum(wq) AS nt"
        else "sum(r) AS st, count(*) AS nt"
      val acte = s"""${t}_a$m AS MATERIALIZED (SELECT ${sumsA.mkString(", ")},
          $totA FROM ${t}_r$m)"""
      // candidate rows as ONE unnest(list-of-structs) node, not a
      // |cands|-branch UNION ALL — identical values, ~10% less text
      // and far fewer plan nodes per round. (Round-10 profiling note:
      // this alone did NOT move fc_auto_search_gbt — its remaining
      // cost is DuckDB's bind/optimize of the statement's total
      // expression count, reported under the opaque "Query" node;
      // the decisive win there was MATERIALIZING lagd, see lagdCte.)
      def structRows(rows: Seq[String]) =
        s"unnest([${rows.mkString(", ")}], recursive := true)"
      val brA = cands.zipWithIndex.map { case ((i, k), ci) =>
        s"""{'i': $i, 'k': $k, 'thr': ${thr(i, k)},
             'sl': sl_$ci, 'nl': ${szRef(s"nl_$ci")}}"""
      }
      val gcte = s"""${t}_g$m AS MATERIALIZED (
          SELECT ${structRows(brA)}, st, nt
          FROM ${t}_a$m CROSS JOIN ${t}_mm)"""
      // root pick: no leaf values (the children refine them); the
      // picked candidate's coalesced sum/count are the node totals
      val bcte = s"""${t}_b$m AS MATERIALIZED (SELECT i AS fi_$m, thr AS thr_$m,
            coalesce(sl, CAST(0.0 AS DOUBLE)) AS sa_$m, nl AS na_$m,
            st AS stt_$m, nt AS ntt_$m
          FROM ${t}_g$m
          ORDER BY CASE WHEN nl > 0 AND nl < nt
                        THEN sl * sl / nl + (st - sl) * (st - sl) / (nt - nl)
                        ELSE -1e308 END DESC, i, k
          LIMIT 1)"""
      // pass B: every candidate inside each child region
      val rootF = featCase(s"fi_$m", i => s"f$i")
      val sumsB = cands.zipWithIndex.map { case ((i, k), ci) =>
        s"""${rCell(s"$rootF <= thr_$m AND f$i <= ${thr(i, k)}", s"pl_$ci")},
            ${szCell(s"$rootF <= thr_$m AND f$i <= ${thr(i, k)}", s"ql_$ci")},
            ${rCell(s"$rootF > thr_$m AND f$i <= ${thr(i, k)}", s"pr_$ci")},
            ${szCell(s"$rootF > thr_$m AND f$i <= ${thr(i, k)}", s"qr_$ci")}"""
      }
      val carryB = Seq(s"min(sa_$m) AS sa", s"min(na_$m) AS na",
        s"min(stt_$m) AS stt", s"min(ntt_$m) AS ntt")
      val a2cte = s"""${t}_a2$m AS MATERIALIZED (SELECT ${(sumsB ++ carryB).mkString(", ")}
          FROM ${t}_r$m CROSS JOIN ${t}_b$m)"""
      val brL = cands.zipWithIndex.map { case ((i, k), ci) =>
        s"""{'i': $i, 'k': $k, 'thr': ${thr(i, k)},
             'sl': coalesce(pl_$ci, CAST(0.0 AS DOUBLE)), 'nl': ${szRef(s"ql_$ci")}}"""
      }
      val brR = cands.zipWithIndex.map { case ((i, k), ci) =>
        s"""{'i': $i, 'k': $k, 'thr': ${thr(i, k)},
             'sl': coalesce(pr_$ci, CAST(0.0 AS DOUBLE)), 'nl': ${szRef(s"qr_$ci")}}"""
      }
      val glcte = s"""${t}_gl$m AS MATERIALIZED (
          SELECT ${structRows(brL)}, sa AS sn, na AS nn
          FROM ${t}_a2$m CROSS JOIN ${t}_mm)"""
      val grcte = s"""${t}_gr$m AS MATERIALIZED (
          SELECT ${structRows(brR)}, stt - sa AS sn, ntt - na AS nn
          FROM ${t}_a2$m CROSS JOIN ${t}_mm)"""
      // quantile: childPick still argmaxes the split on gradient sums,
      // but its mean leaves are placeholders (mll/…, unreferenced) —
      // the REAL leaf values come from the pass-C renewal CTE below
      val blcte = childPick(s"${t}_bl$m", s"${t}_gl$m", s"fl_$m", s"tl_$m",
        if (isQ) s"mll_$m" else s"vll_$m", if (isQ) s"mlr_$m" else s"vlr_$m")
      val brcte = childPick(s"${t}_br$m", s"${t}_gr$m", s"fr_$m", s"tr_$m",
        if (isQ) s"mrl_$m" else s"vrl_$m", if (isQ) s"mrr_$m" else s"vrr_$m")
      // pass C (quantile only): η·Q_α(y − F | leaf) per leaf, NULL
      // (empty leaf) → 0.0 — [[graft.operators.TreeBoost.fit]]'s
      // renewal aggregation. Conditions mirror pass B's explicit
      // <=/> gates (NaN features fall right in both engines).
      val rootFC = featCase(s"fi_$m", i => s"f$i")
      val lFC = featCase(s"fl_$m", i => s"f$i")
      val rFC = featCase(s"fr_$m", i => s"f$i")
      val aSql = s"CAST($alpha AS DOUBLE)"
      // unweighted: exact quantile_cont per leaf (≡ Spark percentile).
      // weighted: the interpolated weighted quantile per leaf — pair
      // rows tagged with their leaf id, the shared window frame
      // partitioned by leaf, one q per leaf, pivoted to vll..vrr
      val qCtes =
        if (!isWt) Seq(s"""${t}_c$m AS MATERIALIZED (SELECT
            coalesce(quantile_cont(CASE WHEN $rootFC <= thr_$m AND $lFC <= tl_$m
              THEN d END, $aSql) * $eSql, CAST(0.0 AS DOUBLE)) AS vll_$m,
            coalesce(quantile_cont(CASE WHEN $rootFC <= thr_$m AND $lFC > tl_$m
              THEN d END, $aSql) * $eSql, CAST(0.0 AS DOUBLE)) AS vlr_$m,
            coalesce(quantile_cont(CASE WHEN $rootFC > thr_$m AND $rFC <= tr_$m
              THEN d END, $aSql) * $eSql, CAST(0.0 AS DOUBLE)) AS vrl_$m,
            coalesce(quantile_cont(CASE WHEN $rootFC > thr_$m AND $rFC > tr_$m
              THEN d END, $aSql) * $eSql, CAST(0.0 AS DOUBLE)) AS vrr_$m
          FROM ${t}_r$m CROSS JOIN ${t}_b$m CROSS JOIN ${t}_bl$m CROSS JOIN ${t}_br$m)""")
        else {
          val cp = s"""${t}_cp$m AS MATERIALIZED (
              SELECT CASE WHEN $rootFC <= thr_$m
                          THEN CASE WHEN $lFC <= tl_$m THEN 1 ELSE 2 END
                          ELSE CASE WHEN $rFC <= tr_$m THEN 3 ELSE 4 END END AS lf,
                     d AS v, wq AS w
              FROM ${t}_r$m CROSS JOIN ${t}_b$m CROSS JOIN ${t}_bl$m CROSS JOIN ${t}_br$m
              WHERE d IS NOT NULL AND wq > 0)"""
          val cw = s"""${t}_cw$m AS MATERIALIZED (${wqFrame(s"${t}_cp$m", "lf")})"""
          val cl = s"""${t}_cl$m AS MATERIALIZED (
              SELECT lf, $wqSelect AS q FROM ${t}_cw$m GROUP BY lf)"""
          val pivot = Seq("vll" -> 1, "vlr" -> 2, "vrl" -> 3, "vrr" -> 4).map {
            case (nm, lf) =>
              s"coalesce(max(CASE WHEN lf = $lf THEN q END) * $eSql, CAST(0.0 AS DOUBLE)) AS ${nm}_$m"
          }
          val c = s"""${t}_c$m AS MATERIALIZED (SELECT ${pivot.mkString(", ")}
              FROM ${t}_cl$m)"""
          Seq(cp, cw, cl, c)
        }
      (Seq(rcte, acte, gcte, bcte, a2cte, glcte, grcte, blcte, brcte) ++
        (if (isQ) qCtes else Nil)).mkString(", ")
    }
    val allBests = (1 to rounds)
      .map(j => s" CROSS JOIN ${t}_b$j CROSS JOIN ${t}_bl$j CROSS JOIN ${t}_br$j" +
        (if (isQ) s" CROSS JOIN ${t}_c$j" else ""))
      .mkString
    // per-horizon state: earlier predictions for j < h, tail values past
    val stages = (1 to horizons).map { h =>
      val src = if (h == 1) s"${t}_p0" else s"${t}_h${h - 1}"
      val pExpr = "b0" + (1 to rounds).map(j =>
        treeTerm(j, i => if (i < h) s"p${h - i}" else s"t${i - h + 1}")).mkString
      val emit = if (logLink) s"exp($pExpr)" else s"($pExpr)"
      s"""${t}_h$h AS MATERIALIZED (SELECT *, $emit AS p$h FROM $src)"""
    }
    // weighted quantile also carries the integral microweight mq
    // (exact-lattice split statistics; see rCell above)
    val redSel =
      if (isQW) s"*, ($weight) AS wq, floor(($weight) * 1000000.0 + 0.5) AS mq"
      else if (isWt) s"*, ($weight) AS wq" else "*"
    s"""${t}_red AS MATERIALIZED (SELECT $redSel FROM lagd WHERE $trainWhere),
        $wqB0Ctes$mm,
        ${roundCtes.mkString(", ")},
        ${tailCte(t, lags, endRn)},
        ${t}_p0 AS (SELECT * FROM ${t}_tail
          CROSS JOIN (SELECT b0 FROM ${t}_mm) ${t}_basej$allBests),
        ${stages.mkString(", ")},
        ${t}_pred AS (SELECT * FROM ${t}_h$horizons)"""
  }

  /** Full-data depth-2 tree-boost fit + fh-step recursive prediction
    * ([[graft.operators.TreeBoost]]'s oracle). Emits `fp_<tag>` with
    * (user_id, cutoff, p1..p<fh>). */
  def fullTree2(tag: String, lags: Int, fh: Int, rounds: Int,
                bins: Int, eta: Double, objective: String = "l2",
                objParam: Double = Double.NaN, weight: String = ""): String =
    s"""${tree2Core(tag, lags, fh, rounds, bins, eta, s"rn > $lags", "cnt",
           objective, objParam, weight)},
        fp_$tag AS (SELECT * FROM ${tag}_pred)"""

  /** CTEs for one expanding-window tree-boost backtest candidate:
    * per split, a full depth-2 boost fit on the row-prefix
    * (rn ≤ cnt − cutoff), recursive predictions for h = 1..testSize,
    * inner-joined to actuals — the oracle of
    * [[graft.operators.AutoForecast.autoTreeBoost]]'s per-candidate
    * [[graft.operators.Conformal.backtest]]. Emits `bt_<tag>` with
    * (user_id, h, split, actual, pred). */
  def backtestTree2(tag: String, lags: Int, testSize: Int, nSplits: Int,
                    stepSize: Int, rounds: Int, bins: Int, eta: Double): String = {
    val splits = (0 until nSplits).map { i =>
      val cutoff = testSize + (nSplits - 1 - i) * stepSize
      val ts = s"${tag}_s$i"
      val predCases = (1 to testSize).map(h => s"WHEN $h THEN p.p$h").mkString(" ")
      s"""${tree2Core(ts, lags, testSize, rounds, bins, eta,
             s"rn > $lags AND rn <= cnt - $cutoff", s"cnt - $cutoff")},
          ${ts}_bt AS (
            SELECT a.user_id, a.rn - (a.cnt - $cutoff) AS h, $i AS split,
                   a.value AS actual, CASE a.rn - (a.cnt - $cutoff) $predCases END AS pred
            FROM lagd a JOIN ${ts}_pred p ON a.user_id = p.user_id
            WHERE a.rn > a.cnt - $cutoff AND a.rn <= a.cnt - $cutoff + $testSize)"""
    }
    val union = (0 until nSplits).map(i => s"SELECT * FROM ${tag}_s${i}_bt")
      .mkString(" UNION ALL ")
    (splits :+ s"bt_$tag AS ($union)").mkString(", ")
  }

  /** Staged recursion for the censored predict (the oracle of
    * [[graft.operators.GbtForecaster.predictRecursiveModel]] with the
    * CensoredForecaster step): per horizon, z and ŷ are affine in the
    * rolled state (earlier p's for j < h, tail values past), the
    * probability is σ(z), the emitted value is σ(z)·ŷ. `from0` must
    * carry t1..t<lags>, classifier coefs `pc_0..pc_<lags>` and
    * regression coefs `rc_0..rc_<lags>`; the final CTE `<p>pred`
    * carries p1..p<horizons>. Mirrors the step closure's
    * `intercept + (0.0 + Σ wⱼ·stateⱼ)` fold order. */
  def censoredPredStages(p: String, from0: String, horizons: Int, lags: Int): String = {
    def affine(c: String, h: Int) = {
      val terms = (1 to lags).map { j =>
        val s = if (j < h) s"p${h - j}" else s"t${j - h + 1}"
        s"+ ${c}_$j * $s"
      }
      s"(${c}_0 + (0.0 ${terms.mkString(" ")}))"
    }
    val stages = (1 to horizons).map { h =>
      val src = if (h == 1) from0 else s"${p}h${h - 1}"
      s"""${p}h$h AS MATERIALIZED (SELECT *,
            ${affine("pc", h)} AS z$h,
            1.0 / (1.0 + exp(-z$h)) AS pr$h,
            ${affine("rc", h)} AS yh$h,
            pr$h * yh$h AS p$h
          FROM $src)"""
    }
    (stages :+ s"${p}pred AS (SELECT * FROM ${p}h$horizons)").mkString(", ")
  }
}
