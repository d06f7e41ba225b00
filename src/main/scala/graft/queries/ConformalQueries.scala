package graft.queries

import graft.core.Panel
import graft.operators._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** SparkEntry registrations for conformal intervals, probabilistic
  * metrics, forecast scoring/ranking, holiday effects, wide↔long
  * conversion, thresholded streaks, and the tree/censored/direct
  * forecaster family (SURVEY.md §2.1/§2.2/§2.5-§2.7).
  *
  * Interval fixtures: the naive in-sample prediction (lag 1) with a
  * ± entity-stddev band — pure SQL on both engines.
  */
object ConformalQueries {

  /** (user_id, event_id, a, p, lower, upper) with per-entity std band. */
  private def intervalFrame(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val p = Panel.events(s, dir)
    p.df
      .withColumn("p", lag(col("value"), 1).over(p.w))
      .withColumn("__sd", stddev_samp(col("value")).over(p.we))
      .select(col("user_id"), col("event_id"), col("value").as("a"),
        col("p"), (col("p") - col("__sd")).as("lower"), (col("p") + col("__sd")).as("upper"))
      .filter(col("p").isNotNull)
  }

  private val intervalSql =
    s"""SELECT user_id, event_id, value AS a, p, p - sd AS lower, p + sd AS upper
        FROM (SELECT user_id, event_id, value, lag(value) OVER ($W) AS p,
                     stddev_samp(value) OVER ($WE) AS sd FROM events)
        WHERE p IS NOT NULL"""

  val all: Map[String, Q] = Map(
    "m_interval_coverage" -> Q(
      s"""SELECT user_id, round(avg(CASE WHEN a BETWEEN lower AND upper
              THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END),6) AS interval_coverage
          FROM ($intervalSql) GROUP BY user_id""") {
      (s, dir) =>
        r6(Metrics.intervalCoverage(intervalFrame(s, dir), Seq("user_id"), "a", "lower", "upper"))
    },

    "m_winkler_score" -> Q(
      s"""SELECT user_id, round(avg(upper - lower +
              CASE WHEN a < lower THEN (lower - a) * 2 / 0.1
                   WHEN a > upper THEN (a - upper) * 2 / 0.1
                   ELSE CAST(0 AS DOUBLE) END),6) AS winkler_score
          FROM ($intervalSql) GROUP BY user_id""") {
      (s, dir) =>
        r6(Metrics.winklerScore(intervalFrame(s, dir), Seq("user_id"), "a", "lower", "upper", 0.1))
    },

    // erf has no DuckDB equivalent → rows-only; numeric parity with the
    // closed-form Gaussian CRPS is asserted in MetricsSpec.
    // the erf inside is the SAME Abramowitz-Stegun 7.1.26 rational
    // approximation on both engines (pure arithmetic on bitwise-equal
    // inputs — the sd window already hash-matches via the interval
    // queries), so the closed-form Gaussian CRPS is oracle-checkable
    "m_crps_gaussian" -> Q(
      s"""WITH f AS (SELECT user_id, a, p, upper - p AS sigma FROM ($intervalSql)
                     WHERE upper - p > 0),
              zrow AS (SELECT user_id, sigma, (a - p) / sigma AS z FROM f),
              e AS (SELECT user_id, sigma, z, z / sqrt(2) AS x,
                           1.0 / (1.0 + 0.3275911 * abs(z / sqrt(2))) AS t
                    FROM zrow),
              erf AS (SELECT user_id, sigma, z,
                        CASE WHEN x >= 0 THEN 1 ELSE -1 END *
                        (1.0 - t * (0.254829592 + t * (-0.284496736 + t *
                           (1.421413741 + t * (-1.453152027 + t * 1.061405429))))
                           * exp(-abs(x) * abs(x))) AS ef
                      FROM e)
         SELECT user_id,
                round(avg(sigma * (z * ((ef + 1) - 1) +
                      2 * exp(z * z * -0.5) / sqrt(2 * pi()) - 1.0 / sqrt(pi()))), 6) AS crps
         FROM erf GROUP BY user_id""") { (s, dir) =>
      val f = intervalFrame(s, dir).withColumn("__sigma", (col("upper") - col("p")))
      r6(Metrics.crpsGaussian(f.filter(col("__sigma") > 0), Seq("user_id"), "a", "p", "__sigma"))
    },

    "m_score_forecast" -> Q(
      s"""WITH j AS (SELECT user_id, value AS a, lag(value) OVER ($W) AS p FROM events),
              base AS (SELECT user_id,
                avg(abs(p - a)) AS mae,
                avg(abs(a - p)/abs(a)) AS mape,
                avg(pow(p - a, 2)) AS mse,
                sqrt(avg(pow(p - a, 2))) AS rmse,
                sum(abs(p - a))/sum(p + a) AS smape,
                avg(CAST(200 AS DOUBLE) * abs(p - a) / (1e-15 + abs(a) + abs(p))) AS smape_original
                FROM j GROUP BY user_id),
              nd AS (SELECT user_id, avg(abs(d)) AS mad, avg(pow(d, 2)) AS msd
                     FROM (SELECT user_id, value - lag(value, 7) OVER ($W) AS d FROM events)
                     GROUP BY user_id)
          SELECT base.user_id, round(mae,6) AS mae, round(mape,6) AS mape,
                 round(mse,6) AS mse, round(rmse,6) AS rmse, round(smape,6) AS smape,
                 round(smape_original,6) AS smape_original,
                 round(mae / mad,6) AS mase, round(sqrt(mse / msd),6) AS rmsse
          FROM base LEFT JOIN nd ON base.user_id = nd.user_id""") {
      (s, dir) =>
        val p = Panel.events(s, dir)
        val j = Metrics.aligned(p.df,
          p.df.withColumn("pred", lag(col("value"), 1).over(p.w))
            .select("user_id", "event_id", "pred"),
          Seq("user_id", "event_id"), "value", "pred")
        r6(Metrics.scoreForecast(j, p.df, Seq("user_id"), Seq("ts", "event_id"), "value", 7))
    },

    "c_enbpi" -> Q(
      s"""WITH state AS (SELECT user_id, arg_max(value, ts) AS lastv, max(ts) AS cutoff
                         FROM events GROUP BY user_id),
              h AS (SELECT i AS h FROM unnest([1, 2, 3]) AS t(i)),
              pred AS (SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                              lastv AS value FROM state CROSS JOIN h),
              r AS (SELECT user_id, value - lag(value) OVER ($W) AS r FROM events),
              sc AS (SELECT user_id,
                            list_sort(list(r))[CAST(round(0.1 * (count(*) - 1)) AS BIGINT) + 1] AS score,
                            0.1 AS quantile
                     FROM r WHERE r IS NOT NULL GROUP BY user_id
                     UNION ALL
                     SELECT user_id,
                            list_sort(list(r))[CAST(round(0.9 * (count(*) - 1)) AS BIGINT) + 1] AS score,
                            0.9 AS quantile
                     FROM r WHERE r IS NOT NULL GROUP BY user_id)
          SELECT p.user_id, p.ts, round(p.value + sc.score,6) AS value, sc.quantile
          FROM pred p LEFT JOIN sc ON p.user_id = sc.user_id""") {
      (s, dir) =>
        val p = Panel.events(s, dir)
        val yPred = Forecasters.naive(p, "ts", fh = 3, freq = "1d")
        val yResid = p.df
          .withColumn("residual", col("value") - lag(col("value"), 1).over(p.w))
          .filter(col("residual").isNotNull)
        r6(Conformal.enbpi(yPred, yResid, Seq("user_id"), "ts", "value", "residual",
          Seq(0.1, 0.9)))
    },

    "c_conformalize" -> Q(
      s"""WITH state AS (SELECT user_id, arg_max(value, ts) AS lastv, max(ts) AS cutoff
                         FROM events GROUP BY user_id),
              h AS (SELECT i AS h FROM unnest([1, 2, 3]) AS t(i)),
              pred AS (SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                              lastv AS value FROM state CROSS JOIN h),
              bt AS (SELECT user_id, ts, lag(value) OVER ($W) AS value FROM events
                     QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) <= 5
                        AND value IS NOT NULL),
              preds AS (SELECT user_id, ts, value FROM pred
                        UNION ALL SELECT user_id, ts, value FROM bt),
              r AS (SELECT user_id, value - lag(value) OVER ($W) AS r FROM events),
              sc AS (SELECT user_id,
                            list_sort(list(r))[CAST(round(0.1 * (count(*) - 1)) AS BIGINT) + 1] AS score,
                            10 AS quantile
                     FROM r WHERE r IS NOT NULL GROUP BY user_id
                     UNION ALL
                     SELECT user_id,
                            list_sort(list(r))[CAST(round(0.9 * (count(*) - 1)) AS BIGINT) + 1] AS score,
                            90 AS quantile
                     FROM r WHERE r IS NOT NULL GROUP BY user_id)
          SELECT p.user_id, p.ts, round(p.value + sc.score,6) AS value,
                 CAST(sc.quantile AS INT) AS quantile
          FROM preds p LEFT JOIN sc ON p.user_id = sc.user_id""") {
      (s, dir) =>
        val p = Panel.events(s, dir)
        val yPred = Forecasters.naive(p, "ts", fh = 3, freq = "1d")
        // backtest stand-in: last 5 in-sample naive predictions
        val bt = p.df
          .withColumn("value", lag(col("value"), 1).over(p.w))
          .withColumn("__rnd", row_number().over(
            Window.partitionBy(col("user_id")).orderBy(col("ts").desc)))
          .filter(col("__rnd") <= 5 && col("value").isNotNull)
          .select("user_id", "ts", "value")
        val yResid = p.df
          .withColumn("residual", col("value") - lag(col("value"), 1).over(p.w))
          .filter(col("residual").isNotNull)
        r6(Conformal.conformalize(yPred, bt, yResid, Seq("user_id"), "ts", "value", "residual"))
    },

    // conformalize composed over the ELITE forecaster — the
    // reference's forecaster.conformalize works with ANY forecaster
    // (base/forecaster.py:327-361); this exercises the composition the
    // linear-path c_conformalize cannot: a NESTED CV (an EliteDeep fit
    // per outer backtest split, each with its own inner member
    // backtests on the outer train prefix — the offset= cutoff shift),
    // residuals = actual − elite pred over both outer splits, ENBPI
    // bands 10/90 over the union of final elite predictions and
    // backtest predictions. Zoo = {naive, linear_7}, topK=1 mean:
    // per-entity winner-takes-all, every stage SQL-replicable.
    "c_conformalize_elite" -> Q({
      // outer member predictions at outer cutoffs {10, 5} — ALSO the
      // final elite's inner backtest (same cutoffs on full data)
      val outer = Seq(
        OlsBacktestSql.backtestLinear("ol", 7, testSize = 5, nSplits = 2,
          stepSize = 5),
        OlsBacktestSql.backtestNaive("onv", 1, testSize = 5, nSplits = 2,
          stepSize = 5))
      // inner backtests per outer split: cutoffs shifted by the outer
      // train prefix (split 0 → offset 10, split 1 → offset 5)
      val inner = Seq(0 -> 10, 1 -> 5).flatMap { case (i, off) =>
        Seq(
          OlsBacktestSql.backtestLinear(s"il$i", 7, testSize = 5, nSplits = 2,
            stepSize = 5, offset = off),
          OlsBacktestSql.backtestNaive(s"inv$i", 1, testSize = 5, nSplits = 2,
            stepSize = 5, offset = off))
      }
      val scores = Seq("ol", "onv", "il0", "inv0", "il1", "inv1")
        .map(OlsBacktestSql.entityScore)
      // per-entity winner (topK=1, smape asc nulls last, model name
      // tie-break) — one per outer split + one for the final fit
      def winner(w: String, lin: String, nv: String) =
        s"""${w}src AS (SELECT user_id, smape, 'linear_7' AS model FROM sc_$lin
              UNION ALL SELECT user_id, smape, 'naive' FROM sc_$nv),
            $w AS (SELECT user_id, model FROM (
                SELECT user_id, model, row_number() OVER (PARTITION BY user_id
                  ORDER BY smape ASC NULLS LAST, model) AS rk
                FROM ${w}src) WHERE rk = 1)"""
      // outer elite backtest rows with the ACTUAL row's timestamp
      def eliteBt(i: Int, cutoff: Int) =
        s"""eb$i AS (
              SELECT a.user_id, a.ts, a.value AS actual,
                     CASE WHEN w$i.model = 'linear_7' THEN l.pred ELSE n.pred END AS pred
              FROM lagd a
              JOIN (SELECT * FROM bt_ol WHERE split = $i) l
                ON a.user_id = l.user_id AND l.h = a.rn - (a.cnt - $cutoff)
              JOIN (SELECT * FROM bt_onv WHERE split = $i) n
                ON a.user_id = n.user_id AND n.h = a.rn - (a.cnt - $cutoff)
              JOIN w$i ON a.user_id = w$i.user_id
              WHERE a.rn > a.cnt - $cutoff AND a.rn <= a.cnt - $cutoff + 5)"""
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${outer.mkString(", ")},
          ${inner.mkString(", ")},
          ${scores.mkString(", ")},
          ${winner("w0", "il0", "inv0")},
          ${winner("w1", "il1", "inv1")},
          ${winner("wf", "ol", "onv")},
          ${eliteBt(0, 10)},
          ${eliteBt(1, 5)},
          eball AS (SELECT * FROM eb0 UNION ALL SELECT * FROM eb1),
          ${OlsBacktestSql.fullLinear("fel", 7, fh = 3)},
          state AS (SELECT user_id, arg_max(value, ts) AS lastv, max(ts) AS cutoff
                    FROM events GROUP BY user_id),
          fpred AS (
            SELECT s.user_id, CAST(s.cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   CASE WHEN wf.model = 'linear_7'
                        THEN (CASE h WHEN 1 THEN f.p1 WHEN 2 THEN f.p2 ELSE f.p3 END)
                        ELSE s.lastv END AS value
            FROM state s JOIN wf ON s.user_id = wf.user_id
            LEFT JOIN fp_fel f ON s.user_id = f.user_id
            CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)),
          r AS (SELECT user_id, actual - pred AS r FROM eball),
          sc AS (SELECT user_id,
                   list_sort(list(r))[CAST(round(0.1 * (count(*) - 1)) AS BIGINT) + 1] AS score,
                   10 AS quantile
                 FROM r WHERE r IS NOT NULL GROUP BY user_id
                 UNION ALL
                 SELECT user_id,
                   list_sort(list(r))[CAST(round(0.9 * (count(*) - 1)) AS BIGINT) + 1] AS score,
                   90 AS quantile
                 FROM r WHERE r IS NOT NULL GROUP BY user_id),
          preds AS (SELECT user_id, ts, value FROM fpred
                    UNION ALL SELECT user_id, ts, pred AS value FROM eball)
          SELECT p.user_id, p.ts, round(p.value + sc.score, 6) AS value,
                 CAST(sc.quantile AS INT) AS quantile
          FROM preds p LEFT JOIN sc ON p.user_id = sc.user_id"""
    }) { (s, dir) =>
      val p = Panel.events(s, dir)
      val models = Seq("naive", "linear_7")
      def eliteFit(tr: Panel, h: Int) =
        EliteDeep.run(tr, "ts", "1d", fh = h, topK = 1, strategy = "mean",
          testSize = 5, nSplits = 2, stepSize = 5, models = models)
      val bt = Conformal.backtest(p, "ts", testSize = 5, nSplits = 2,
        stepSize = 5, eliteFit _).localCheckpoint(true)
      val yPred = eliteFit(p, 3)
      val yResid = bt.withColumn("residual", col("actual") - col("pred"))
      val btPreds = bt.select(col("user_id"), col("ts"), col("pred").as("value"))
      r6(Conformal.conformalize(yPred, btPreds, yResid, Seq("user_id"), "ts",
        "value", "residual"))
    },

    // ----- invert round-trips: transform → invert == identity, so the
    // oracle is simply the original column (the strongest driver-gate
    // form of the reference's round-trip tests, test_preprocessing.py)
    "rt_scale_invert" -> Q(
      "SELECT event_id, round(value,6) AS value FROM events") {
      (s, dir) =>
        val p = ev(s, dir)
        val (scaled, art) = Preprocess.scale(p)
        r6(Preprocess.scaleInvert(scaled, art, Seq("user_id"), "value")
          .select("event_id", "value"))
    },

    "rt_diff_invert" -> Q(
      "SELECT event_id, round(value,6) AS value FROM events") {
      (s, dir) =>
        val p = ev(s, dir)
        val (diffed, heads) = Preprocess.diff(p, order = 1, sp = 1)
        r6(Preprocess.diffInvert(diffed, heads, Seq("user_id"), Seq("ts", "event_id"),
          "value", sp = 1).select("event_id", "value"))
    },

    "rt_boxcox_invert" -> Q(
      "SELECT event_id, round(value,6) AS value FROM events") {
      (s, dir) =>
        val p = ev(s, dir)
        val f = p.df.withColumn("value", Preprocess.boxcox(col("value"), lit(0.5)))
        r6(f.withColumn("value", Preprocess.boxcoxInvert(col("value"), lit(0.5)))
          .select("event_id", "value"))
    },

    "rt_yeojohnson_invert" -> Q(
      "SELECT event_id, round(value,6) AS value FROM events") {
      (s, dir) =>
        val p = ev(s, dir)
        val f = p.df.withColumn("value", Preprocess.yeojohnson(col("value"), lit(1.5)))
        r6(f.withColumn("value", Preprocess.yeojohnsonInvert(col("value"), lit(1.5)))
          .select("event_id", "value"))
    },

    // video-frame sampling plumbing: payload → n equal byte-range
    // frames, one row each (Multimodal.sampleFrames); frame length =
    // min(total/4, bytes remaining past the frame's start)
    "mm_frame_sample" -> Q(
      """WITH b AS (SELECT doc_id, octet_length(encode(text))::BIGINT AS total FROM documents),
            f AS (SELECT doc_id, i, total, total // 4 AS fl
                  FROM b CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i))
         SELECT doc_id, i::BIGINT AS frame_idx,
                LEAST(fl, total - i * fl)::BIGINT AS frame_len FROM f""") { (s, dir) =>
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.sampleFrames(docs, "payload", n = 4)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          length(col("frame_bytes")).cast("long").as("frame_len"))
    },

    "e_normality_test" -> Q(
      s"""WITH b AS (SELECT user_id, value, avg(value) OVER ($WE) AS mu FROM events),
              m AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
                      avg(pow(value - mu, 2)) AS m2,
                      avg(pow(value - mu, 3)) AS m3,
                      avg(pow(value - mu, 4)) AS m4
                    FROM b GROUP BY user_id),
              s AS (SELECT user_id, n, m3 / pow(m2, 1.5) AS skew, m4 / pow(m2, 2) AS b2 FROM m),
              z1c AS (SELECT *,
                        skew * sqrt((n+1)*(n+3)/(6*(n-2))) AS y,
                        3.0*(n*n + 27*n - 70)*(n+1)*(n+3) / ((n-2)*(n+5)*(n+7)*(n+9)) AS beta2
                      FROM s),
              z1 AS (SELECT *,
                       (1.0/sqrt(0.5*ln(sqrt(2*(beta2-1))-1)))
                         * ln(y/sqrt(2.0/((sqrt(2*(beta2-1))-1)-1))
                              + sqrt(pow(y/sqrt(2.0/((sqrt(2*(beta2-1))-1)-1)),2)+1)) AS zs
                     FROM z1c),
              z2c AS (SELECT *,
                        (b2 - 3.0*(n-1)/(n+1))
                          / sqrt(24.0*n*(n-2)*(n-3)/((n+1)*(n+1)*(n+3)*(n+5))) AS xk,
                        6.0*(n*n-5*n+2)/((n+7)*(n+9))
                          * sqrt(6.0*(n+3)*(n+5)/(n*(n-2)*(n-3))) AS sb1
                      FROM z1),
              z2a AS (SELECT *, 6.0 + 8.0/sb1 * (2.0/sb1 + sqrt(1.0+4.0/(sb1*sb1))) AS aa FROM z2c),
              z2 AS (SELECT *,
                       ((1.0 - 2.0/(9.0*aa)) -
                        sign((1.0-2.0/aa)/(1.0+xk*sqrt(2.0/(aa-4))))
                          * pow(abs((1.0-2.0/aa)/(1.0+xk*sqrt(2.0/(aa-4)))), 1.0/3.0))
                         / sqrt(2.0/(9.0*aa)) AS zk
                     FROM z2a)
          SELECT user_id, round(skew,6) AS skew, round(b2 - 3,6) AS kurtosis,
                 round(zs*zs + zk*zk,6) AS k2_stat,
                 round(exp(-(zs*zs + zk*zk)/2),6) AS p_value
          FROM z2""") {
      // full D'Agostino-Pearson normaltest (scipy semantics) as one
      // codegen'd aggregation and staged projections — closed-form
      // Z-transforms, p = chi²(2df) survival = exp(−K²/2)
      (s, dir) => r6(Evaluation.normalityTest(ev(s, dir)))
    },

    "e_acf_bartlett" -> Q(
      s"""WITH b AS (SELECT user_id, value,
                            lag(value, 1) OVER ($W) AS l1,
                            lag(value, 2) OVER ($W) AS l2 FROM events),
              r AS (SELECT user_id, CAST(count(value) AS DOUBLE) AS n,
                           corr(value, l1) AS acf_1, corr(value, l2) AS acf_2
                    FROM b GROUP BY user_id)
          SELECT user_id, round(acf_1,6) AS acf_1, round(acf_2,6) AS acf_2,
                 round(1.96 * sqrt((1.0 + 2*acf_1*acf_1)/n),6) AS ci_1,
                 round(1.96 * sqrt((1.0 + 2*(acf_1*acf_1 + acf_2*acf_2))/n),6) AS ci_2
          FROM r""") {
      // ACF with Bartlett bounds using the reference's cum_sum
      // convention — CI for lag k includes lag k's own r_k²
      // (acf_confint_formula, evaluation.py:74-78)
      (s, dir) => r6(Evaluation.acf(ev(s, dir), maxLags = 2))
    },

    "e_rank_residuals" -> Q(
      s"""WITH r AS (SELECT user_id, value - lag(value) OVER ($W) AS r FROM events)
          SELECT user_id, round(abs(avg(r)),6) AS abs_bias
          FROM r WHERE r IS NOT NULL GROUP BY user_id""") {
      (s, dir) =>
        val p = Panel.events(s, dir)
        val resid = p.df
          .withColumn("r", col("value") - lag(col("value"), 1).over(p.w))
          .filter(col("r").isNotNull)
        r6(Evaluation.rankResiduals(resid, Seq("user_id"), "r"))
    },

    "e_rank_fva" -> Q(
      s"""WITH j AS (SELECT user_id, value AS a, lag(value) OVER ($W) AS p,
                            lag(value, 7) OVER ($W) AS pb FROM events),
              s AS (SELECT user_id, sum(abs(p - a))/sum(p + a) AS m FROM j
                    WHERE p IS NOT NULL GROUP BY user_id),
              sb AS (SELECT user_id, sum(abs(pb - a))/sum(pb + a) AS mb FROM j
                     WHERE pb IS NOT NULL GROUP BY user_id)
          SELECT s.user_id, round(sb.mb - s.m,6) AS uplift, (sb.mb - s.m) > 0 AS has_uplift
          FROM s LEFT JOIN sb ON s.user_id = sb.user_id""") {
      (s, dir) =>
        val p = Panel.events(s, dir)
        def aligned(lagN: Int) = p.df
          .withColumn("p", lag(col("value"), lagN).over(p.w))
          .filter(col("p").isNotNull)
          .withColumn("a", col("value"))
        val smape = (df: org.apache.spark.sql.DataFrame, e: Seq[String]) =>
          df.groupBy(e.map(col): _*)
            .agg(try_divide(sum(abs(col("p") - col("a"))), sum(col("p") + col("a"))).as("m"))
        r6(Evaluation.rankFva(aligned(1), aligned(7), Seq("user_id"), smape, "m")
          .select("user_id", "uplift", "has_uplift"))
    },

    // ----- seasonality: holidays (fixed-date set, SQL-expressible) -----
    "s_holiday_effects" -> Q(
      """SELECT event_id,
           CASE WHEN month(ts) = 1 AND day(ts) = 1 THEN 'new_years_day'
                WHEN month(ts) = 7 AND day(ts) = 4 THEN 'independence_day'
                WHEN month(ts) = 12 AND day(ts) = 25 THEN 'christmas_day'
           END AS holiday
         FROM events""") {
      (s, dir) =>
        import s.implicits._
        val ev = tbl(s, dir, "events")
        // driver-generated fixed-date holiday table (calendar.py:57
        // semantics: a (date,label) lookup broadcast-joined on date)
        val years = 2015 to 2030
        val holidays = years.flatMap { y =>
          Seq((s"$y-01-01", "new_years_day"), (s"$y-07-04", "independence_day"),
            (s"$y-12-25", "christmas_day"))
        }.toDF("date_str", "holiday")
          .select(to_date(col("date_str")).as("date"), col("holiday"))
        Seasonality.addHolidayEffects(ev, "ts", holidays)
          .select("event_id", "holiday")
    },

    // add_holiday_effects from ISO country codes (calendar.py:57-106):
    // the rule-generated tables (fixed + Easter-computus dates,
    // HolidayCalendar) emitted as VALUES on the oracle side — the
    // generator itself is pinned to known dates in HolidayCalendarSpec;
    // this entry checks the per-code broadcast left-join plumbing and
    // label normalization over real data
    "s_holiday_codes" -> Q({
      // the oracle's VALUES span 2000-2040 while the Spark side
      // derives its span from the data — the closure below asserts the
      // data stays inside the oracle span so a regenerated corpus
      // outside it fails LOUD instead of silently diverging
      def values(code: String) = HolidayCalendar.holidays(code, 2000 to 2040)
        .map { case (d, l) => s"('$d'::DATE, '$l')" }.mkString(", ")
      s"""WITH h_us(d, l) AS (SELECT * FROM (VALUES ${values("US")})),
              h_de(d, l) AS (SELECT * FROM (VALUES ${values("DE")}))
          SELECT e.event_id, us.l AS "holiday__US", de.l AS "holiday__DE"
          FROM events e
          LEFT JOIN h_us us ON CAST(e.ts AS DATE) = us.d
          LEFT JOIN h_de de ON CAST(e.ts AS DATE) = de.d"""
    }) { (s, dir) =>
      val ev = tbl(s, dir, "events")
      val yr = ev.agg(min(year(col("ts"))), max(year(col("ts")))).head()
      require(yr.getInt(0) >= 2000 && yr.getInt(1) <= 2040,
        s"events span ${yr.getInt(0)}-${yr.getInt(1)} exceeds the oracle's " +
          "2000-2040 holiday VALUES — widen both sides together")
      HolidayCalendar.addHolidayEffectsFromCodes(ev, "ts", Seq("US", "DE"))
        .select("event_id", "holiday__US", "holiday__DE")
    },

    // ----- conversion: long↔wide (conversion.py:7-93) -----
    "conv_long_to_wide" -> Q(
      """SELECT user_id,
           round(sum(CASE WHEN dayofweek(ts) = 1 THEN value ELSE CAST(0 AS DOUBLE) END),6) AS mon,
           round(sum(CASE WHEN dayofweek(ts) = 2 THEN value ELSE CAST(0 AS DOUBLE) END),6) AS tue,
           round(sum(CASE WHEN dayofweek(ts) = 3 THEN value ELSE CAST(0 AS DOUBLE) END),6) AS wed
         FROM events GROUP BY user_id""") {
      (s, dir) =>
        // groupBy().pivot() with explicit category list (the fit
        // artifact in one_hot_encode terms) → no extra distinct scan
        val d = tbl(s, dir, "events")
          .withColumn("__dow", dayofweek(col("ts")))  // Spark: 1=Sunday
          .withColumn("__dn",
            when(col("__dow") === 2, "mon").when(col("__dow") === 3, "tue")
              .when(col("__dow") === 4, "wed"))
          .filter(col("__dn").isNotNull)
        val wide = d.groupBy("user_id").pivot("__dn", Seq("mon", "tue", "wed"))
          .agg(sum(col("value")))
        r6(tbl(s, dir, "events").select("user_id").distinct()
          .join(wide, Seq("user_id"), "left")
          .na.fill(0.0, Seq("mon", "tue", "wed")))
    },

    "conv_wide_to_long" -> Q(
      """SELECT o_orderkey AS key, 'price' AS variable, round(o_totalprice,6) AS value FROM orders
         UNION ALL
         SELECT o_orderkey AS key, 'cust' AS variable, CAST(o_custkey AS DOUBLE) AS value
         FROM orders""") {
      (s, dir) =>
        val o = tbl(s, dir, "orders")
          .select(col("o_orderkey").as("key"), col("o_totalprice").cast("double").as("price"),
            col("o_custkey").cast("double").as("cust"))
        r6(o.unpivot(Array(col("key")), Array(col("price"), col("cust")), "variable", "value"))
    },

    // ----- thresholded streaks (feature_extractors.py:1805-1871) -----
    "f_longest_streak_above" -> Q(
      s"""WITH d AS (SELECT user_id, value - lag(value) OVER ($W) AS d,
                            row_number() OVER ($W) AS rn FROM events),
              c AS (SELECT user_id, rn, CASE WHEN d >= 0.5 THEN 1 ELSE 0 END AS cond FROM d
                    WHERE d IS NOT NULL),
              s AS (SELECT user_id, cond, rn - row_number()
                      OVER (PARTITION BY user_id, cond ORDER BY rn) AS grp FROM c)
          SELECT user_id, CAST(coalesce(max(CASE WHEN cond = 1 THEN cnt END), 0) AS BIGINT)
                   AS longest_streak_above
          FROM (SELECT user_id, cond, grp, count(*) AS cnt FROM s GROUP BY user_id, cond, grp)
          GROUP BY user_id""") {
      (s, dir) => streakQuery(s, dir, above = true, threshold = 0.5, "longest_streak_above")
    },

    "f_longest_streak_below" -> Q(
      s"""WITH d AS (SELECT user_id, value - lag(value) OVER ($W) AS d,
                            row_number() OVER ($W) AS rn FROM events),
              c AS (SELECT user_id, rn, CASE WHEN d <= -0.5 THEN 1 ELSE 0 END AS cond FROM d
                    WHERE d IS NOT NULL),
              s AS (SELECT user_id, cond, rn - row_number()
                      OVER (PARTITION BY user_id, cond ORDER BY rn) AS grp FROM c)
          SELECT user_id, CAST(coalesce(max(CASE WHEN cond = 1 THEN cnt END), 0) AS BIGINT)
                   AS longest_streak_below
          FROM (SELECT user_id, cond, grp, count(*) AS cnt FROM s GROUP BY user_id, cond, grp)
          GROUP BY user_id""") {
      (s, dir) => streakQuery(s, dir, above = false, threshold = -0.5, "longest_streak_below")
    },

    // find_peaks_cwt ridge walk (Kernels.numberCwtPeaks) replicated in
    // SQL: the 5-row Ricker CWT matrix + per-row relative maxima are
    // MATERIALIZED CTEs, then the sequential ridge-linking loop runs as
    // a recursive CTE over an event queue — one -1 sentinel per width
    // row (gap++ on all active ridges), the row's maxima columns in
    // ascending order (list_position first-min = the kernel's minBy
    // buffer-order tie-break; maxDist is 1.0 for every width ≤ 4 so
    // the candidate test is |c−head| ≤ 1), and a -2 sentinel (dead
    // ridges with gap > 2 move to finished). The final length/SNR
    // filter joins back to the CWT rows; counts are integers → exact.
    "f_number_cwt_peaks" -> {
      val ridgeT = "STRUCT(hc BIGINT, hr BIGINT, len BIGINT, gap BIGINT)"
      // np.convolve(x, ricker(min(10w,n), w).reverse, 'same') at all
      // positions — same windowed-sum expansion as f_cwt_coefficients,
      // m/st let-bound via the single-element-list lambda trick
      val row =
        """list_transform([LEAST(10*w, n)], m ->
          list_transform(range(0, n), p ->
            list_sum(list_transform(range(GREATEST(0, p + (m-1)//2 - m + 1),
                                          LEAST(n - 1, p + (m-1)//2) + 1), i ->
              v[i+1] * ((2.0/(sqrt(3.0*w)*pow(pi(),0.25)))
                * (1 - pow((m - 1 - p - (m-1)//2 + i) - (m-1)/2.0, 2)/(w*w))
                * exp(-pow((m - 1 - p - (m-1)//2 + i) - (m-1)/2.0, 2)/(2.0*w*w)))))))[1]"""
      def relmax(r: String) =
        s"list_filter(range(1, n-1), i -> $r[i+1] > $r[i] AND $r[i+1] > $r[i+2])"
      val dists = "list_transform(act, a -> abs(q[k+1].c - a.hc))"
      Q(
        s"""WITH RECURSIVE xs AS (
            SELECT user_id, list(value ORDER BY ts, event_id) AS v,
                   len(list(value)) AS n FROM events GROUP BY user_id),
          cw AS MATERIALIZED (
            SELECT user_id, n, list_transform([1,2,3,4,5], w -> $row) AS cwt FROM xs),
          qs AS MATERIALIZED (
            SELECT user_id, n, cwt,
              list_transform(${relmax("cwt[5]")},
                c -> {'hc': c, 'hr': CAST(4 AS BIGINT), 'len': CAST(1 AS BIGINT), 'gap': CAST(0 AS BIGINT)}) AS act0,
              flatten(list_transform([3,2,1,0], r -> list_concat(list_concat(
                [{'c': CAST(-1 AS BIGINT), 'r': CAST(r AS BIGINT)}],
                list_transform(${relmax("cwt[r+1]")}, c -> {'c': c, 'r': CAST(r AS BIGINT)})),
                [{'c': CAST(-2 AS BIGINT), 'r': CAST(r AS BIGINT)}]))) AS q
            FROM cw),
          st AS (
            SELECT user_id, n, q, 0 AS k, act0 AS act, CAST([] AS $ridgeT[]) AS fin FROM qs
            UNION ALL
            SELECT user_id, n, q, k + 1,
              CASE
                WHEN q[k+1].c = -1 THEN list_transform(act, a ->
                  {'hc': a.hc, 'hr': a.hr, 'len': a.len, 'gap': a.gap + 1})
                WHEN q[k+1].c = -2 THEN list_filter(act, a -> a.gap <= 2)
                WHEN list_min(list_filter($dists, d -> d <= 1)) IS NULL
                  THEN list_append(act, {'hc': q[k+1].c, 'hr': q[k+1].r,
                                         'len': CAST(1 AS BIGINT), 'gap': CAST(0 AS BIGINT)})
                ELSE list_transform([list_position($dists, list_min(list_filter($dists, d -> d <= 1)))], ix ->
                  list_concat(list_concat(act[1:ix-1],
                    [{'hc': q[k+1].c, 'hr': q[k+1].r, 'len': act[ix].len + 1, 'gap': CAST(0 AS BIGINT)}]),
                    act[ix+1:len(act)]))[1]
              END,
              CASE WHEN q[k+1].c = -2 THEN list_concat(fin, list_filter(act, a -> a.gap > 2)) ELSE fin END
            FROM st WHERE k < len(q)),
          res AS (
            SELECT s.user_id,
              len(list_filter(list_concat(s.fin, s.act), g ->
                g.len >= 2 AND
                list_transform([CAST(ceil(s.n/20.0) AS BIGINT)], nw ->
                  list_transform([list_sort(list_transform(
                      range(GREATEST(0, g.hc - nw), LEAST(s.n, g.hc + nw + 1)), i -> abs(c.cwt[1][i+1])))], win ->
                    abs(c.cwt[g.hr+1][g.hc+1]) /
                      GREATEST(win[CAST(round(0.10 * (len(win)-1)) AS BIGINT) + 1], 1e-12))[1])[1] >= 1.0
              )) AS cnt
            FROM st s JOIN cw c USING (user_id) WHERE s.k = len(s.q))
          SELECT user_id, round(CAST(cnt AS DOUBLE), 6) AS number_cwt_peaks FROM res""") { (s, dir) =>
        r6(graft.functions.FeatureAggs.over(ev(s, dir),
          graft.functions.FeatureAggs.numberCwtPeaks(5), "number_cwt_peaks"))
      }
    },

    // per-entity OLS of y on [1, cos1, sin1, cos2, sin2] replicated
    // from the same normal-equation moments, solved by an unrolled
    // 5x5 Cholesky (the system is SPD); rd6 absorbs the sub-ULP
    // drift between the engines' sum orders and solve pivoting
    "p_deseasonalize_fourier" -> Q(
      s"""WITH f AS (
            SELECT user_id, event_id, value,
                   cos(2 * pi() * 1 * coef) AS c1, sin(2 * pi() * 1 * coef) AS s1,
                   cos(2 * pi() * 2 * coef) AS c2, sin(2 * pi() * 2 * coef) AS s2
            FROM (SELECT user_id, event_id, value,
                         ((row_number() OVER ($W) - 1) % 7)::DOUBLE / 7 AS coef
                  FROM events)),
          mom AS (
            SELECT user_id, ${olsMomentsSql(Seq("1.0", "c1", "s1", "c2", "s2"), "value")}
            FROM f GROUP BY user_id),
          ${cholSolveSql(5, "mom")},
          sol AS (SELECT * FROM ${cholSolveLast(5)})
          SELECT f.user_id, f.event_id,
                 round(value - (1.0*a_0 + c1*a_1 + s1*a_2 + c2*a_3 + s2*a_4), 6) AS value
          FROM f JOIN sol ON f.user_id = sol.user_id""") { (s, dir) =>
      val (resid, _) = Seasonality.deseasonalizeFourier(ev(s, dir), sp = 7, k = 2)
      r6(resid.select(col("user_id"), col("event_id"), col("value")))
    },

    // ----- forecasters: trees / censored / direct -----
    // GBT-family parity path: the deterministic depth-2 histogram
    // boost (TreeBoost) with every round's two conditional-aggregation
    // passes, three argmax split picks and mean-leaf values replicated
    // step-exact in SQL. The full-depth MLlib ensemble (GbtForecaster)
    // stays the production alternative, spec-checked in
    // ConformalSpec/ModelIOSpec — its tree internals are out of SQL
    // reach by nature.
    "fc_gbt" -> Q(
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${OlsBacktestSql.fullTree2("gt", 7, fh = 3, rounds = 5, bins = 8, eta = 0.3)}
          SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END, 6) AS value
          FROM fp_gt CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)""") { (s, dir) =>
      val p = ev(s, dir)
      r6(TreeBoost.fit(p, lags = 7, freq = "1d", rounds = 5, bins = 8, eta = 0.3)
        .predict(p, "ts", fh = 3))
    },

    // label-constraint objectives (lightgbm.py:103's objective
    // options): Poisson deviance gradient boosting with a log link —
    // base score ln(ȳ), pseudo-residual y·exp(−F) − 1 (the per-row
    // Newton ratio), prediction exp(F) rolled into the recursion —
    // same deterministic histogram machinery, every round and every
    // exp stage replicated in SQL
    "fc_gbt_poisson" -> Q(
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${OlsBacktestSql.fullTree2("gpo", 7, fh = 3, rounds = 3, bins = 4,
             eta = 0.3, objective = "poisson")}
          SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END, 6) AS value
          FROM fp_gpo CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)""") { (s, dir) =>
      val p = ev(s, dir)
      r6(TreeBoost.fit(p, lags = 7, freq = "1d", rounds = 3, bins = 4,
        eta = 0.3, objective = "poisson").predict(p, "ts", fh = 3))
    },

    // gamma deviance gradient (log link): pseudo-residual
    // 1 − exp(F)/y (the per-row Newton ratio) — the
    // strictly-positive-target objective
    "fc_gbt_gamma" -> Q(
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${OlsBacktestSql.fullTree2("gga", 7, fh = 3, rounds = 3, bins = 4,
             eta = 0.3, objective = "gamma")}
          SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END, 6) AS value
          FROM fp_gga CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)""") { (s, dir) =>
      val p = ev(s, dir)
      r6(TreeBoost.fit(p, lags = 7, freq = "1d", rounds = 3, bins = 4,
        eta = 0.3, objective = "gamma").predict(p, "ts", fh = 3))
    },

    // tweedie deviance gradient (log link, variance power p = 1.5 —
    // lightgbm.py:39, xgboost.py:25 reg:tweedie): per-row Newton
    // ratio (y − e^F)/((p−1)·y + (2−p)·e^F) — the poisson↔gamma
    // interpolation, the standard retail/demand objective; zero
    // targets are native (denominator (2−p)·e^F > 0)
    "fc_gbt_tweedie" -> Q(
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${OlsBacktestSql.fullTree2("gtw", 7, fh = 3, rounds = 3, bins = 4,
             eta = 0.3, objective = "tweedie", objParam = 1.5)}
          SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END, 6) AS value
          FROM fp_gtw CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)""") { (s, dir) =>
      val p = ev(s, dir)
      r6(TreeBoost.fit(p, lags = 7, freq = "1d", rounds = 3, bins = 4,
        eta = 0.3, objective = "tweedie", objParam = 1.5).predict(p, "ts", fh = 3))
    },

    // quantile objective at α = 0.9 (the reference maps alpha →
    // objective="quantile", lightgbm.py:25-27): splits on the pinball
    // gradient, LightGBM-style leaf RENEWAL η·Q_α(y − F | leaf) via
    // quantile_cont ≡ Spark percentile (bit-identical interpolation),
    // base score Q_α(y) — every round's three argmax picks plus the
    // pass-C renewal quantiles replicated in SQL
    "fc_gbt_quantile" -> Q(
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${OlsBacktestSql.fullTree2("gqt", 7, fh = 3, rounds = 3, bins = 4,
             eta = 0.3, objective = "quantile", objParam = 0.9)}
          SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END, 6) AS value
          FROM fp_gqt CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)""") { (s, dir) =>
      val p = ev(s, dir)
      r6(TreeBoost.fit(p, lags = 7, freq = "1d", rounds = 3, bins = 4,
        eta = 0.3, objective = "quantile", objParam = 0.9).predict(p, "ts", fh = 3))
    },

    // the reference's label clamp as a compat mode
    // (_enforce_label_constraint, lightgbm.py:30-47: gamma y≤0→1):
    // the target is shifted zero-heavy (value − 50, ~half the rows
    // fall ≤ 0), the clamp rewrites those to 1 BEFORE the lag
    // reduction, and the predict tail rolls from the clamped series —
    // the default (labelClamp=false) null-gradient mode on the same
    // target is contrasted in AutoForecastSpec
    "fc_gbt_gamma_clamp" -> Q(
      s"""WITH ${OlsBacktestSql.lagdCte(7, valueExpr =
             "CASE WHEN value - 50.0 <= 0 THEN 1.0 ELSE value - 50.0 END")},
          ${OlsBacktestSql.fullTree2("ggc", 7, fh = 3, rounds = 3, bins = 4,
             eta = 0.3, objective = "gamma")}
          SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END, 6) AS value
          FROM fp_ggc CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)""") { (s, dir) =>
      val p0 = ev(s, dir)
      val p = p0.copy(df = p0.df.withColumn("value", col("value") - lit(50.0)))
      r6(TreeBoost.fit(p, lags = 7, freq = "1d", rounds = 3, bins = 4,
        eta = 0.3, objective = "gamma", labelClamp = true).predict(p, "ts", fh = 3))
    },

    // sample-weighted boosting (the reference GBT family's
    // weight_transform hook, lightgbm.py:50 / _regressors.py:19-42):
    // weighted base score Σwy/Σw, residual sums Σw·r, node sizes Σw —
    // every round's weighted conditional-aggregation passes and argmax
    // picks replicated in SQL. Inverse-age recency weighting (division
    // only — pow() is not bitwise-portable across engines).
    "fc_gbt_weighted" -> Q(
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${OlsBacktestSql.fullTree2("gwt", 7, fh = 3, rounds = 3, bins = 4,
             eta = 0.3, weight = "(1.0 / (1.0 + (cnt - rn) / 14.0))")}
          SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END, 6) AS value
          FROM fp_gwt CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)""") { (s, dir) =>
      val p = ev(s, dir)
      r6(TreeBoost.fit(p, lags = 7, freq = "1d", rounds = 3, bins = 4, eta = 0.3,
        weight = Some((rn, cnt) => lit(1.0) / (lit(1.0) + (cnt - rn) / lit(14.0))))
        .predict(p, "ts", fh = 3))
    },

    // weighted quantile boosting — the weight_transform hook crossed
    // with the quantile objective (the one GBT-family asymmetry left
    // after round 10): splits argmax the weighted pinball-gradient
    // sums, base score and pass-C leaf renewal use the
    // cumulative-weight interpolated quantile
    // ([[graft.functions.WeightedQuantile]]'s rule — quantile_cont's
    // positions generalized to fractional weights via exact integer
    // MICROWEIGHT prefix sums, which is what keeps the discontinuous
    // pinball gradient bit-stable across engines), replicated in the
    // oracle with windowed BIGINT prefix sums over the identical
    // (value, microweight) sort order
    "fc_gbt_quantile_weighted" -> Q(
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${OlsBacktestSql.fullTree2("gqw", 7, fh = 3, rounds = 3, bins = 4,
             eta = 0.3, objective = "quantile", objParam = 0.9,
             weight = "(1.0 / (1.0 + (cnt - rn) / 14.0))")}
          SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END, 6) AS value
          FROM fp_gqw CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)""") { (s, dir) =>
      val p = ev(s, dir)
      r6(TreeBoost.fit(p, lags = 7, freq = "1d", rounds = 3, bins = 4, eta = 0.3,
        objective = "quantile", objParam = 0.9,
        weight = Some((rn, cnt) => lit(1.0) / (lit(1.0) + (cnt - rn) / lit(14.0))))
        .predict(p, "ts", fh = 3))
    },

    // auto_lightgbm's lag sweep (automl.py:191-229) over the
    // deterministic depth-2 boost: each candidate's expanding-window
    // backtest (full tree fit per prefix + 10-step recursion) scores a
    // mean per-entity SMAPE; argmin (first-wins ties, hence <=) picks
    // which full-data fit's predictions to emit — the whole sweep
    // replicated in SQL like fc_auto_linear
    "fc_auto_gbt" -> Q({
      // testSize 5 (was 10): halves every backtest chain's unrolled
      // horizon stages — same oracle-cost rationale as
      // fc_auto_search_gbt below; the lag-sweep protocol is unchanged
      val bts = Seq(3, 7).map(l => OlsBacktestSql.backtestTree2(s"g$l", l,
        testSize = 5, nSplits = 2, stepSize = 5, rounds = 3, bins = 4, eta = 0.3))
      val scores = Seq(3, 7).map(l =>
        OlsBacktestSql.meanSmapeCte(s"g$l", s"g$l"))
      val fulls = Seq(3, 7).map(l =>
        OlsBacktestSql.fullTree2(s"f$l", l, fh = 3, rounds = 3, bins = 4, eta = 0.3))
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${bts.mkString(", ")},
          ${scores.mkString(", ")},
          ${fulls.mkString(", ")},
          ${OlsBacktestSql.autoPick2Sql("g3", "g7", "f3", "f7", 3, 7)}"""
    }) { (s, dir) =>
      val p = ev(s, dir)
      val (lags, _, model) = AutoForecast.autoTreeBoost(p, "ts", "1d",
        lagGrid = Seq(3, 7), rounds = 3, bins = 4, eta = 0.3, testSize = 5,
        nSplits = 2)
      r6(model.predict(p, "ts", fh = 3).withColumn("chosen_lags", lit(lags).cast("long")))
    },

    // ADAPTIVE hyperparameter search — FLAML-faithful CFO local walk
    // (automl.py:191-229 wires the spaces; CFO starts at the low-cost
    // config and moves to a seeded neighbor on improvement): 5
    // evaluations over the (lags, alpha, l1_ratio) lattice from
    // (3, 0.01, 0.0), each scored on the full 2-split backtest plan.
    // The oracle is built from the SAME Scala walk machinery
    // (cfoReachable): one shared 2-split backtest chain per REACHABLE
    // config (ridge -> Cholesky, l1 -> recursive CD), the walk's
    // incumbent chain replayed as CASE CTEs over the same score
    // comparisons, the realized final incumbent's full-data refit
    // emitted.
    "fc_auto_search" -> Q({
      val steps = 5
      val (configs, trans) = AutoForecast.cfoReachable("lin", 42L, steps,
        AutoForecast.dimsLinear)
      val cands = configs.map(AutoForecast.decodeLinear)
      val bts = cands.zipWithIndex.map { case ((l, a, l1), i) =>
        if (l1 == 0.0)
          OlsBacktestSql.backtestLinear(s"as$i", l, testSize = 5, nSplits = 2,
            stepSize = 5, ridge = a)
        else OlsBacktestSql.backtestElasticNet(s"as$i", l, testSize = 5,
          nSplits = 2, stepSize = 5, alpha = a, l1Ratio = l1, sweeps = 6)
      }
      val fulls = cands.zipWithIndex.map { case ((l, a, l1), i) =>
        if (l1 == 0.0) OlsBacktestSql.fullLinear(s"asf$i", l, fh = 3, ridge = a)
        else OlsBacktestSql.fullElasticNet(s"asf$i", l, fh = 3, alpha = a,
          l1Ratio = l1, sweeps = 6)
      }
      val scs = cands.indices.map(i => OlsBacktestSql.meanSmapeCteMat(s"as$i", s"as$i"))
      val walk = OlsBacktestSql.cfoWalkCtes("wlk", trans, i => s"s_as$i")
      val predRows = cands.indices.map(i =>
        s"SELECT user_id, cutoff, $i AS i, p1, p2, p3 FROM fp_asf$i")
        .mkString(" UNION ALL ")
      val chosenMeta = Seq(
        ("chosen_lags", cands.map(_._1.toString), "BIGINT"),
        ("chosen_alpha", cands.map(_._2.toString), "DOUBLE"),
        ("chosen_l1", cands.map(_._3.toString), "DOUBLE")).map {
        case (name, vals, typ) =>
          val cases = vals.zipWithIndex
            .map { case (v, i) => s"WHEN $i THEN $v" }.mkString(" ")
          s"CAST(CASE chosen $cases END AS $typ) AS $name"
      }
      // the shared lag CTE must cover the WIDEST reachable candidate
      // (the r14 lattice reaches past the old fixed 7 at other seeds)
      val maxLag = math.max(7, cands.map(_._1).max)
      s"""WITH ${OlsBacktestSql.lagdCte(maxLag)},
          ${bts.mkString(", ")},
          ${scs.mkString(", ")},
          $walk,
          pick AS (SELECT inc AS chosen FROM wlk${trans.length}),
          ${fulls.mkString(", ")},
          apreds AS ($predRows)
          SELECT p.user_id, CAST(p.cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p.p1 WHEN 2 THEN p.p2 ELSE p.p3 END, 6) AS value,
                 ${chosenMeta.mkString(", ")}
          FROM apreds p JOIN pick ON p.i = pick.chosen
          CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)"""
    }) { (s, dir) =>
      val p = ev(s, dir)
      val (_, (lags, alpha, l1), _, model) = AutoForecast.autoSearchRegularized(
        p, "ts", "1d", seed = 42L, nCandidates = 5, testSize = 5, nSplits = 2,
        stepSize = 5, cdSweeps = 6)
      r6(model.predict(p, "ts", fh = 3)
        .withColumn("chosen_lags", lit(lags).cast("long"))
        .withColumn("chosen_alpha", lit(alpha))
        .withColumn("chosen_l1", lit(l1)))
    },

    // ADAPTIVE search, GBT arm — the CFO walk over TreeBoost's
    // (lags, rounds, bins, eta) lattice from the low-cost corner
    // (3, 2, 3, 0.3): 3 evaluations (each candidate is a complete
    // step-exact tree2 chain x3 — 2 backtest splits + full fit — and
    // DuckDB's planner cost is superlinear in the unrolled stanza
    // count; the round-9 6-candidate replica was 1 MB of SQL / 154 s
    // at sf0.01, which starved the driver's whole correctness gate).
    // Same walk protocol as fc_auto_search: seeded neighbor proposals,
    // move on strict improvement, the realized incumbent's full-data
    // refit emitted.
    "fc_auto_search_gbt" -> Q({
      val steps = 3
      val (configs, trans) = AutoForecast.cfoReachable("gbt", 42L, steps,
        AutoForecast.dimsGbt)
      val cands = configs.map(AutoForecast.decodeGbt)
      val bts = cands.zipWithIndex.map { case ((l, r, b, e), i) =>
        OlsBacktestSql.backtestTree2(s"asg$i", l, testSize = 3, nSplits = 2,
          stepSize = 5, rounds = r, bins = b, eta = e)
      }
      val fulls = cands.zipWithIndex.map { case ((l, r, b, e), i) =>
        OlsBacktestSql.fullTree2(s"asgf$i", l, fh = 3, rounds = r, bins = b,
          eta = e)
      }
      val scs = cands.indices.map(i => OlsBacktestSql.meanSmapeCteMat(s"asg$i", s"asg$i"))
      val walk = OlsBacktestSql.cfoWalkCtes("gwlk", trans, i => s"s_asg$i")
      val predRows = cands.indices.map(i =>
        s"SELECT user_id, cutoff, $i AS i, p1, p2, p3 FROM fp_asgf$i")
        .mkString(" UNION ALL ")
      val chosenMeta = Seq(
        ("chosen_lags", cands.map(_._1.toString), "BIGINT"),
        ("chosen_rounds", cands.map(_._2.toString), "BIGINT"),
        ("chosen_bins", cands.map(_._3.toString), "BIGINT"),
        ("chosen_eta", cands.map(_._4.toString), "DOUBLE")).map {
        case (name, vals, typ) =>
          val cases = vals.zipWithIndex
            .map { case (v, i) => s"WHEN $i THEN $v" }.mkString(" ")
          s"CAST(CASE chosen $cases END AS $typ) AS $name"
      }
      val maxLag = math.max(7, cands.map(_._1).max)
      s"""WITH ${OlsBacktestSql.lagdCte(maxLag)},
          ${bts.mkString(", ")},
          ${scs.mkString(", ")},
          $walk,
          gpick AS (SELECT inc AS chosen FROM gwlk${trans.length}),
          ${fulls.mkString(", ")},
          gapreds AS ($predRows)
          SELECT p.user_id, CAST(p.cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p.p1 WHEN 2 THEN p.p2 ELSE p.p3 END, 6) AS value,
                 ${chosenMeta.mkString(", ")}
          FROM gapreds p JOIN gpick ON p.i = gpick.chosen
          CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)"""
    }) { (s, dir) =>
      val p = ev(s, dir)
      val (_, (lags, rounds, bins, eta), _, model) = AutoForecast.autoSearchTreeBoost(
        p, "ts", "1d", seed = 42L, nCandidates = 3, testSize = 3, nSplits = 2,
        stepSize = 5)
      r6(model.predict(p, "ts", fh = 3)
        .withColumn("chosen_lags", lit(lags).cast("long"))
        .withColumn("chosen_rounds", lit(rounds).cast("long"))
        .withColumn("chosen_bins", lit(bins).cast("long"))
        .withColumn("chosen_eta", lit(eta)))
    },

    // auto_lasso (automl.py:64-96): lag sweep where every CV-split fit
    // is the full 15-sweep cyclic CD on the slice's prefix moments —
    // backtests, per-entity SMAPE pooling, argmin, and both full-data
    // refits replicated in SQL
    "fc_auto_lasso" -> Q({
      val bts = Seq(3, 7).map(l => OlsBacktestSql.backtestElasticNet(s"al$l", l,
        testSize = 10, nSplits = 2, stepSize = 5, alpha = 0.5, l1Ratio = 1.0, sweeps = 15))
      val scores = Seq(3, 7).map(l =>
        OlsBacktestSql.meanSmapeCte(s"al$l", s"al$l"))
      val fulls = Seq(3, 7).map(l => OlsBacktestSql.fullElasticNet(s"alf$l", l,
        fh = 3, alpha = 0.5, l1Ratio = 1.0, sweeps = 15))
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${bts.mkString(", ")},
          ${scores.mkString(", ")},
          ${fulls.mkString(", ")},
          ${OlsBacktestSql.autoPick2Sql("al3", "al7", "alf3", "alf7", 3, 7)}"""
    }) { (s, dir) =>
      val p = ev(s, dir)
      val (lags, _, model) = AutoForecast.autoLasso(p, "ts", "1d",
        lagGrid = Seq(3, 7), regParam = 0.5, nSplits = 2, cdSweeps = 15)
      r6(model.predict(p, "ts", fh = 3).withColumn("chosen_lags", lit(lags).cast("long")))
    },

    // auto_elastic_net: the same sweep with the mixed L1/L2 penalty
    "fc_auto_elastic_net" -> Q({
      val bts = Seq(3, 7).map(l => OlsBacktestSql.backtestElasticNet(s"ae$l", l,
        testSize = 10, nSplits = 2, stepSize = 5, alpha = 0.5, l1Ratio = 0.5, sweeps = 15))
      val scores = Seq(3, 7).map(l =>
        OlsBacktestSql.meanSmapeCte(s"ae$l", s"ae$l"))
      val fulls = Seq(3, 7).map(l => OlsBacktestSql.fullElasticNet(s"aef$l", l,
        fh = 3, alpha = 0.5, l1Ratio = 0.5, sweeps = 15))
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${bts.mkString(", ")},
          ${scores.mkString(", ")},
          ${fulls.mkString(", ")},
          ${OlsBacktestSql.autoPick2Sql("ae3", "ae7", "aef3", "aef7", 3, 7)}"""
    }) { (s, dir) =>
      val p = ev(s, dir)
      val (lags, _, model) = AutoForecast.autoElasticNet(p, "ts", "1d",
        lagGrid = Seq(3, 7), regParam = 0.5, l1Ratio = 0.5, nSplits = 2, cdSweeps = 15)
      r6(model.predict(p, "ts", fh = 3).withColumn("chosen_lags", lit(lags).cast("long")))
    },

    // auto_knn (automl.py): k sweep over expanding-window CV with the
    // exact one-step KNN — per split, the query tail at the prefix
    // cutoff scans the prefix's complete lag rows (the slice's lag
    // matrix IS the prefix filter), horizon-1 SMAPE pooled per entity,
    // argmin k (first-wins), winner served from one shared full-data
    // distance pass
    "fc_auto_knn" -> Q({
      val dist = (1 to 7).map(j => s"(t.f$j - q.q$j) * (t.f$j - q.q$j)")
        .mkString("(", " + ", ")")
      val qCols = "value AS q1, f1 AS q2, f2 AS q3, f3 AS q4, f4 AS q5, f5 AS q6, f6 AS q7"
      val splits = Seq(0 -> 15, 1 -> 10).map { case (i, c) =>
        s"""kq$i AS (SELECT user_id, $qCols FROM lagd
              WHERE rn = cnt - $c AND f6 IS NOT NULL),
            kt$i AS (SELECT value AS label, f1, f2, f3, f4, f5, f6, f7
              FROM lagd WHERE f7 IS NOT NULL AND rn <= cnt - $c),
            kd$i AS MATERIALIZED (
              SELECT q.user_id, t.label,
                     row_number() OVER (PARTITION BY q.user_id ORDER BY $dist) AS nn
              FROM kq$i q CROSS JOIN kt$i t),
            kp$i AS (SELECT user_id,
                       avg(CASE WHEN nn <= 1 THEN label END) AS pk1,
                       avg(CASE WHEN nn <= 5 THEN label END) AS pk5
                     FROM kd$i WHERE nn <= 5 GROUP BY user_id),
            ka$i AS (SELECT user_id, value AS actual FROM lagd WHERE rn = cnt - $c + 1)"""
      }
      def score(k: Int) =
        s"""sc_k$k AS (SELECT avg(smape) AS s FROM (
              SELECT user_id, sum(abs(pred - actual)) / sum(pred + actual) AS smape
              FROM (SELECT a.user_id, p.pk$k AS pred, a.actual
                    FROM kp0 p JOIN ka0 a USING (user_id)
                    UNION ALL
                    SELECT a.user_id, p.pk$k AS pred, a.actual
                    FROM kp1 p JOIN ka1 a USING (user_id))
              GROUP BY user_id))"""
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${splits.mkString(", ")},
          ${score(1)}, ${score(5)},
          pick AS (SELECT CASE WHEN sc_k1.s <= sc_k5.s THEN 1 ELSE 5 END AS chosen
                   FROM sc_k1 CROSS JOIN sc_k5),
          fq AS (SELECT user_id, ts AS cutoff, $qCols FROM (
                   SELECT *, row_number() OVER (PARTITION BY user_id
                     ORDER BY ts DESC, event_id DESC) AS rd FROM lagd)
                 WHERE rd = 1 AND f6 IS NOT NULL),
          ft AS (SELECT value AS label, f1, f2, f3, f4, f5, f6, f7
                 FROM lagd WHERE f7 IS NOT NULL),
          fd AS MATERIALIZED (
            SELECT q.user_id, q.cutoff, t.label,
                   row_number() OVER (PARTITION BY q.user_id ORDER BY $dist) AS nn
            FROM fq q CROSS JOIN ft t),
          fall AS (SELECT user_id, cutoff,
                     avg(CASE WHEN nn <= 1 THEN label END) AS pk1,
                     avg(CASE WHEN nn <= 5 THEN label END) AS pk5
                   FROM fd WHERE nn <= 5 GROUP BY user_id, cutoff)
          SELECT user_id, CAST(cutoff + INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE WHEN chosen = 1 THEN pk1 ELSE pk5 END, 6) AS value,
                 chosen::BIGINT AS chosen_k
          FROM fall CROSS JOIN pick"""
    }) { (s, dir) =>
      val p = ev(s, dir)
      val (bestK, _) = AutoForecast.autoKnn(p, "ts", "1d", lags = 7,
        kGrid = Seq(1, 5), testSize = 10, nSplits = 2, stepSize = 5)
      r6(KnnForecaster.predictOneStep(p, "ts", "1d", lags = 7, k = bestK)
        .withColumn("chosen_k", lit(bestK).cast("long")))
    },

    // gbt-family oracle: depth-1 gradient-boosted stumps with
    // deterministic uniform-grid split candidates — every round's
    // conditional-aggregation pass, argmax split pick, and mean-leaf
    // values replicated step-exact in SQL (the full-depth MLlib
    // ensemble in fc_gbt stays rows-only by nature; this pins the
    // boosting semantics to a bitwise check)
    "fc_gbt_stump" -> Q(
      s"""WITH ${OlsBacktestSql.lagdCte(3)},
          ${OlsBacktestSql.fullStump("gs", 3, fh = 3, rounds = 5, bins = 8, eta = 0.3)}
          SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END, 6) AS value
          FROM fp_gs CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)""") { (s, dir) =>
      val p = ev(s, dir)
      r6(StumpBoost.fit(p, lags = 3, freq = "1d", rounds = 5, bins = 8, eta = 0.3)
        .predict(p, "ts", fh = 3))
    },

    // censored model fully replicated: IRLS-Newton logistic (6 fixed
    // iterations, one weighted-moment aggregation pass each — see
    // graft.functions.Logistic) × above-threshold OLS, then the
    // σ(z)·ŷ recursive roll — all step-exact in SQL
    "fc_censored" -> Q(
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${OlsBacktestSql.fullCensored("cn", 7, fh = 3, "100.0")}
          SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END, 6) AS value
          FROM fp_cn CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)""") { (s, dir) =>
      val p = ev(s, dir)
      r6(CensoredForecaster.fit(p, lags = 7, freq = "1d", threshold = 100.0)
        .predict(p, "ts", fh = 3))
    },

    // direct multi-horizon OLS: one pooled fit per horizon h over the
    // lag window shifted by h (features f_h..f_{h+6}), each solved by
    // the staged-Cholesky generator; every model then scores the same
    // per-entity tail
    "fc_linear_direct" -> Q({
      val fs = (1 to 9).map(j => s"lag(value, $j) OVER w AS f$j").mkString(", ")
      val moms = (1 to 3).map { h =>
        val xs = "1.0" +: (h until h + 7).map(j => s"f$j")
        // the shared reduction drops the first max-lag (9) warmup rows
        // for EVERY horizon's model, not just the horizon's own window
        s"""mom$h AS (SELECT ${olsMomentsSql(xs, "value")}
                      FROM lagd WHERE f9 IS NOT NULL)"""
      }
      val chains = (1 to 3).map(h => cholSolveSql(8, s"mom$h", s"c$h"))
      val sols = (1 to 3).map { h =>
        val renames = (0 to 7).map(i => s"a_$i AS w${h}_$i").mkString(", ")
        s"sol$h AS (SELECT $renames FROM ${cholSolveLast(8, s"c$h")})"
      }
      def pred(h: Int) =
        ((1 to 7).map(i => s"w${h}_$i * t$i").mkString("(", " + ", ")") +
          s" + w${h}_0").mkString
      s"""WITH lagd AS (
            SELECT user_id, ts, event_id, value, $fs
            FROM events WINDOW w AS ($W)),
          ${moms.mkString(", ")},
          ${chains.mkString(", ")},
          ${sols.mkString(", ")},
          tail AS (SELECT user_id, ts AS cutoff, value AS t1, f1 AS t2, f2 AS t3,
                          f3 AS t4, f4 AS t5, f5 AS t6, f6 AS t7
                   FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rd FROM lagd)
                   WHERE rd = 1 AND f6 IS NOT NULL),
          pr AS (SELECT user_id, cutoff, ${pred(1)} AS p1, ${pred(2)} AS p2, ${pred(3)} AS p3
                 FROM tail CROSS JOIN sol1 CROSS JOIN sol2 CROSS JOIN sol3)
          SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END, 6) AS value
          FROM pr CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)"""
    }) { (s, dir) =>
      val p = ev(s, dir)
      r6(LinearForecaster.fitDirect(p, lags = 7, fh = 3, freq = "1d").predict(p, "ts", fh = 3))
    },

    "fc_backtest_naive" -> Q(
      s"""WITH b AS (SELECT user_id, ts, value, row_number() OVER ($W) AS rn,
                            count(*) OVER ($WE) AS cnt FROM events),
              s AS (SELECT i AS split FROM unnest([0, 1, 2]) AS t(i)),
              j AS (SELECT b.*, s.split, b.cnt - (10 + (2 - s.split) * 5) AS te
                    FROM b CROSS JOIN s),
              lastv AS (SELECT user_id, split, value AS pred FROM j WHERE rn = te),
              test AS (SELECT user_id, split, ts, value AS actual FROM j
                       WHERE rn > te AND rn <= te + 10)
          SELECT t.user_id, t.ts, t.split, round(t.actual,6) AS actual, round(l.pred,6) AS pred
          FROM test t JOIN lastv l ON t.user_id = l.user_id AND t.split = l.split""") {
      (s, dir) =>
        r6(AutoForecast.backtestNaivePrefix(ev(s, dir), "ts", sp = 1,
          testSize = 10, nSplits = 3, stepSize = 5))
    },

    // ridge lag-sweep: pure-L2 fits are closed-form (sklearn-Ridge
    // semantics — λ on the non-intercept diagonal of the normal
    // matrix, the reference's backend), so the whole sweep replicates
    // like fc_auto_linear with the penalized moments; shrinkage
    // semantics additionally asserted in AutoForecastSpec
    "fc_auto_ridge" -> Q({
      val bts = Seq(3, 7).map(l =>
        OlsBacktestSql.backtestLinear(s"r$l", l, testSize = 10, nSplits = 3,
          stepSize = 5, ridge = 0.1))
      val scores = Seq(3, 7).map(l =>
        OlsBacktestSql.meanSmapeCte(s"r$l", s"r$l"))
      val fulls = Seq(3, 7).map(l =>
        OlsBacktestSql.fullLinear(s"g$l", l, fh = 3, ridge = 0.1))
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${bts.mkString(", ")},
          ${scores.mkString(", ")},
          ${fulls.mkString(", ")},
          ${OlsBacktestSql.autoPick2Sql("r3", "r7", "g3", "g7", 3, 7)}"""
    }) { (s, dir) =>
      val p = ev(s, dir)
      val (lags, _, model) =
        AutoForecast.autoRidge(p, "ts", "1d", lagGrid = Seq(3, 7), regParam = 0.1)
      r6(model.predict(p, "ts", fh = 3).withColumn("chosen_lags", lit(lags).cast("long")))
    },

    // (auto_knn's k-sweep is spec-covered in AutoForecastSpec; each
    // candidate costs a full exact-KNN backtest pass, too heavy for
    // the per-round bench registry)

    // linear AR + exogenous future-known calendar regressors — the
    // reference's fit(y, X) reduction join (_reduction.py:32, the M5
    // benchmark path). Day-of-week one-hot via pure epoch-day integer
    // arithmetic (engine dayofweek() numberings disagree); the 14-dim
    // pooled OLS replicates through the staged Cholesky, and each
    // predict horizon adds its own entity-dependent dummy pick
    "fc_linear_exog" -> Q({
      val xs = "1.0" +: ((1 to 7).map(j => s"f$j") ++
        (1 to 6).map(k => s"CASE WHEN dw = $k THEN 1.0 ELSE 0.0 END"))
      def predExpr(h: Int) = {
        val terms = (1 to 7).map { j =>
          val s = if (j < h) s"p${h - j}" else s"t${j - h + 1}"
          s"a_$j * $s"
        }
        val whens = (1 to 6)
          .map(k => s"WHEN (cd + $h + 3) % 7 = $k THEN a_${7 + k}").mkString(" ")
        s"(a_0 + ${terms.mkString(" + ")} + CASE $whens ELSE 0.0 END) AS p$h"
      }
      val stages = (1 to 3).map { h =>
        val src = if (h == 1) "x_p0" else s"x_h${h - 1}"
        s"x_h$h AS MATERIALIZED (SELECT *, ${predExpr(h)} FROM $src)"
      }.mkString(", ")
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          exd AS (SELECT *,
                    (CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 3) % 7 AS dw
                  FROM lagd),
          mom AS (SELECT ${olsMomentsSql(xs, "value")} FROM exd WHERE rn > 7),
          ${cholSolveSql(14, "mom")},
          sol AS (SELECT * FROM ${cholSolveLast(14)}),
          tail AS (SELECT user_id, ts AS cutoff,
                          CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS cd,
                          value AS t1, f1 AS t2, f2 AS t3, f3 AS t4,
                          f4 AS t5, f5 AS t6, f6 AS t7
                   FROM exd WHERE rn = cnt AND f6 IS NOT NULL),
          x_p0 AS (SELECT * FROM tail CROSS JOIN sol),
          $stages
          SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END, 6) AS value
          FROM x_h3 CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)"""
    }) { (s, dir) =>
      val p = ev(s, dir)
      r6(ExogDowLinear.fit(p, lags = 7, freq = "1d", timeCol = "ts")
        .predict(p, "ts", fh = 3))
    },

    // the GENERAL fit(y, X) / predict(fh, X_future) contract
    // (base/forecaster.py:178-205): arbitrary caller-supplied exog
    // columns on the panel, a caller-supplied (entity, time, X) future
    // frame for predict. Fixture exog = two exactly-rational signals
    // derived from epoch-day integers (a mod-30 ramp and a mod-7
    // pulse) so both engines hold identical doubles; 10-dim pooled
    // solve via the staged Cholesky
    "fc_linear_exog_general" -> Q({
      val xs = "1.0" +: ((1 to 7).map(j => s"f$j") ++ Seq("x1", "x2"))
      def x1e(e: String) = s"(($e) % 30) / 29.0"
      def x2e(e: String) = s"CASE WHEN (($e) % 7) < 2 THEN 1.0 ELSE 0.0 END"
      def predExpr(h: Int) = {
        val terms = (1 to 7).map { j =>
          val s = if (j < h) s"p${h - j}" else s"t${j - h + 1}"
          s"a_$j * $s"
        }
        s"(a_0 + ${terms.mkString(" + ")} + (a_8 * (${x1e(s"cd + $h")}) + a_9 * (${x2e(s"cd + $h")}))) AS p$h"
      }
      val stages = (1 to 3).map { h =>
        val src = if (h == 1) "x_p0" else s"x_h${h - 1}"
        s"x_h$h AS MATERIALIZED (SELECT *, ${predExpr(h)} FROM $src)"
      }.mkString(", ")
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          exd AS (SELECT *,
                    ${x1e("CAST(floor(epoch(ts)) AS BIGINT) // 86400")} AS x1,
                    ${x2e("CAST(floor(epoch(ts)) AS BIGINT) // 86400")} AS x2
                  FROM lagd),
          mom AS (SELECT ${olsMomentsSql(xs, "value")} FROM exd WHERE rn > 7),
          ${cholSolveSql(10, "mom")},
          sol AS (SELECT * FROM ${cholSolveLast(10)}),
          tail AS (SELECT user_id, ts AS cutoff,
                          CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS cd,
                          value AS t1, f1 AS t2, f2 AS t3, f3 AS t4,
                          f4 AS t5, f5 AS t6, f6 AS t7
                   FROM exd WHERE rn = cnt AND f6 IS NOT NULL),
          x_p0 AS (SELECT * FROM tail CROSS JOIN sol),
          $stages
          SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END, 6) AS value
          FROM x_h3 CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)"""
    }) { (s, dir) =>
      val p0 = ev(s, dir)
      def xcols(d: org.apache.spark.sql.DataFrame) = d
        .withColumn("x1", pmod(expr("CAST(ts AS LONG) div 86400"), lit(30)).cast("double") / 29.0)
        .withColumn("x2", when(pmod(expr("CAST(ts AS LONG) div 86400"), lit(7)) < 2, 1.0).otherwise(0.0))
      val p = p0.copy(df = xcols(p0.df))
      val m = ExogLinear.fit(p, lags = 7, freq = "1d", exogCols = Seq("x1", "x2"))
      val xf = xcols(p.df.groupBy(col("user_id")).agg(max(col("ts")).as("__ts0"))
        .withColumn("__hh", explode(sequence(lit(1), lit(3))))
        .withColumn("ts", expr("timestampadd(DAY, __hh, __ts0)")))
        .select("user_id", "ts", "x1", "x2")
      r6(m.predict(p, "ts", fh = 3, xf))
    },

    // llm/api.py analyze() prompt assembly (the openai_call egress is
    // stubbed by policy — see LlmPrompt scaladoc): basket filter, wide
    // pivot with sorted entity columns, markdown table, fixed template.
    // Cells render printf('%.6f', round6) on both engines, so the
    // single output string byte-matches
    "llm_analyze_prompt" -> {
      val basket = Seq(1L, 2L, 3L)
      val cellsSql = basket.map(e =>
        s"max(CASE WHEN user_id = $e THEN printf('%.6f', round(value, 6)) END) AS c$e").mkString(", ")
      val rowSql = "'| ' || strftime(ts, '%Y-%m-%d %H:%M:%S')" +
        basket.map(e => s" || ' | ' || coalesce(c$e, '')").mkString + " || ' |'"
      val task = "Analyze the following time series data in 8-10 bulletpoints."
      val constraints =
        " Be specific and respond with non-obvious statistical analyses in the tone of a McKinsey consultant." +
          " Describe trend, seasonality, and anomalies. Do not provide recommendations. Do not describe the table." +
          " Do not introduce yourself or your role."
      Q(
        s"""WITH f AS (SELECT ts, user_id, value FROM events WHERE user_id IN (1, 2, 3)),
            c AS (SELECT ts, $cellsSql FROM f GROUP BY ts),
            r AS (SELECT ts, $rowSql AS rw FROM c),
            b AS (SELECT string_agg(rw, chr(10) ORDER BY ts) AS body FROM r)
            SELECT '$task The context is: synthetic events panel.$constraints' ||
                   chr(10) || chr(10) || '``' || '`' || chr(10) ||
                   '| ts | 1 | 2 | 3 |' || chr(10) || body || chr(10) ||
                   '``' || '`' || chr(10) || chr(10) ||
                   '{{ Insert unordered Markdown list here }}' AS prompt
            FROM b""") { (s, dir) =>
        LlmPrompt.analyzePrompt(ev(s, dir), "ts", basket, "synthetic events panel")
      }
    },

    // llm.compare (llm/api.py:65-103): two baskets pivoted wide
    // independently, rendered as "### This"/"### Other" markdown
    // tables in one code fence (formatting.py:11-22 Mapping branch),
    // wrapped in the comparison task/constraints template — byte-exact
    // like llm_analyze_prompt.
    "llm_compare_prompt" -> {
      val thisBasket = Seq(1L, 2L, 3L)
      val otherBasket = Seq(4L, 5L)
      def tableCtes(tag: String, basket: Seq[Long]): String = {
        val cellsSql = basket.map(e =>
          s"max(CASE WHEN user_id = $e THEN printf('%.6f', round(value, 6)) END) AS c$e").mkString(", ")
        val rowSql = "'| ' || strftime(ts, '%Y-%m-%d %H:%M:%S')" +
          basket.map(e => s" || ' | ' || coalesce(c$e, '')").mkString + " || ' |'"
        s"""f_$tag AS (SELECT ts, user_id, value FROM events
                       WHERE user_id IN (${basket.mkString(", ")})),
            c_$tag AS (SELECT ts, $cellsSql FROM f_$tag GROUP BY ts),
            r_$tag AS (SELECT ts, $rowSql AS rw FROM c_$tag),
            b_$tag AS (SELECT '| ts | ${basket.mkString(" | ")} |' || chr(10) ||
                              string_agg(rw, chr(10) ORDER BY ts) AS body FROM r_$tag)"""
      }
      val task = "Compare and contrast the following time series data."
      val constraints =
        " Be specific and respond with non-obvious statistical analyses in the tone of a McKinsey consultant." +
          " Compare trend, seasonality, and anomalies. Do not provide recommendations. Do not describe the tables." +
          " Do not introduce yourself or your role."
      Q(
        s"""WITH ${tableCtes("t", thisBasket)},
            ${tableCtes("o", otherBasket)}
            SELECT '$task Compare the dataframe entities against each other.$constraints' ||
                   chr(10) || chr(10) || '``' || '`' || chr(10) ||
                   '### This' || chr(10) || b_t.body || chr(10) || chr(10) ||
                   '### Other' || chr(10) || b_o.body || chr(10) ||
                   '``' || '`' || chr(10) || chr(10) ||
                   '{{ Insert your comparative analysis here }}' AS prompt
            FROM b_t CROSS JOIN b_o""") { (s, dir) =>
        LlmPrompt.comparePrompt(ev(s, dir), "ts", thisBasket, otherBasket)
      }
    },

    // recursive ⊕ direct "ensemble" strategy (_ar.py:83-114, :356-371):
    // both closed-form fits replicated (pooled-OLS staged-Cholesky
    // chains over their own reductions — recursive drops 7 warmup rows,
    // direct drops 9), predictions averaged per (entity, horizon)
    "fc_ensemble" -> Q(
      s"""WITH ${OlsBacktestSql.lagdCte(9)},
          ${OlsBacktestSql.fullLinear("er", 7, fh = 3)},
          ${OlsBacktestSql.fullDirect("dr", 7, fh = 3)}
          SELECT a.user_id, CAST(a.cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(((CASE h WHEN 1 THEN a.p1 WHEN 2 THEN a.p2 ELSE a.p3 END)
                        + (CASE h WHEN 1 THEN b.p1 WHEN 2 THEN b.p2 ELSE b.p3 END)) / 2, 6)
                   AS value
          FROM fp_er a JOIN fp_dr b ON a.user_id = b.user_id
          CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)""") { (s, dir) =>
      val p = ev(s, dir)
      r6(LinearForecaster.fitEnsemble(p, lags = 7, fh = 3, freq = "1d")
        .predict(p, "ts", fh = 3))
    },

    // lasso: cyclic coordinate descent on the one-pass CENTERED
    // normal-equation moments (sklearn Lasso semantics, the
    // reference's linear.py backend). L1 has no closed form, but CD
    // only needs X^T X / X^T y — one data pass at any scale — and a
    // fixed sweep count makes the update sequence deterministic, so
    // the oracle (Q.cdSolveSql) replicates it step-exactly
    "fc_lasso" -> Q(
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${OlsBacktestSql.fullElasticNet("ls", 7, fh = 3, alpha = 0.5, l1Ratio = 1.0, sweeps = 40)}
          SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END, 6) AS value
          FROM fp_ls CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)""") { (s, dir) =>
      val p = ev(s, dir)
      r6(LinearForecaster.fit(p, lags = 7, freq = "1d",
        regParam = 0.5, elasticNetParam = 1.0).predict(p, "ts", fh = 3))
    },

    // elastic-net: same CD machinery with the mixed L1/L2 penalty
    "fc_elastic_net" -> Q(
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${OlsBacktestSql.fullElasticNet("en", 7, fh = 3, alpha = 0.5, l1Ratio = 0.5, sweeps = 40)}
          SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END, 6) AS value
          FROM fp_en CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)""") { (s, dir) =>
      val p = ev(s, dir)
      r6(LinearForecaster.fit(p, lags = 7, freq = "1d",
        regParam = 0.5, elasticNetParam = 0.5).predict(p, "ts", fh = 3))
    },

    // zero_inflated_model = censored_model(threshold = 0)
    // (censored.py:96): P(y > 0) classifier × above-zero OLS, on a
    // demand-shaped target (value floored at 0 after a −100 shift, so
    // the zero-inflation is real) — same IRLS replication as
    // fc_censored with the transform applied before the lag windows
    "fc_zero_inflated" -> Q(
      s"""WITH ${OlsBacktestSql.lagdCte(7, valueExpr = "greatest(value - 100.0, 0.0)")},
          ${OlsBacktestSql.fullCensored("zi", 7, fh = 3, "0.0")}
          SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END, 6) AS value
          FROM fp_zi CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)""") { (s, dir) =>
      val p0 = ev(s, dir)
      val p = p0.copy(df = p0.df.withColumn("value",
        greatest(col("value") - 100.0, lit(0.0))))
      r6(CensoredForecaster.fit(p, lags = 7, freq = "1d", threshold = 0.0)
        .predict(p, "ts", fh = 3))
    },

    // composed Forecaster with target-transform chaining
    // (base/forecaster.py:134-277): fit applies scale -> diff(1,1) in
    // order and fits the pooled OLS on the transformed panel; predict
    // runs the 3-step recursion in transformed space and auto-inverts
    // in reverse (diff: last-level anchor + prediction cumsum; scale:
    // x*sigma + mu) — the whole chain replicated in SQL
    "fc_pipeline" -> Q(
      s"""WITH sc AS (SELECT user_id, ts, event_id,
              (value - avg(value) OVER (PARTITION BY user_id))
                / stddev_samp(value) OVER (PARTITION BY user_id) AS value
            FROM events),
          dfi AS (SELECT user_id, ts, event_id,
              value - lag(value) OVER ($W) AS value FROM sc),
          ${OlsBacktestSql.lagdCte(7, srcTable = "dfi")},
          ${OlsBacktestSql.fullLinear("pl", 7, fh = 3, warmup = 1)},
          scn AS (SELECT user_id, value, row_number() OVER ($W) AS rn,
                         count(*) OVER (PARTITION BY user_id) AS cnt FROM sc),
          anch AS (SELECT user_id, value AS anchor FROM scn WHERE rn = cnt),
          art AS (SELECT user_id, avg(value) AS mu, stddev_samp(value) AS sd
                  FROM events GROUP BY user_id),
          lvl AS (SELECT f.user_id, f.cutoff,
                    anchor + (p1) AS l1,
                    anchor + (p1 + p2) AS l2,
                    anchor + (p1 + p2 + p3) AS l3
                  FROM fp_pl f JOIN anch USING (user_id))
          SELECT l.user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round((CASE h WHEN 1 THEN l1 WHEN 2 THEN l2 ELSE l3 END) * sd + mu, 6) AS value
          FROM lvl l JOIN art USING (user_id)
          CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)""") { (s, dir) =>
      val p = ev(s, dir)
      val fp = ForecastPipeline.fit(p, "ts",
        Seq(ForecastPipeline.scaleStep(), ForecastPipeline.diffStep()),
        ForecastPipeline.linear(7, "1d"))
      r6(fp.predict("ts", fh = 3).select(col("user_id"), col("ts"), col("value")))
    },

    // lag-grid sweep replicated: each candidate's expanding-window
    // backtest (pooled per-split OLS + 10-step recursion) scores a
    // mean per-entity SMAPE; argmin (first-wins on ties, hence <=)
    // selects which full-data fit's predictions to emit
    "fc_auto_linear" -> Q({
      val bts = Seq(3, 7).map(l =>
        OlsBacktestSql.backtestLinear(s"l$l", l, testSize = 10, nSplits = 2, stepSize = 5))
      val scores = Seq(3, 7).map(l =>
        OlsBacktestSql.meanSmapeCte(s"l$l", s"l$l"))
      val fulls = Seq(3, 7).map(l => OlsBacktestSql.fullLinear(s"f$l", l, fh = 3))
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${bts.mkString(", ")},
          ${scores.mkString(", ")},
          ${fulls.mkString(", ")},
          ${OlsBacktestSql.autoPick2Sql("l3", "l7", "f3", "f7", 3, 7)}"""
    }) { (s, dir) =>
      val p = ev(s, dir)
      val (lags, _, model) =
        AutoForecast.autoLinear(p, "ts", "1d", lagGrid = Seq(3, 7), nSplits = 2)
      r6(model.predict(p, "ts", fh = 3).withColumn("chosen_lags", lit(lags).cast("long")))
    },

    // elite mean-stacking replicated: all four base-model backtests
    // (naive/snaive position lookups, linear_7/14 pooled OLS), per-
    // entity SMAPE rank (model name as tie-break), top-2 blend of the
    // full-data predictions
    "fc_elite" -> Q({
      val btLin = Seq(7, 14).map(l =>
        OlsBacktestSql.backtestLinear(s"lin$l", l, testSize = 10, nSplits = 2, stepSize = 5))
      val btNv = Seq("nv" -> 1, "snv" -> 7).map { case (t, sp) =>
        OlsBacktestSql.backtestNaive(t, sp, testSize = 10, nSplits = 2, stepSize = 5)
      }
      val scs = Seq("lin7", "lin14", "nv", "snv").map(OlsBacktestSql.entityScore)
      val fulls = Seq(7, 14).map(l => OlsBacktestSql.fullLinear(s"f$l", l, fh = 3))
      def linPred(tag: String, name: String) =
        s"""SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END AS value,
                   '$name' AS model
            FROM fp_$tag CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)"""
      s"""WITH ${OlsBacktestSql.lagdCte(14)},
          ${btLin.mkString(", ")},
          ${btNv.mkString(", ")},
          ${scs.mkString(", ")},
          allsc AS (SELECT user_id, smape, 'naive' AS model FROM sc_nv
                    UNION ALL SELECT user_id, smape, 'snaive' FROM sc_snv
                    UNION ALL SELECT user_id, smape, 'linear_7' FROM sc_lin7
                    UNION ALL SELECT user_id, smape, 'linear_14' FROM sc_lin14),
          winners AS (SELECT user_id, model FROM (
              SELECT user_id, model, row_number() OVER (PARTITION BY user_id
                       ORDER BY smape ASC NULLS LAST, model) AS rk
              FROM allsc) WHERE rk <= 2),
          ${fulls.mkString(", ")},
          state AS (SELECT user_id, arg_max(value, ts) AS lastv, max(ts) AS cutoff
                    FROM events GROUP BY user_id),
          sntail AS (SELECT user_id, list(value ORDER BY ts) AS tail7, max(ts) AS cutoff
                     FROM (SELECT user_id, ts, value, row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) AS rnd FROM events)
                     WHERE rnd <= 7 GROUP BY user_id),
          preds AS (
            SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   lastv AS value, 'naive' AS model
            FROM state CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)
            UNION ALL
            SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   tail7[((h - 1) % len(tail7)) + 1] AS value, 'snaive' AS model
            FROM sntail CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)
            UNION ALL ${linPred("f7", "linear_7")}
            UNION ALL ${linPred("f14", "linear_14")})
          SELECT p.user_id, p.ts, round(avg(p.value), 6) AS value
          FROM preds p JOIN winners w ON p.user_id = w.user_id AND p.model = w.model
          GROUP BY p.user_id, p.ts"""
    }) { (s, dir) =>
      r6(AutoForecast.elite(ev(s, dir), "ts", "1d", fh = 3, topK = 2, nSplits = 2))
    },

    // elite at reference DEPTH (elite.py:80-164): an 8-model zoo —
    // naive, snaive, linear/ridge × {7,14} lags, CD lasso and
    // elastic-net — each backtest and full fit replicated in SQL
    // (Cholesky chains for the closed forms, the unrolled 15-sweep CD
    // for the L1 family), per-entity SMAPE rank over all 8, top-4
    // participation blend
    "fc_elite_deep" -> Q({
      // testSize=5 / cdSweeps=8 / ridge at lags {3,7}: keeps the total
      // chained-CTE count (~830) under DuckDB's ~1000 binder depth cap
      // — shrink per-member work, never the structure (SKILL.md)
      val btLin = Seq(("lin7", 7, 0.0), ("lin14", 14, 0.0),
        ("rdg3", 3, 0.1), ("rdg7", 7, 0.1)).map { case (t, l, r) =>
        OlsBacktestSql.backtestLinear(t, l, testSize = 5, nSplits = 2,
          stepSize = 5, ridge = r)
      }
      val btCd = Seq(("las7", 1.0), ("ene7", 0.5)).map { case (t, l1) =>
        OlsBacktestSql.backtestElasticNet(t, 7, testSize = 5, nSplits = 2,
          stepSize = 5, alpha = 0.1, l1Ratio = l1, sweeps = 8)
      }
      val btNv = Seq("nv" -> 1, "snv" -> 7).map { case (t, sp) =>
        OlsBacktestSql.backtestNaive(t, sp, testSize = 5, nSplits = 2, stepSize = 5)
      }
      val tags = Seq("nv" -> "naive", "snv" -> "snaive",
        "lin7" -> "linear_7", "lin14" -> "linear_14",
        "rdg3" -> "ridge_3", "rdg7" -> "ridge_7",
        "las7" -> "lasso_7", "ene7" -> "elastic_net_7")
      val scs = tags.map(t => OlsBacktestSql.entityScore(t._1))
      val allsc = tags.map { case (t, n) =>
        s"SELECT user_id, smape, '$n' AS model FROM sc_$t"
      }.mkString(" UNION ALL ")
      val fulls = Seq(
        OlsBacktestSql.fullLinear("f7", 7, fh = 3),
        OlsBacktestSql.fullLinear("f14", 14, fh = 3),
        OlsBacktestSql.fullLinear("fr3", 3, fh = 3, ridge = 0.1),
        OlsBacktestSql.fullLinear("fr7", 7, fh = 3, ridge = 0.1),
        OlsBacktestSql.fullElasticNet("fl7", 7, fh = 3, alpha = 0.1,
          l1Ratio = 1.0, sweeps = 8),
        OlsBacktestSql.fullElasticNet("fe7", 7, fh = 3, alpha = 0.1,
          l1Ratio = 0.5, sweeps = 8))
      def linPred(tag: String, name: String) =
        s"""SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END AS value,
                   '$name' AS model
            FROM fp_$tag CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)"""
      s"""WITH ${OlsBacktestSql.lagdCte(14)},
          ${btLin.mkString(", ")},
          ${btCd.mkString(", ")},
          ${btNv.mkString(", ")},
          ${scs.mkString(", ")},
          allsc AS ($allsc),
          winners AS (SELECT user_id, model FROM (
              SELECT user_id, model, row_number() OVER (PARTITION BY user_id
                       ORDER BY smape ASC NULLS LAST, model) AS rk
              FROM allsc) WHERE rk <= 4),
          ${fulls.mkString(", ")},
          state AS (SELECT user_id, arg_max(value, ts) AS lastv, max(ts) AS cutoff
                    FROM events GROUP BY user_id),
          sntail AS (SELECT user_id, list(value ORDER BY ts) AS tail7, max(ts) AS cutoff
                     FROM (SELECT user_id, ts, value, row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) AS rnd FROM events)
                     WHERE rnd <= 7 GROUP BY user_id),
          preds AS (
            SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   lastv AS value, 'naive' AS model
            FROM state CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)
            UNION ALL
            SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   tail7[((h - 1) % len(tail7)) + 1] AS value, 'snaive' AS model
            FROM sntail CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)
            UNION ALL ${linPred("f7", "linear_7")}
            UNION ALL ${linPred("f14", "linear_14")}
            UNION ALL ${linPred("fr3", "ridge_3")}
            UNION ALL ${linPred("fr7", "ridge_7")}
            UNION ALL ${linPred("fl7", "lasso_7")}
            UNION ALL ${linPred("fe7", "elastic_net_7")})
          SELECT p.user_id, p.ts, round(avg(p.value), 6) AS value
          FROM preds p JOIN winners w ON p.user_id = w.user_id AND p.model = w.model
          GROUP BY p.user_id, p.ts"""
    }) { (s, dir) =>
      r6(EliteDeep.run(ev(s, dir), "ts", "1d", fh = 3, topK = 4,
        strategy = "mean", testSize = 5, nSplits = 2, cdSweeps = 8,
        models = EliteDeep.linearFamily))
    },

    // elite with the LASSO STACKER (elite.py:303-308,356-374): same
    // 8-model zoo and top-4 ranking, but the blend is a global CD
    // lasso (our LassoLarsIC analog, fixed α) fit on the rank-pivoted
    // CV predictions against the actuals, applied to the rank-pivoted
    // full predictions — plus the reference's random-walk fallback
    // (entities whose rank-1 model is naive get the pure naive
    // forecast). The entire stack — pivot, k+1-dim moments, unrolled
    // CD solve, fallback routing — is replicated in SQL.
    "fc_elite_stack" -> Q({
      val btLin = Seq(("lin7", 7, 0.0), ("lin14", 14, 0.0),
        ("rdg3", 3, 0.1), ("rdg7", 7, 0.1)).map { case (t, l, r) =>
        OlsBacktestSql.backtestLinear(t, l, testSize = 5, nSplits = 2,
          stepSize = 5, ridge = r)
      }
      val btCd = Seq(("las7", 1.0), ("ene7", 0.5)).map { case (t, l1) =>
        OlsBacktestSql.backtestElasticNet(t, 7, testSize = 5, nSplits = 2,
          stepSize = 5, alpha = 0.1, l1Ratio = l1, sweeps = 8)
      }
      val btNv = Seq("nv" -> 1, "snv" -> 7).map { case (t, sp) =>
        OlsBacktestSql.backtestNaive(t, sp, testSize = 5, nSplits = 2, stepSize = 5)
      }
      val tags = Seq("nv" -> "naive", "snv" -> "snaive",
        "lin7" -> "linear_7", "lin14" -> "linear_14",
        "rdg3" -> "ridge_3", "rdg7" -> "ridge_7",
        "las7" -> "lasso_7", "ene7" -> "elastic_net_7")
      val scs = tags.map(t => OlsBacktestSql.entityScore(t._1))
      val allsc = tags.map { case (t, n) =>
        s"SELECT user_id, smape, '$n' AS model FROM sc_$t"
      }.mkString(" UNION ALL ")
      val btall = tags.map { case (t, n) =>
        s"SELECT user_id, h, split, actual, pred, '$n' AS model FROM bt_$t"
      }.mkString(" UNION ALL ")
      val fulls = Seq(
        OlsBacktestSql.fullLinear("f7", 7, fh = 3),
        OlsBacktestSql.fullLinear("f14", 14, fh = 3),
        OlsBacktestSql.fullLinear("fr3", 3, fh = 3, ridge = 0.1),
        OlsBacktestSql.fullLinear("fr7", 7, fh = 3, ridge = 0.1),
        OlsBacktestSql.fullElasticNet("fl7", 7, fh = 3, alpha = 0.1,
          l1Ratio = 1.0, sweeps = 8),
        OlsBacktestSql.fullElasticNet("fe7", 7, fh = 3, alpha = 0.1,
          l1Ratio = 0.5, sweeps = 8))
      def linPred(tag: String, name: String) =
        s"""SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END AS value,
                   '$name' AS model
            FROM fp_$tag CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)"""
      val k = 4
      val fks = (1 to k).map(i => s"f_$i")
      val pivotBt = (1 to k)
        .map(i => s"max(CASE rk WHEN $i THEN pred END) AS f_$i").mkString(", ")
      val pivotFull = (1 to k)
        .map(i => s"max(CASE rk WHEN $i THEN value END) AS f_$i").mkString(", ")
      val nnAll = fks.map(f => s"$f IS NOT NULL").mkString(" AND ")
      val anyNull = fks.map(f => s"$f IS NULL").mkString(" OR ")
      // X_stack's trend regressor (elite.py:210-213) joins the k
      // pivoted predictions: a_{k+1} carries its weight
      val yhat = ("a_0" +: (1 to k).map(i => s"a_$i * f_$i")) :+ s"a_${k + 1} * trend"
      s"""WITH ${OlsBacktestSql.lagdCte(14)},
          ${btLin.mkString(", ")},
          ${btCd.mkString(", ")},
          ${btNv.mkString(", ")},
          ${scs.mkString(", ")},
          allsc AS ($allsc),
          winnersrk AS (SELECT user_id, model, rk FROM (
              SELECT user_id, model, row_number() OVER (PARTITION BY user_id
                       ORDER BY smape ASC NULLS LAST, model) AS rk
              FROM allsc) WHERE rk <= $k),
          ${fulls.mkString(", ")},
          state AS (SELECT user_id, arg_max(value, ts) AS lastv, max(ts) AS cutoff
                    FROM events GROUP BY user_id),
          sntail AS (SELECT user_id, list(value ORDER BY ts) AS tail7, max(ts) AS cutoff
                     FROM (SELECT user_id, ts, value, row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) AS rnd FROM events)
                     WHERE rnd <= 7 GROUP BY user_id),
          preds AS (
            SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   lastv AS value, 'naive' AS model
            FROM state CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)
            UNION ALL
            SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   tail7[((h - 1) % len(tail7)) + 1] AS value, 'snaive' AS model
            FROM sntail CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)
            UNION ALL ${linPred("f7", "linear_7")}
            UNION ALL ${linPred("f14", "linear_14")}
            UNION ALL ${linPred("fr3", "ridge_3")}
            UNION ALL ${linPred("fr7", "ridge_7")}
            UNION ALL ${linPred("fl7", "lasso_7")}
            UNION ALL ${linPred("fe7", "elastic_net_7")}),
          btall AS ($btall),
          stackp AS (SELECT *, (row_number() OVER (PARTITION BY user_id
                       ORDER BY split, h) - 1)::DOUBLE AS trend FROM (
                     SELECT b.user_id, b.split, b.h, $pivotBt, max(b.actual) AS yy
                     FROM btall b JOIN winnersrk w
                       ON b.user_id = w.user_id AND b.model = w.model
                     GROUP BY b.user_id, b.split, b.h)),
          stackt AS (SELECT * FROM stackp WHERE $nnAll),
          smom AS (SELECT ${Q.olsMomentsSql(("1.0" +: fks) :+ "trend", "yy")} FROM stackt),
          ${Q.cdSolveSql(k + 1, 0.01, 1.0, 10, "smom", "scd")},
          ssol AS (SELECT * FROM ${Q.cdSolveLast(k + 1, 10, "scd")}),
          fullp AS (SELECT *, (row_number() OVER (PARTITION BY user_id
                      ORDER BY ts) - 1)::DOUBLE AS trend FROM (
                    SELECT p.user_id, p.ts, $pivotFull
                    FROM preds p JOIN winnersrk w
                      ON p.user_id = w.user_id AND p.model = w.model
                    GROUP BY p.user_id, p.ts)),
          stacked AS (SELECT user_id, ts, ${yhat.mkString("(", " + ", ")")} AS value
                      FROM (SELECT * FROM fullp WHERE $nnAll) CROSS JOIN ssol),
          rw AS (SELECT user_id FROM winnersrk WHERE rk = 1 AND model = 'naive'
                 UNION
                 SELECT DISTINCT user_id FROM fullp WHERE $anyNull)
          SELECT user_id, ts, round(value, 6) AS value FROM (
            SELECT p.user_id, p.ts, p.value FROM preds p
            WHERE p.model = 'naive' AND p.user_id IN (SELECT user_id FROM rw)
            UNION ALL
            SELECT s.user_id, s.ts, s.value FROM stacked s
            WHERE s.user_id NOT IN (SELECT user_id FROM rw))"""
    }) { (s, dir) =>
      r6(EliteDeep.run(ev(s, dir), "ts", "1d", fh = 3, topK = 4,
        strategy = "lasso", testSize = 5, nSplits = 2, cdSweeps = 8,
        stackAlpha = 0.01, stackSweeps = 10, models = EliteDeep.linearFamily))
    },

    // elite's TARGET-TRANSFORM members (elite.py:97-109,148-157):
    // scaled / first-difference / linear-detrend linear AR models,
    // each refitting the whole pipeline (transform params included)
    // per train slice. The oracle rebuilds every per-split transform
    // as column algebra over the shared raw lagd + a per-(entity,
    // split) artifact — an affine map commutes with the lag windows —
    // then ranks all 5 members per entity and blends the top 3.
    // (Split from fc_elite_deep so each WITH stays under the binder's
    // ~1000-CTE cap.)
    "fc_elite_pipe" -> Q({
      val btLin = OlsBacktestSql.backtestLinear("lin7", 7, testSize = 5,
        nSplits = 2, stepSize = 5)
      val btXf = Seq(("scl7", "scale", 0.0), ("dif7", "diff", 0.0),
        ("det7", "detrend", 0.0), ("rs7", "scale", 0.1), ("rd7", "detrend", 0.1))
        .map { case (t, x, r) =>
          OlsBacktestSql.backtestXformLinear(t, 7, testSize = 5, nSplits = 2,
            stepSize = 5, xformName = x, ridge = r)
        }
      val btNv = OlsBacktestSql.backtestNaive("nv", 1, testSize = 5,
        nSplits = 2, stepSize = 5)
      val tags = Seq("nv" -> "naive", "lin7" -> "linear_7",
        "scl7" -> "linear_scaled_7", "dif7" -> "linear_diff_7",
        "det7" -> "linear_detrend_7",
        "rs7" -> "ridge_scaled_7", "rd7" -> "ridge_detrend_7")
      val scs = tags.map(t => OlsBacktestSql.entityScore(t._1))
      val allsc = tags.map { case (t, n) =>
        s"SELECT user_id, smape, '$n' AS model FROM sc_$t"
      }.mkString(" UNION ALL ")
      val fulls = Seq(
        OlsBacktestSql.fullLinear("f7", 7, fh = 3),
        OlsBacktestSql.fullXformLinear("fs7", 7, fh = 3, xformName = "scale"),
        OlsBacktestSql.fullXformLinear("fd7", 7, fh = 3, xformName = "diff"),
        OlsBacktestSql.fullXformLinear("ft7", 7, fh = 3, xformName = "detrend"),
        OlsBacktestSql.fullXformLinear("frs7", 7, fh = 3, xformName = "scale",
          ridge = 0.1),
        OlsBacktestSql.fullXformLinear("frd7", 7, fh = 3, xformName = "detrend",
          ridge = 0.1))
      def linPred(tag: String, name: String) =
        s"""SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END AS value,
                   '$name' AS model
            FROM fp_$tag CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)"""
      s"""WITH ${OlsBacktestSql.lagdCte(14)},
          $btLin,
          ${btXf.mkString(", ")},
          $btNv,
          ${scs.mkString(", ")},
          allsc AS ($allsc),
          winners AS (SELECT user_id, model FROM (
              SELECT user_id, model, row_number() OVER (PARTITION BY user_id
                       ORDER BY smape ASC NULLS LAST, model) AS rk
              FROM allsc) WHERE rk <= 3),
          ${fulls.mkString(", ")},
          state AS (SELECT user_id, arg_max(value, ts) AS lastv, max(ts) AS cutoff
                    FROM events GROUP BY user_id),
          preds AS (
            SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   lastv AS value, 'naive' AS model
            FROM state CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)
            UNION ALL ${linPred("f7", "linear_7")}
            UNION ALL ${linPred("fs7", "linear_scaled_7")}
            UNION ALL ${linPred("fd7", "linear_diff_7")}
            UNION ALL ${linPred("ft7", "linear_detrend_7")}
            UNION ALL ${linPred("frs7", "ridge_scaled_7")}
            UNION ALL ${linPred("frd7", "ridge_detrend_7")})
          SELECT p.user_id, p.ts, round(avg(p.value), 6) AS value
          FROM preds p JOIN winners w ON p.user_id = w.user_id AND p.model = w.model
          GROUP BY p.user_id, p.ts"""
    }) { (s, dir) =>
      r6(EliteDeep.run(ev(s, dir), "ts", "1d", fh = 3, topK = 3,
        strategy = "mean", testSize = 5, nSplits = 2,
        models = Seq("naive", "linear_7", "linear_scaled_7", "linear_diff_7",
          "linear_detrend_7", "ridge_scaled_7", "ridge_detrend_7")))
    },

    // elite's target-transform × fourier combos (elite.py:115-137
    // *_scaled_fourier, :148-164 linear_detrend_linear_fourier): the
    // z-score / linear-trend artifact refits per split, the AR(3)+4
    // fourier regression runs in transformed space, predictions invert
    // to levels. Ranked against naive and linear_7, top-3 mean blend.
    "fc_elite_fourier_pipe" -> Q({
      val btLin = OlsBacktestSql.backtestLinear("lin7", 7, testSize = 5,
        nSplits = 2, stepSize = 5)
      val btXf = Seq(("lsf3", "scale", 0.0), ("rsf3", "scale", 0.1),
        ("ldf3", "detrend", 0.0)).map { case (t, x, r) =>
        OlsBacktestSql.backtestXformFourier(t, 3, sp = 7, kTerms = 2,
          testSize = 5, nSplits = 2, stepSize = 5, xformName = x, ridge = r)
      }
      val btNv = OlsBacktestSql.backtestNaive("nv", 1, testSize = 5,
        nSplits = 2, stepSize = 5)
      val tags = Seq("nv" -> "naive", "lin7" -> "linear_7",
        "lsf3" -> "linear_scaled_fourier_3", "rsf3" -> "ridge_scaled_fourier_3",
        "ldf3" -> "linear_detrend_fourier_3")
      val scs = tags.map(t => OlsBacktestSql.entityScore(t._1))
      val allsc = tags.map { case (t, n) =>
        s"SELECT user_id, smape, '$n' AS model FROM sc_$t"
      }.mkString(" UNION ALL ")
      val fulls = Seq(
        OlsBacktestSql.fullLinear("f7", 7, fh = 3),
        OlsBacktestSql.fullXformFourier("fsf3", 3, sp = 7, kTerms = 2, fh = 3,
          xformName = "scale"),
        OlsBacktestSql.fullXformFourier("frf3", 3, sp = 7, kTerms = 2, fh = 3,
          xformName = "scale", ridge = 0.1),
        OlsBacktestSql.fullXformFourier("fdf3", 3, sp = 7, kTerms = 2, fh = 3,
          xformName = "detrend"))
      def linPred(tag: String, name: String) =
        s"""SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END AS value,
                   '$name' AS model
            FROM fp_$tag CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)"""
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          $btLin,
          ${btXf.mkString(", ")},
          $btNv,
          ${scs.mkString(", ")},
          allsc AS ($allsc),
          winners AS (SELECT user_id, model FROM (
              SELECT user_id, model, row_number() OVER (PARTITION BY user_id
                       ORDER BY smape ASC NULLS LAST, model) AS rk
              FROM allsc) WHERE rk <= 3),
          ${fulls.mkString(", ")},
          state AS (SELECT user_id, arg_max(value, ts) AS lastv, max(ts) AS cutoff
                    FROM events GROUP BY user_id),
          preds AS (
            SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   lastv AS value, 'naive' AS model
            FROM state CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)
            UNION ALL ${linPred("f7", "linear_7")}
            UNION ALL ${linPred("fsf3", "linear_scaled_fourier_3")}
            UNION ALL ${linPred("frf3", "ridge_scaled_fourier_3")}
            UNION ALL ${linPred("fdf3", "linear_detrend_fourier_3")})
          SELECT p.user_id, p.ts, round(avg(p.value), 6) AS value
          FROM preds p JOIN winners w ON p.user_id = w.user_id AND p.model = w.model
          GROUP BY p.user_id, p.ts"""
    }) { (s, dir) =>
      r6(EliteDeep.run(ev(s, dir), "ts", "1d", fh = 3, topK = 3,
        strategy = "mean", testSize = 5, nSplits = 2,
        models = Seq("naive", "linear_7", "linear_scaled_fourier_3",
          "ridge_scaled_fourier_3", "linear_detrend_fourier_3")))
    },

    // elite's lasso/ridge × fourier combo slices (elite.py:104-164's
    // lasso_fourier, lasso_scaled_fourier, ridge/lasso_detrend_linear_
    // fourier): centered CD (6 fixed sweeps) or closed-form ridge over
    // lag + fourier regressors, behind per-split transform artifacts.
    "fc_elite_fourier_lasso" -> Q({
      val sw = 6
      val btLin = OlsBacktestSql.backtestLinear("lin7", 7, testSize = 5,
        nSplits = 2, stepSize = 5)
      val btLf = OlsBacktestSql.backtestFourierLinear("laf3", 3, sp = 7,
        kTerms = 2, testSize = 5, nSplits = 2, stepSize = 5, ridge = 0.1,
        l1Ratio = 1.0, cdSweeps = sw)
      val btLsf = OlsBacktestSql.backtestXformFourier("lsf3", 3, sp = 7,
        kTerms = 2, testSize = 5, nSplits = 2, stepSize = 5,
        xformName = "scale", ridge = 0.1, l1Ratio = 1.0, cdSweeps = sw)
      val btRdf = OlsBacktestSql.backtestXformFourier("rdf3", 3, sp = 7,
        kTerms = 2, testSize = 5, nSplits = 2, stepSize = 5,
        xformName = "detrend", ridge = 0.1)
      val btLdf = OlsBacktestSql.backtestXformFourier("ldf3", 3, sp = 7,
        kTerms = 2, testSize = 5, nSplits = 2, stepSize = 5,
        xformName = "detrend", ridge = 0.1, l1Ratio = 1.0, cdSweeps = sw)
      val btNv = OlsBacktestSql.backtestNaive("nv", 1, testSize = 5,
        nSplits = 2, stepSize = 5)
      val tags = Seq("nv" -> "naive", "lin7" -> "linear_7",
        "laf3" -> "lasso_fourier_3", "lsf3" -> "lasso_scaled_fourier_3",
        "rdf3" -> "ridge_detrend_fourier_3", "ldf3" -> "lasso_detrend_fourier_3")
      val scs = tags.map(t => OlsBacktestSql.entityScore(t._1))
      val allsc = tags.map { case (t, n) =>
        s"SELECT user_id, smape, '$n' AS model FROM sc_$t"
      }.mkString(" UNION ALL ")
      val fulls = Seq(
        OlsBacktestSql.fullLinear("f7", 7, fh = 3),
        OlsBacktestSql.fullFourierLinear("flaf3", 3, sp = 7, kTerms = 2, fh = 3,
          ridge = 0.1, l1Ratio = 1.0, cdSweeps = sw),
        OlsBacktestSql.fullXformFourier("flsf3", 3, sp = 7, kTerms = 2, fh = 3,
          xformName = "scale", ridge = 0.1, l1Ratio = 1.0, cdSweeps = sw),
        OlsBacktestSql.fullXformFourier("frdf3", 3, sp = 7, kTerms = 2, fh = 3,
          xformName = "detrend", ridge = 0.1),
        OlsBacktestSql.fullXformFourier("fldf3", 3, sp = 7, kTerms = 2, fh = 3,
          xformName = "detrend", ridge = 0.1, l1Ratio = 1.0, cdSweeps = sw))
      def linPred(tag: String, name: String) =
        s"""SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END AS value,
                   '$name' AS model
            FROM fp_$tag CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)"""
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          $btLin,
          $btLf,
          $btLsf,
          $btRdf,
          $btLdf,
          $btNv,
          ${scs.mkString(", ")},
          allsc AS ($allsc),
          winners AS (SELECT user_id, model FROM (
              SELECT user_id, model, row_number() OVER (PARTITION BY user_id
                       ORDER BY smape ASC NULLS LAST, model) AS rk
              FROM allsc) WHERE rk <= 3),
          ${fulls.mkString(", ")},
          state AS (SELECT user_id, arg_max(value, ts) AS lastv, max(ts) AS cutoff
                    FROM events GROUP BY user_id),
          preds AS (
            SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   lastv AS value, 'naive' AS model
            FROM state CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)
            UNION ALL ${linPred("f7", "linear_7")}
            UNION ALL ${linPred("flaf3", "lasso_fourier_3")}
            UNION ALL ${linPred("flsf3", "lasso_scaled_fourier_3")}
            UNION ALL ${linPred("frdf3", "ridge_detrend_fourier_3")}
            UNION ALL ${linPred("fldf3", "lasso_detrend_fourier_3")})
          SELECT p.user_id, p.ts, round(avg(p.value), 6) AS value
          FROM preds p JOIN winners w ON p.user_id = w.user_id AND p.model = w.model
          GROUP BY p.user_id, p.ts"""
    }) { (s, dir) =>
      r6(EliteDeep.run(ev(s, dir), "ts", "1d", fh = 3, topK = 3,
        strategy = "mean", testSize = 5, nSplits = 2, cdSweeps = 6,
        models = Seq("naive", "linear_7", "lasso_fourier_3",
          "lasso_scaled_fourier_3", "ridge_detrend_fourier_3",
          "lasso_detrend_fourier_3")))
    },

    // elite's lasso × target-transform slices (elite.py:98-147's
    // lasso_scaled / lasso_detrend / lasso_demean analogs): the CD
    // solve refit per train slice behind each transform, 6 fixed
    // sweeps (mirrored by cdSweeps=6), ranked against naive and
    // linear_7, top-3 mean blend.
    "fc_elite_lasso_pipe" -> Q({
      val sw = 6
      val btLin = OlsBacktestSql.backtestLinear("lin7", 7, testSize = 5,
        nSplits = 2, stepSize = 5)
      val btXf = Seq(("lsc7", "scale"), ("ldt7", "detrend"), ("ldm7", "detrend_mean"),
        ("ldf7", "diff"))
        .map { case (t, x) =>
          OlsBacktestSql.backtestXformElasticNet(t, 7, testSize = 5, nSplits = 2,
            stepSize = 5, xformName = x, alpha = 0.1, l1Ratio = 1.0, sweeps = sw)
        }
      val btRd = OlsBacktestSql.backtestXformLinear("rdf7", 7, testSize = 5,
        nSplits = 2, stepSize = 5, xformName = "diff", ridge = 0.1)
      val btNv = OlsBacktestSql.backtestNaive("nv", 1, testSize = 5,
        nSplits = 2, stepSize = 5)
      val tags = Seq("nv" -> "naive", "lin7" -> "linear_7",
        "lsc7" -> "lasso_scaled_7", "ldt7" -> "lasso_detrend_7",
        "ldm7" -> "lasso_demean_7",
        "ldf7" -> "lasso_diff_7", "rdf7" -> "ridge_diff_7")
      val scs = tags.map(t => OlsBacktestSql.entityScore(t._1))
      val allsc = tags.map { case (t, n) =>
        s"SELECT user_id, smape, '$n' AS model FROM sc_$t"
      }.mkString(" UNION ALL ")
      val fulls = Seq(
        OlsBacktestSql.fullLinear("f7", 7, fh = 3),
        OlsBacktestSql.fullXformElasticNet("fls7", 7, fh = 3, xformName = "scale",
          alpha = 0.1, l1Ratio = 1.0, sweeps = sw),
        OlsBacktestSql.fullXformElasticNet("fld7", 7, fh = 3, xformName = "detrend",
          alpha = 0.1, l1Ratio = 1.0, sweeps = sw),
        OlsBacktestSql.fullXformElasticNet("flm7", 7, fh = 3,
          xformName = "detrend_mean", alpha = 0.1, l1Ratio = 1.0, sweeps = sw),
        OlsBacktestSql.fullXformElasticNet("flf7", 7, fh = 3, xformName = "diff",
          alpha = 0.1, l1Ratio = 1.0, sweeps = sw),
        OlsBacktestSql.fullXformLinear("frf7", 7, fh = 3, xformName = "diff",
          ridge = 0.1))
      def linPred(tag: String, name: String) =
        s"""SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END AS value,
                   '$name' AS model
            FROM fp_$tag CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)"""
      s"""WITH ${OlsBacktestSql.lagdCte(8)},
          $btLin,
          ${btXf.mkString(", ")},
          $btRd,
          $btNv,
          ${scs.mkString(", ")},
          allsc AS ($allsc),
          winners AS (SELECT user_id, model FROM (
              SELECT user_id, model, row_number() OVER (PARTITION BY user_id
                       ORDER BY smape ASC NULLS LAST, model) AS rk
              FROM allsc) WHERE rk <= 3),
          ${fulls.mkString(", ")},
          state AS (SELECT user_id, arg_max(value, ts) AS lastv, max(ts) AS cutoff
                    FROM events GROUP BY user_id),
          preds AS (
            SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   lastv AS value, 'naive' AS model
            FROM state CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)
            UNION ALL ${linPred("f7", "linear_7")}
            UNION ALL ${linPred("fls7", "lasso_scaled_7")}
            UNION ALL ${linPred("fld7", "lasso_detrend_7")}
            UNION ALL ${linPred("flm7", "lasso_demean_7")}
            UNION ALL ${linPred("flf7", "lasso_diff_7")}
            UNION ALL ${linPred("frf7", "ridge_diff_7")})
          SELECT p.user_id, p.ts, round(avg(p.value), 6) AS value
          FROM preds p JOIN winners w ON p.user_id = w.user_id AND p.model = w.model
          GROUP BY p.user_id, p.ts"""
    }) { (s, dir) =>
      r6(EliteDeep.run(ev(s, dir), "ts", "1d", fh = 3, topK = 3,
        strategy = "mean", testSize = 5, nSplits = 2, cdSweeps = 6,
        models = Seq("naive", "linear_7", "lasso_scaled_7",
          "lasso_detrend_7", "lasso_demean_7", "lasso_diff_7",
          "ridge_diff_7")))
    },

    // elite stacking with the LassoLarsIC-analog IC-selected alpha
    // (elite.py:304-308: the final stacker picks regularization by
    // information criterion; here a fixed 3-alpha grid of lasso CD
    // solves on ONE moment set, AIC = n·ln(RSS/n) + 2·df, ties to
    // the smaller alpha). 4-member zoo, top-3 rank pivot + trend.
    "fc_elite_stack_ic" -> Q({
      val k = 3
      val grid = Seq(0.001, 0.01, 0.1)
      val sweeps = 10
      val btLin = Seq(("lin7", 7, 0.0), ("rdg3", 3, 0.1)).map { case (t, l, r) =>
        OlsBacktestSql.backtestLinear(t, l, testSize = 5, nSplits = 2,
          stepSize = 5, ridge = r)
      }
      val btCd = OlsBacktestSql.backtestElasticNet("las7", 7, testSize = 5,
        nSplits = 2, stepSize = 5, alpha = 0.1, l1Ratio = 1.0, sweeps = 8)
      val btNv = OlsBacktestSql.backtestNaive("nv", 1, testSize = 5,
        nSplits = 2, stepSize = 5)
      val tags = Seq("nv" -> "naive", "lin7" -> "linear_7",
        "rdg3" -> "ridge_3", "las7" -> "lasso_7")
      val scs = tags.map(t => OlsBacktestSql.entityScore(t._1))
      val allsc = tags.map { case (t, n) =>
        s"SELECT user_id, smape, '$n' AS model FROM sc_$t"
      }.mkString(" UNION ALL ")
      val btall = tags.map { case (t, n) =>
        s"SELECT user_id, h, split, actual, pred, '$n' AS model FROM bt_$t"
      }.mkString(" UNION ALL ")
      val fulls = Seq(
        OlsBacktestSql.fullLinear("f7", 7, fh = 3),
        OlsBacktestSql.fullLinear("fr3", 3, fh = 3, ridge = 0.1),
        OlsBacktestSql.fullElasticNet("fl7", 7, fh = 3, alpha = 0.1,
          l1Ratio = 1.0, sweeps = 8))
      def linPred(tag: String, name: String) =
        s"""SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END AS value,
                   '$name' AS model
            FROM fp_$tag CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)"""
      val fks = (1 to k).map(i => s"f_$i")
      val p = k + 1 // pivot features + trend
      val pivotBt = (1 to k)
        .map(i => s"max(CASE rk WHEN $i THEN pred END) AS f_$i").mkString(", ")
      val pivotFull = (1 to k)
        .map(i => s"max(CASE rk WHEN $i THEN value END) AS f_$i").mkString(", ")
      val nnAll = fks.map(f => s"$f IS NOT NULL").mkString(" AND ")
      val anyNull = fks.map(f => s"$f IS NULL").mkString(" OR ")
      // AIC from the raw moments + the chain's a_0..a_p, replicating
      // Ols.lassoAicCD's fold order term-for-term
      val aicExpr = {
        def mN(i: Int, j: Int) = s"m_${math.min(i, j)}_${math.max(i, j)}"
        val yhatY = (s"a_0 * b_0" +: (1 to p).map(j => s"a_$j * b_$j"))
          .mkString("(", " + ", ")")
        val cross = (1 to p).map(j => s"a_$j * m_0_$j").mkString("(", " + ", ")")
        val quad = (for (j <- 1 to p; kk <- 1 to p)
          yield s"a_$j * a_$kk * ${mN(j, kk)}").mkString("(", " + ", ")")
        val rss = s"(syy - 2 * $yhatY + (a_0 * a_0 * m_0_0 + 2 * a_0 * $cross + $quad))"
        val dfree = ((1 to p).map(j => s"(CASE WHEN a_$j <> 0 THEN 1 ELSE 0 END)")
          :+ "1").mkString("(", " + ", ")")
        s"""CASE WHEN $rss <= 0 THEN -1e308
             ELSE m_0_0 * ln($rss / m_0_0) + 2.0 * $dfree END"""
      }
      val chains = grid.zipWithIndex.map { case (al, i) =>
        Q.cdSolveSql(p, al, 1.0, sweeps, "smom", s"scd$i")
      }
      val cands = grid.zipWithIndex.map { case (al, i) =>
        s"""SELECT $al AS alpha, $aicExpr AS aic,
              ${(0 to p).map(j => s"a_$j").mkString(", ")}
            FROM ${Q.cdSolveLast(p, sweeps, s"scd$i")}"""
      }.mkString(" UNION ALL ")
      val yhat = ("a_0" +: (1 to k).map(i => s"a_$i * f_$i")) :+ s"a_$p * trend"
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${btLin.mkString(", ")},
          $btCd,
          $btNv,
          ${scs.mkString(", ")},
          allsc AS ($allsc),
          winnersrk AS (SELECT user_id, model, rk FROM (
              SELECT user_id, model, row_number() OVER (PARTITION BY user_id
                       ORDER BY smape ASC NULLS LAST, model) AS rk
              FROM allsc) WHERE rk <= $k),
          ${fulls.mkString(", ")},
          state AS (SELECT user_id, arg_max(value, ts) AS lastv, max(ts) AS cutoff
                    FROM events GROUP BY user_id),
          preds AS (
            SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   lastv AS value, 'naive' AS model
            FROM state CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)
            UNION ALL ${linPred("f7", "linear_7")}
            UNION ALL ${linPred("fr3", "ridge_3")}
            UNION ALL ${linPred("fl7", "lasso_7")}),
          btall AS ($btall),
          stackp AS (SELECT *, (row_number() OVER (PARTITION BY user_id
                       ORDER BY split, h) - 1)::DOUBLE AS trend FROM (
                     SELECT b.user_id, b.split, b.h, $pivotBt, max(b.actual) AS yy
                     FROM btall b JOIN winnersrk w
                       ON b.user_id = w.user_id AND b.model = w.model
                     GROUP BY b.user_id, b.split, b.h)),
          stackt AS (SELECT * FROM stackp WHERE $nnAll),
          smom AS (SELECT ${Q.olsMomentsSql(("1.0" +: fks) :+ "trend", "yy")},
                          sum(yy * yy) AS syy FROM stackt),
          ${chains.mkString(", ")},
          cands AS ($cands),
          ssol AS (SELECT * FROM (SELECT *, row_number() OVER (ORDER BY aic, alpha) AS crk
                   FROM cands) WHERE crk = 1),
          fullp AS (SELECT *, (row_number() OVER (PARTITION BY user_id
                      ORDER BY ts) - 1)::DOUBLE AS trend FROM (
                    SELECT p.user_id, p.ts, $pivotFull
                    FROM preds p JOIN winnersrk w
                      ON p.user_id = w.user_id AND p.model = w.model
                    GROUP BY p.user_id, p.ts)),
          stacked AS (SELECT user_id, ts, ${yhat.mkString("(", " + ", ")")} AS value
                      FROM (SELECT * FROM fullp WHERE $nnAll) CROSS JOIN ssol),
          rw AS (SELECT user_id FROM winnersrk WHERE rk = 1 AND model = 'naive'
                 UNION
                 SELECT DISTINCT user_id FROM fullp WHERE $anyNull)
          SELECT user_id, ts, round(value, 6) AS value FROM (
            SELECT p.user_id, p.ts, p.value FROM preds p
            WHERE p.model = 'naive' AND p.user_id IN (SELECT user_id FROM rw)
            UNION ALL
            SELECT s.user_id, s.ts, s.value FROM stacked s
            WHERE s.user_id NOT IN (SELECT user_id FROM rw))"""
    }) { (s, dir) =>
      r6(EliteDeep.run(ev(s, dir), "ts", "1d", fh = 3, topK = 3,
        strategy = "lasso", testSize = 5, nSplits = 2, cdSweeps = 8,
        stackSweeps = 10, stackAlphaGrid = Seq(0.001, 0.01, 0.1),
        models = Seq("naive", "linear_7", "ridge_3", "lasso_7")))
    },

    // elite's remaining linear families (elite.py:92-95 "AR linear
    // models without drift" = fit_intercept=False, every coefficient
    // ridge-penalized; elite.py:139-147 "Mean detrended models" =
    // detrend(method="mean") target transform), ranked against naive
    // and linear_7, top-3 mean blend. The no-drift oracle drops the
    // intercept regressor from the normal equations (d = lags) and
    // shifts the Cholesky coefficient names; the demean oracle is the
    // detrend_mean XForm refit per split.
    "fc_elite_drift" -> Q({
      val btLin = OlsBacktestSql.backtestLinear("lin7", 7, testSize = 5,
        nSplits = 2, stepSize = 5)
      val btNd7 = OlsBacktestSql.backtestLinear("lnd7", 7, testSize = 5,
        nSplits = 2, stepSize = 5, drift = false)
      val btNr3 = OlsBacktestSql.backtestLinear("rnd3", 3, testSize = 5,
        nSplits = 2, stepSize = 5, ridge = 0.1, drift = false)
      val btLn7 = OlsBacktestSql.backtestElasticNetNoDrift("lan7", 7,
        testSize = 5, nSplits = 2, stepSize = 5, alpha = 0.1, l1Ratio = 1.0,
        sweeps = 8)
      val btDm = Seq(("ldm7", 0.0), ("rdm7", 0.1)).map { case (t, r) =>
        OlsBacktestSql.backtestXformLinear(t, 7, testSize = 5, nSplits = 2,
          stepSize = 5, xformName = "detrend_mean", ridge = r)
      }
      val btNv = OlsBacktestSql.backtestNaive("nv", 1, testSize = 5,
        nSplits = 2, stepSize = 5)
      val tags = Seq("nv" -> "naive", "lin7" -> "linear_7",
        "lnd7" -> "linear_nodrift_7", "rnd3" -> "ridge_nodrift_3",
        "lan7" -> "lasso_nodrift_7",
        "ldm7" -> "linear_demean_7", "rdm7" -> "ridge_demean_7")
      val scs = tags.map(t => OlsBacktestSql.entityScore(t._1))
      val allsc = tags.map { case (t, n) =>
        s"SELECT user_id, smape, '$n' AS model FROM sc_$t"
      }.mkString(" UNION ALL ")
      val fulls = Seq(
        OlsBacktestSql.fullLinear("f7", 7, fh = 3),
        OlsBacktestSql.fullLinear("fnd7", 7, fh = 3, drift = false),
        OlsBacktestSql.fullLinear("fnr3", 3, fh = 3, ridge = 0.1, drift = false),
        OlsBacktestSql.fullElasticNetNoDrift("fln7", 7, fh = 3, alpha = 0.1,
          l1Ratio = 1.0, sweeps = 8),
        OlsBacktestSql.fullXformLinear("fdm7", 7, fh = 3,
          xformName = "detrend_mean"),
        OlsBacktestSql.fullXformLinear("fdr7", 7, fh = 3,
          xformName = "detrend_mean", ridge = 0.1))
      def linPred(tag: String, name: String) =
        s"""SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END AS value,
                   '$name' AS model
            FROM fp_$tag CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)"""
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          $btLin,
          $btNd7,
          $btNr3,
          $btLn7,
          ${btDm.mkString(", ")},
          $btNv,
          ${scs.mkString(", ")},
          allsc AS ($allsc),
          winners AS (SELECT user_id, model FROM (
              SELECT user_id, model, row_number() OVER (PARTITION BY user_id
                       ORDER BY smape ASC NULLS LAST, model) AS rk
              FROM allsc) WHERE rk <= 3),
          ${fulls.mkString(", ")},
          state AS (SELECT user_id, arg_max(value, ts) AS lastv, max(ts) AS cutoff
                    FROM events GROUP BY user_id),
          preds AS (
            SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   lastv AS value, 'naive' AS model
            FROM state CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)
            UNION ALL ${linPred("f7", "linear_7")}
            UNION ALL ${linPred("fnd7", "linear_nodrift_7")}
            UNION ALL ${linPred("fnr3", "ridge_nodrift_3")}
            UNION ALL ${linPred("fln7", "lasso_nodrift_7")}
            UNION ALL ${linPred("fdm7", "linear_demean_7")}
            UNION ALL ${linPred("fdr7", "ridge_demean_7")})
          SELECT p.user_id, p.ts, round(avg(p.value), 6) AS value
          FROM preds p JOIN winners w ON p.user_id = w.user_id AND p.model = w.model
          GROUP BY p.user_id, p.ts"""
    }) { (s, dir) =>
      r6(EliteDeep.run(ev(s, dir), "ts", "1d", fh = 3, topK = 3,
        strategy = "mean", testSize = 5, nSplits = 2,
        models = Seq("naive", "linear_7", "linear_nodrift_7",
          "ridge_nodrift_3", "lasso_nodrift_7",
          "linear_demean_7", "ridge_demean_7")))
    },

    // elite's fourier feature-transform members (elite.py:104-137,
    // feature_transform=add_fourier_terms(sp=7, K=2)): AR(3) + 4
    // position-derived cos/sin regressors, future positions known
    // exactly (tn − 1 + h), ranked against naive and linear_7,
    // top-2 mean blend. Both engines fold the prediction terms in
    // the identical left-to-right order.
    "fc_elite_fourier" -> Q({
      val btLin = OlsBacktestSql.backtestLinear("lin7", 7, testSize = 5,
        nSplits = 2, stepSize = 5)
      val btF = OlsBacktestSql.backtestFourierLinear("lfo3", 3, sp = 7,
        kTerms = 2, testSize = 5, nSplits = 2, stepSize = 5)
      val btFr = OlsBacktestSql.backtestFourierLinear("rfo3", 3, sp = 7,
        kTerms = 2, testSize = 5, nSplits = 2, stepSize = 5, ridge = 0.1)
      val btNv = OlsBacktestSql.backtestNaive("nv", 1, testSize = 5,
        nSplits = 2, stepSize = 5)
      val tags = Seq("nv" -> "naive", "lin7" -> "linear_7",
        "lfo3" -> "linear_fourier_3", "rfo3" -> "ridge_fourier_3")
      val scs = tags.map(t => OlsBacktestSql.entityScore(t._1))
      val allsc = tags.map { case (t, n) =>
        s"SELECT user_id, smape, '$n' AS model FROM sc_$t"
      }.mkString(" UNION ALL ")
      val fulls = Seq(
        OlsBacktestSql.fullLinear("f7", 7, fh = 3),
        OlsBacktestSql.fullFourierLinear("ffo3", 3, sp = 7, kTerms = 2, fh = 3),
        OlsBacktestSql.fullFourierLinear("ffr3", 3, sp = 7, kTerms = 2, fh = 3,
          ridge = 0.1))
      def linPred(tag: String, name: String) =
        s"""SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END AS value,
                   '$name' AS model
            FROM fp_$tag CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)"""
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          $btLin,
          $btF,
          $btFr,
          $btNv,
          ${scs.mkString(", ")},
          allsc AS ($allsc),
          winners AS (SELECT user_id, model FROM (
              SELECT user_id, model, row_number() OVER (PARTITION BY user_id
                       ORDER BY smape ASC NULLS LAST, model) AS rk
              FROM allsc) WHERE rk <= 2),
          ${fulls.mkString(", ")},
          state AS (SELECT user_id, arg_max(value, ts) AS lastv, max(ts) AS cutoff
                    FROM events GROUP BY user_id),
          preds AS (
            SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   lastv AS value, 'naive' AS model
            FROM state CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)
            UNION ALL ${linPred("f7", "linear_7")}
            UNION ALL ${linPred("ffo3", "linear_fourier_3")}
            UNION ALL ${linPred("ffr3", "ridge_fourier_3")})
          SELECT p.user_id, p.ts, round(avg(p.value), 6) AS value
          FROM preds p JOIN winners w ON p.user_id = w.user_id AND p.model = w.model
          GROUP BY p.user_id, p.ts"""
    }) { (s, dir) =>
      r6(EliteDeep.run(ev(s, dir), "ts", "1d", fh = 3, topK = 2,
        strategy = "mean", testSize = 5, nSplits = 2,
        models = Seq("naive", "linear_7", "linear_fourier_3",
          "ridge_fourier_3")))
    },

    // IVF ANN forecaster (the reference's Lance IVF regressor analog,
    // forecasting/lance.py): portable md5-ordered centroid row sample,
    // per-row argmin cell assignment, within-cell L2 top-5, mean label
    "fc_ann" -> Q({
      val cs = (1 to 7).map(j => s"f$j AS c$j").mkString(", ")
      def dsql(a: String, b: String) =
        (1 to 7).map(j => s"($a$j - $b$j) * ($a$j - $b$j)").mkString("(", " + ", ")")
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          red AS MATERIALIZED (SELECT * FROM lagd WHERE rn > 7),
          cent AS MATERIALIZED (
            SELECT rn2 - 1 AS cell, $cs FROM (
              SELECT row_number() OVER (ORDER BY
                       md5(user_id::VARCHAR || '_' || rn::VARCHAR), user_id, rn) AS rn2, *
              FROM red) WHERE rn2 <= 8),
          ca AS MATERIALIZED (
            SELECT user_id, rn, label, f1, f2, f3, f4, f5, f6, f7, cell FROM (
              SELECT r.user_id, r.rn, r.value AS label,
                     r.f1, r.f2, r.f3, r.f4, r.f5, r.f6, r.f7, c.cell,
                     row_number() OVER (PARTITION BY r.user_id, r.rn
                       ORDER BY ${dsql("r.f", "c.c")}, c.cell) AS cr
              FROM red r CROSS JOIN cent c) WHERE cr = 1),
          tail AS (SELECT user_id, ts AS cutoff, value AS q1, f1 AS q2, f2 AS q3,
                          f3 AS q4, f4 AS q5, f5 AS q6, f6 AS q7
                   FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rd FROM lagd)
                   WHERE rd = 1 AND f6 IS NOT NULL),
          qa AS (SELECT user_id, cutoff, q1, q2, q3, q4, q5, q6, q7, cell FROM (
              SELECT t.*, c.cell,
                     row_number() OVER (PARTITION BY t.user_id
                       ORDER BY ${dsql("t.q", "c.c")}, c.cell) AS cr
              FROM tail t CROSS JOIN cent c) WHERE cr = 1),
          topk AS (SELECT q_user, cutoff, label,
                     row_number() OVER (PARTITION BY q_user ORDER BY d, n_user, n_rn) AS nn
                   FROM (SELECT q.user_id AS q_user, q.cutoff, a.label,
                                a.user_id AS n_user, a.rn AS n_rn,
                                ${dsql("a.f", "q.q")} AS d
                         FROM qa q JOIN ca a ON q.cell = a.cell))
          SELECT q_user AS user_id, CAST(cutoff + INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(avg(label), 6) AS value
          FROM topk WHERE nn <= 5 GROUP BY q_user, cutoff"""
    }) { (s, dir) =>
      r6(KnnForecaster.predictOneStepIvf(ev(s, dir), "ts", "1d",
        lags = 7, k = 5, nCells = 8))
    },

    // exact KNN replicated: pooled AR-reduction training rows, squared
    // Euclidean distance to each entity's newest lag-tail (identical
    // left-to-right fold), top-5 by distance, mean label. Ties on
    // distance are label-identical in this data (continuous doubles),
    // so the row_number cut matches the operator's bounded heaps.
    "fc_knn" -> Q({
      val fs = (1 to 7).map(j => s"lag(value, $j) OVER w AS f$j").mkString(", ")
      val dist = (1 to 7).map(j => s"(t.f$j - q.q$j) * (t.f$j - q.q$j)")
        .mkString("(", " + ", ")")
      s"""WITH lagd AS (
            SELECT user_id, ts, event_id, value, $fs
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          train AS (SELECT value AS label, f1, f2, f3, f4, f5, f6, f7
                    FROM lagd WHERE f7 IS NOT NULL),
          q AS (SELECT user_id, ts AS cutoff, value AS q1, f1 AS q2, f2 AS q3,
                       f3 AS q4, f4 AS q5, f5 AS q6, f6 AS q7
                FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                        ORDER BY ts DESC, event_id DESC) AS rd FROM lagd)
                WHERE rd = 1 AND f6 IS NOT NULL),
          topk AS (
            SELECT user_id, cutoff, label,
                   row_number() OVER (PARTITION BY user_id ORDER BY d) AS nn
            FROM (SELECT q.user_id, q.cutoff, t.label, $dist AS d
                  FROM q CROSS JOIN train t))
          SELECT user_id, CAST(cutoff + INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(avg(label), 6) AS value
          FROM topk WHERE nn <= 5 GROUP BY user_id, cutoff"""
    }) { (s, dir) =>
      r6(KnnForecaster.predictOneStep(ev(s, dir), "ts", "1d", lags = 7, k = 5))
    },

    // RECURSIVE multi-horizon KNN (the reference's knn under the
    // base-forecaster recursion): horizon h's query vector prepends
    // ŷ_{h−1} to the shifted state; each step is a full distance
    // rank + top-5 mean, replicated as staged CROSS JOIN CTEs
    "fc_knn_recursive" -> Q(
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          ${OlsBacktestSql.knnRecursiveCtes("kr", 7, k = 5, horizons = 3,
        endRn = "cnt", trainCond = "TRUE")}
          SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                 round(CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END, 6) AS value
          FROM fp_kr CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)""") { (s, dir) =>
      r6(KnnForecaster.predictRecursive(ev(s, dir), "ts", "1d", lags = 7, k = 5, fh = 3))
    },

    // elite's knn members (elite.py:83-88, n_neighbors = lags//2 = 3):
    // recursive KNN plain, behind the z-score target transform, and
    // behind the linear-detrend target transform (knn_detrend_linear),
    // ranked against naive and linear_7, top-2 mean blend
    "fc_elite_knn" -> Q({
      val btLin = OlsBacktestSql.backtestLinear("lin7", 7, testSize = 5,
        nSplits = 2, stepSize = 5)
      val btKnn = OlsBacktestSql.backtestKnnRecursive("kn3", 7, k = 3,
        testSize = 5, nSplits = 2, stepSize = 5)
      val btKnnS = OlsBacktestSql.backtestKnnRecursive("kns3", 7, k = 3,
        testSize = 5, nSplits = 2, stepSize = 5, xform = "scale")
      val btKnnD = OlsBacktestSql.backtestKnnRecursive("knd3", 7, k = 3,
        testSize = 5, nSplits = 2, stepSize = 5, xform = "detrend")
      val btNv = OlsBacktestSql.backtestNaive("nv", 1, testSize = 5,
        nSplits = 2, stepSize = 5)
      val tags = Seq("nv" -> "naive", "lin7" -> "linear_7",
        "kn3" -> "knn_3", "kns3" -> "knn_scaled_3", "knd3" -> "knn_detrend_3")
      val scs = tags.map(t => OlsBacktestSql.entityScore(t._1))
      val allsc = tags.map { case (t, n) =>
        s"SELECT user_id, smape, '$n' AS model FROM sc_$t"
      }.mkString(" UNION ALL ")
      def linPred(tag: String, name: String) =
        s"""SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   CASE h WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END AS value,
                   '$name' AS model
            FROM fp_$tag CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)"""
      s"""WITH ${OlsBacktestSql.lagdCte(7)},
          $btLin,
          $btKnn,
          $btKnnS,
          $btKnnD,
          $btNv,
          ${scs.mkString(", ")},
          allsc AS ($allsc),
          winners AS (SELECT user_id, model FROM (
              SELECT user_id, model, row_number() OVER (PARTITION BY user_id
                       ORDER BY smape ASC NULLS LAST, model) AS rk
              FROM allsc) WHERE rk <= 2),
          ${OlsBacktestSql.fullLinear("f7", 7, fh = 3)},
          ${OlsBacktestSql.knnRecursiveCtes("fk3", 7, k = 3, horizons = 3,
        endRn = "cnt", trainCond = "TRUE")},
          ${OlsBacktestSql.knnRecursiveCtes("fks3", 7, k = 3, horizons = 3,
        endRn = "cnt", trainCond = "TRUE", xform = "scale")},
          ${OlsBacktestSql.knnRecursiveCtes("fkd3", 7, k = 3, horizons = 3,
        endRn = "cnt", trainCond = "TRUE", xform = "detrend")},
          state AS (SELECT user_id, arg_max(value, ts) AS lastv, max(ts) AS cutoff
                    FROM events GROUP BY user_id),
          preds AS (
            SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
                   lastv AS value, 'naive' AS model
            FROM state CROSS JOIN (SELECT unnest([1, 2, 3]) AS h)
            UNION ALL ${linPred("f7", "linear_7")}
            UNION ALL ${linPred("fk3", "knn_3")}
            UNION ALL ${linPred("fks3", "knn_scaled_3")}
            UNION ALL ${linPred("fkd3", "knn_detrend_3")})
          SELECT p.user_id, p.ts, round(avg(p.value), 6) AS value
          FROM preds p JOIN winners w ON p.user_id = w.user_id AND p.model = w.model
          GROUP BY p.user_id, p.ts"""
    }) { (s, dir) =>
      r6(EliteDeep.run(ev(s, dir), "ts", "1d", fh = 3, topK = 2,
        strategy = "mean", testSize = 5, nSplits = 2,
        models = Seq("naive", "linear_7", "knn_3", "knn_scaled_3",
          "knn_detrend_3")))
    },

    "p_coerce_dtypes" -> Q(
      """SELECT event_id, CAST(value AS FLOAT) AS value_f32,
                CAST(floor(value) AS BIGINT) AS value_i64
         FROM events""") {
      // coerce_dtypes (preprocessing.py:51): cast per provided schema
      (s, dir) =>
        tbl(s, dir, "events").select(col("event_id"),
          col("value").cast("float").as("value_f32"),
          floor(col("value")).cast("long").as("value_i64"))
    },

    "cv_filter_short" -> Q(
      s"""SELECT user_id, event_id FROM
            (SELECT user_id, event_id, count(*) OVER ($WE) AS cnt FROM events)
          WHERE cnt >= 67""") {
      // check_backtest_lengths (base/forecaster.py:40-77): drop series
      // shorter than the lag/backtest requirement
      (s, dir) =>
        CrossValidation.filterShortSeries(ev(s, dir), minLength = 67L)
          .select("user_id", "event_id")
    },

    "m_score_backtest" -> Q(
      s"""WITH b AS (SELECT user_id, ts, value, row_number() OVER ($W) AS rn,
                            count(*) OVER ($WE) AS cnt FROM events),
              s AS (SELECT i AS split FROM unnest([0, 1, 2]) AS t(i)),
              j AS (SELECT b.*, s.split, b.cnt - (10 + (2 - s.split) * 5) AS te
                    FROM b CROSS JOIN s),
              lastv AS (SELECT user_id, split, value AS pred FROM j WHERE rn = te),
              test AS (SELECT user_id, split, ts, value AS actual FROM j
                       WHERE rn > te AND rn <= te + 10),
              bt AS (SELECT t.user_id, t.split, t.actual, l.pred
                     FROM test t JOIN lastv l ON t.user_id = l.user_id AND t.split = l.split)
          SELECT user_id, split, round(sum(abs(pred - actual))/sum(pred + actual),6) AS smape
          FROM bt GROUP BY user_id, split""") {
      // score_backtest (multi_objective.py:110-166): per-(entity, split) score
      (s, dir) =>
        val bt = Conformal.backtest(ev(s, dir), "ts", testSize = 10, nSplits = 3, stepSize = 5,
          (train, fh) => Forecasters.naive(train, "ts", fh, "1d"))
        r6(bt.groupBy("user_id", "split")
          .agg(try_divide(sum(abs(col("pred") - col("actual"))), sum(col("pred") + col("actual")))
            .as("smape")))
    },

    "s_future_holiday" -> Q(
      """WITH state AS (SELECT user_id, max(ts) AS cutoff FROM events GROUP BY user_id),
             h AS (SELECT i AS h FROM unnest([1, 2, 3]) AS t(i)),
             f AS (SELECT user_id, CAST(h AS BIGINT) AS h,
                          CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts
                   FROM state CROSS JOIN h)
         SELECT user_id, ts, h,
                CASE WHEN month(ts) = 1 AND day(ts) = 1 THEN 'new_years_day'
                     WHEN month(ts) = 7 AND day(ts) = 4 THEN 'independence_day'
                     WHEN month(ts) = 12 AND day(ts) = 25 THEN 'christmas_day'
                END AS holiday
         FROM f""") {
      // make_future_holiday_effects (calendar.py:137)
      (s, dir) =>
        val years = 2015 to 2035
        val holidays = years.flatMap { y =>
          Seq((s"$y-01-01", "new_years_day"), (s"$y-07-04", "independence_day"),
            (s"$y-12-25", "christmas_day"))
        }.toList
        import s.implicits._
        val htbl = holidays.toDF("date_str", "holiday")
          .select(to_date(col("date_str")).as("date"), col("holiday"))
        val fut = Seasonality.futureRanges(ev(s, dir), "ts", fh = 3, freq = "1d")
          .withColumn("h", col("__h").cast("long")).drop("__h")
        Seasonality.addHolidayEffects(fut, "ts", htbl)
          .select("user_id", "ts", "h", "holiday")
    },

    "s_future_calendar" -> Q(
      """WITH state AS (SELECT user_id, max(ts) AS cutoff FROM events GROUP BY user_id),
             h AS (SELECT i AS h FROM unnest([1, 2, 3]) AS t(i)),
             f AS (SELECT user_id, CAST(h AS BIGINT) AS h,
                          CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts
                   FROM state CROSS JOIN h)
         SELECT user_id, ts, h,
                CAST(dayofweek(ts) + 1 AS VARCHAR) AS weekday,
                CAST(month(ts) AS VARCHAR) AS month
         FROM f""") {
      // make_future_calendar_effects (calendar.py:119): future ranges
      // composed with calendar extraction; DuckDB weekday base shifted.
      (s, dir) =>
        val fut = Seasonality.futureRanges(ev(s, dir), "ts", fh = 3, freq = "1d")
          .withColumn("h", col("__h").cast("long")).drop("__h")
        Seasonality.addCalendarEffects(fut, "ts", Seq("weekday", "month"))
          .select("user_id", "ts", "h", "weekday", "month")
    }
  )

  /** Longest run where diff ≥ t (above) / ≤ t (below) — the streak-id
    * window idiom standing in for Polars `.rle()` (SURVEY.md §2.0). */
  private def streakQuery(s: org.apache.spark.sql.SparkSession, dir: String,
                          above: Boolean, threshold: Double, out: String) = {
    val p = ev(s, dir)
    val d = p.df
      .withColumn("__d", p.x - lag(p.x, 1).over(p.w))
      .withColumn("__rn", row_number().over(p.w))
      .filter(col("__d").isNotNull)
      .withColumn("__cond",
        if (above) (col("__d") >= threshold).cast("int") else (col("__d") <= threshold).cast("int"))
    val grouped = d.withColumn("__grp", col("__rn") - row_number().over(
      Window.partitionBy(col("user_id"), col("__cond")).orderBy(col("__rn"))))
      .groupBy(col("user_id"), col("__cond"), col("__grp"))
      .agg(count(lit(1)).as("__cnt"))
    grouped.groupBy("user_id")
      .agg(coalesce(max(when(col("__cond") === 1, col("__cnt"))), lit(0L)).cast("long").as(out))
  }
}
