package graft.queries

import graft.core.Panel
import graft.operators.{Preprocess, Seasonality}
import org.apache.spark.sql.functions._
import Q._

/** SparkEntry registrations for preprocessing transformers
  * (SURVEY.md §2.1/§2.2). Per-row outputs key on event_id (unique)
  * rather than raw timestamps to sidestep ns/us parquet width
  * differences between engines. */
object PreprocessQueries {

  /** events with value nulled on 'error' rows — the impute fixtures. */
  private def evNulled(s: org.apache.spark.sql.SparkSession, dir: String): Panel = {
    val d = tbl(s, dir, "events")
      .withColumn("value", when(col("event_type") === "error", lit(null)).otherwise(col("value")))
    Panel(d, Seq("user_id"), Seq("ts", "event_id"), "value")
  }
  private val nulledSql =
    "SELECT user_id, ts, event_id, CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value FROM events"

  val all: Map[String, Q] = Map(
    "p_lag" -> FuzzBuilders.lagTransform(Seq(1, 2, 3)),

    "p_diff" -> FuzzBuilders.diffTransform(order = 1, sp = 1),

    "p_scale" -> Q(
      s"""SELECT event_id,
            round((value - avg(value) OVER ($WE)) / stddev_samp(value) OVER ($WE), 6) AS value
          FROM events""") {
      (s, dir) =>
        val (out, _) = Preprocess.scale(ev(s, dir))
        r6(out.select("event_id", "value"))
    },

    "p_roll" -> FuzzBuilders.rollTransform(5),

    "p_time_to_arange" -> Q(
      s"""SELECT event_id, CAST(row_number() OVER ($W) - 1 AS INT) AS time FROM events""") {
      (s, dir) => Preprocess.timeToArange(ev(s, dir)).select("event_id", "time")
    },

    "p_resample" -> Q(
      """SELECT user_id, CAST(ts AS DATE) AS time, round(sum(value),6) AS value
         FROM events GROUP BY user_id, CAST(ts AS DATE)""") {
      (s, dir) =>
        val p = ev(s, dir)
        r6(p.df.groupBy(col("user_id"), to_date(col("ts")).as("time"))
          .agg(sum(col("value")).as("value")))
    },

    "p_reindex" -> Q(
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day, round(sum(value),6) AS value
                        FROM events GROUP BY 1, 2),
              grid AS (SELECT u.user_id, d.day
                       FROM (SELECT DISTINCT user_id FROM daily) u
                       CROSS JOIN (SELECT DISTINCT day FROM daily) d)
         SELECT g.user_id, g.day, daily.value
         FROM grid g LEFT JOIN daily ON g.user_id = daily.user_id AND g.day = daily.day""") {
      (s, dir) =>
        val daily = r6(tbl(s, dir, "events")
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(sum(col("value")).as("value")))
        Preprocess.reindex(Panel(daily, Seq("user_id"), Seq("day"), "value"), "day")
    },

    "p_trim" -> Q(
      """WITH bounds AS (SELECT max(lo) AS lo, min(hi) AS hi FROM (
              SELECT user_id, min(ts) AS lo, max(ts) AS hi FROM events GROUP BY user_id))
         SELECT user_id, CAST(count(*) AS BIGINT) AS n
         FROM events, bounds WHERE ts >= bounds.lo AND ts <= bounds.hi
         GROUP BY user_id""") {
      (s, dir) =>
        Preprocess.trim(ev(s, dir), "ts")
          .groupBy("user_id").agg(count(lit(1)).as("n"))
    },

    "p_impute_mean" -> Q(
      s"""WITH n AS ($nulledSql)
          SELECT event_id, round(coalesce(value, avg(value) OVER ($WE)), 6) AS value FROM n""") {
      (s, dir) =>
        r6(Preprocess.impute(evNulled(s, dir), Preprocess.ImputeMean)
          .select("event_id", "value"))
    },

    "p_impute_ffill" -> Q(
      s"""WITH n AS ($nulledSql)
          SELECT event_id,
            coalesce(value, last_value(value IGNORE NULLS)
              OVER ($W ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) AS value
          FROM n""") {
      (s, dir) =>
        Preprocess.impute(evNulled(s, dir), Preprocess.ImputeForward)
          .select("event_id", "value")
    },

    "p_impute_bfill" -> Q(
      s"""WITH n AS ($nulledSql)
          SELECT event_id,
            coalesce(value, first_value(value IGNORE NULLS)
              OVER ($W ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)) AS value
          FROM n""") {
      (s, dir) =>
        Preprocess.impute(evNulled(s, dir), Preprocess.ImputeBackward)
          .select("event_id", "value")
    },

    "p_impute_median" -> Q(
      s"""WITH n AS ($nulledSql)
          SELECT event_id,
            round(coalesce(value, quantile_cont(value, 0.5) OVER ($WE)), 6) AS value
          FROM n""") {
      (s, dir) =>
        r6(Preprocess.impute(evNulled(s, dir), Preprocess.ImputeMedian)
          .select("event_id", "value"))
    },

    "p_interpolate" -> Q(
      s"""WITH n AS ($nulledSql),
              r AS (SELECT *, row_number() OVER ($W) AS rn FROM n),
              b AS (SELECT event_id, value, rn,
                last_value(value IGNORE NULLS) OVER ($W ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
                first_value(value IGNORE NULLS) OVER ($W ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
                last_value(CASE WHEN value IS NOT NULL THEN rn END IGNORE NULLS)
                  OVER ($W ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pi,
                first_value(CASE WHEN value IS NOT NULL THEN rn END IGNORE NULLS)
                  OVER ($W ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ni
                FROM r)
          SELECT event_id,
            round(CASE WHEN value IS NOT NULL THEN value
                 WHEN pv IS NULL THEN nv
                 WHEN nv IS NULL THEN pv
                 ELSE pv + (nv - pv) * (rn - pi) / (ni - pi) END, 6) AS value
          FROM b""") {
      (s, dir) =>
        r6(Preprocess.interpolate(evNulled(s, dir)).select("event_id", "value"))
    },

    "p_log1p" -> Q(
      "SELECT event_id, round(ln(1 + value),6) AS value FROM events") {
      (s, dir) => r6(Preprocess.log1pTransform(ev(s, dir)).select("event_id", "value"))
    },

    "p_boxcox" -> FuzzBuilders.boxcox(0.5),

    "p_yeojohnson" -> FuzzBuilders.yeojohnson(1.5),

    "p_detrend_linear" -> Q(
      // β/α from exact DECIMAL moment sums (β = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²)):
      // double covar/var partial sums reorder across engines and flip
      // ULPs at larger SFs; decimal sums are associative, so both
      // engines derive bit-identical coefficients (the library operator
      // itself uses covar_samp — this fixture needs cross-engine
      // determinism, its semantics are asserted in PreprocessSpec too)
      s"""WITH b AS (SELECT user_id, event_id, value,
                            CAST(value AS DECIMAL(28,10)) AS vd,
                            (row_number() OVER ($W) - 1)::DOUBLE AS i FROM events),
              m AS (SELECT user_id, count(*)::DOUBLE AS n,
                           CAST(sum(vd) AS DOUBLE) AS sy,
                           CAST(sum(vd * CAST(i AS DECIMAL(18,1))) AS DOUBLE) AS sxy,
                           sum(i) AS sx, sum(i*i) AS sxx
                    FROM b GROUP BY user_id),
              art AS (SELECT user_id,
                        (n*sxy - sx*sy) / (n*sxx - sx*sx) AS beta,
                        sy/n - (n*sxy - sx*sy) / (n*sxx - sx*sx) * (sx/n) AS alpha
                      FROM m)
          SELECT b.event_id, round(b.value - (art.beta * b.i + art.alpha),6) AS value
          FROM b JOIN art ON b.user_id = art.user_id""") {
      (s, dir) =>
        val p = ev(s, dir)
        val d = p.df
          .withColumn("__i", (row_number().over(p.w) - 1).cast("double"))
          .withColumn("__vd", col("value").cast("decimal(28,10)"))
        val m = d.groupBy("user_id").agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("__vd")).cast("double").as("sy"),
          sum(col("__vd") * col("__i").cast("decimal(18,1)")).cast("double").as("sxy"),
          sum(col("__i")).as("sx"), sum(col("__i") * col("__i")).as("sxx"))
        val beta = (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))
        val art = m.select(col("user_id"), beta.as("beta"),
          (col("sy") / col("n") - beta * (col("sx") / col("n"))).as("alpha"))
        r6(d.join(art, "user_id")
          .select(col("event_id"), (col("value") - (col("beta") * col("__i") + col("alpha"))).as("value")))
    },

    // robust Theil–Sen detrend: slope = median pairwise slope, per
    // entity (the reference's TheilSen regressor option). The oracle
    // fans pairs out through a self-join into quantile_cont; Spark fits
    // each entity in one aggregate whose medians reproduce percentile
    // bit for bit (quantile_cont ≡ percentile); rd6 absorbs any drift
    "p_detrend_theilsen" -> Q(
      s"""WITH b AS (SELECT user_id, event_id, value,
                            (row_number() OVER ($W) - 1)::DOUBLE AS i FROM events),
              sl AS (SELECT x.user_id,
                            quantile_cont((y.value - x.value) / (y.i - x.i), 0.5) AS beta
                     FROM b x JOIN b y ON x.user_id = y.user_id AND y.i > x.i
                     GROUP BY x.user_id),
              ic AS (SELECT b.user_id, quantile_cont(b.value - sl.beta * b.i, 0.5) AS alpha
                     FROM b JOIN sl USING (user_id) GROUP BY b.user_id)
          SELECT b.event_id, round(b.value - (sl.beta * b.i + ic.alpha), 6) AS value
          FROM b JOIN sl USING (user_id) JOIN ic USING (user_id)""") {
      (s, dir) =>
        val (out, _) = Preprocess.detrendTheilSen(ev(s, dir))
        r6(out.select("event_id", "value"))
    },

    // mean detrend (method="mean", preprocessing.py:772)
    "p_detrend_mean" -> Q(
      s"""SELECT event_id, round(value - avg(value) OVER ($WE), 6) AS value FROM events""") {
      (s, dir) =>
        val (out, _) = Preprocess.detrendMean(ev(s, dir))
        r6(out.select("event_id", "value"))
    },

    "p_fracdiff" -> FuzzBuilders.fracDiff(0.5, 10),

    "p_onehot" -> Q(
      """SELECT event_id,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS event_type__click,
           CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS event_type__error,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS event_type__purchase,
           CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS event_type__signup,
           CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS event_type__view
         FROM events""") {
      (s, dir) =>
        Preprocess.oneHotEncode(tbl(s, dir, "events"), "event_type")
          .select("event_id", "event_type__click", "event_type__error",
            "event_type__purchase", "event_type__signup", "event_type__view")
    },

    // transform_new (preprocessing.py:243-251): fit on events'
    // event_type, apply to a frame with an INJECTED unseen category —
    // the new frame re-dummies on its own categories (the unseen one
    // gets a column), and every fitted category present validates.
    // The raise path (a fitted category missing from new data) is
    // spec-checked in PreprocessSpec.
    "p_onehot_new" -> Q(
      """WITH n AS (SELECT event_id,
             CASE WHEN event_id % 97 = 0 THEN 'zz_new' ELSE event_type END AS event_type
           FROM events)
         SELECT event_id,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS event_type__click,
           CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS event_type__error,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS event_type__purchase,
           CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS event_type__signup,
           CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS event_type__view,
           CASE WHEN event_type = 'zz_new' THEN 1 ELSE 0 END AS event_type__zz_new
         FROM n""") {
      (s, dir) =>
        val events = tbl(s, dir, "events")
        val fitted = Preprocess.oneHotCategories(events, "event_type")
        val newFrame = events.withColumn("event_type",
          when(col("event_id") % 97 === 0, lit("zz_new")).otherwise(col("event_type")))
        Preprocess.oneHotTransformNew(newFrame, "event_type", fitted)
          .select("event_id", "event_type__click", "event_type__error",
            "event_type__purchase", "event_type__signup", "event_type__view",
            "event_type__zz_new")
    },

    "p_fourier_terms" -> FuzzBuilders.fourierTerms(sp = 24, k = 2),

    "p_calendar_effects" -> Q(
      """SELECT event_id,
           CAST(hour(ts) AS VARCHAR) AS hour,
           CAST(dayofmonth(ts) AS VARCHAR) AS day,
           CAST(dayofweek(ts) + 1 AS VARCHAR) AS weekday,
           CAST(month(ts) AS VARCHAR) AS month
         FROM events""") {
      // DuckDB dayofweek: 0=Sunday..6; Spark dayofweek: 1=Sunday..7 — oracle shifts.
      (s, dir) =>
        Seasonality.addCalendarEffects(tbl(s, dir, "events"), "ts",
          Seq("hour", "day", "weekday", "month"))
          .select("event_id", "hour", "day", "weekday", "month")
    }
  )
}
