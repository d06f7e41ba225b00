package graft.operators

import graft.core.Panel
import graft.functions.TheilSen
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Preprocessing transformers (reference: functime/preprocessing.py).
  *
  * Invertible transforms return their per-entity artifacts as a small
  * DataFrame (means/stds, first-values, λs) instead of hiding them in
  * closures — at scale the artifact frame is broadcast-joined back at
  * invert time (SURVEY.md §1.4, §7.5(4)).
  */
object Preprocess {

  /** For each lag ℓ add `<value>__lag_ℓ`; drop the first max-lag rows
    * per entity — preprocessing.py:168. */
  def lag(p: Panel, lags: Seq[Int]): DataFrame = {
    val maxLag = lags.max
    val withLags = lags.foldLeft(p.df) { (d, l) =>
      d.withColumn(s"${p.value}__lag_$l", org.apache.spark.sql.functions.lag(p.x, l).over(p.w))
    }
    withLags.withColumn("__rn", row_number().over(p.w))
      .filter(col("__rn") > maxLag).drop("__rn")
  }

  /** Lag columns WITHOUT dropping warmup rows (nulls in the first
    * max-lag positions) — for callers that filter by row position
    * themselves (e.g. prefix-sharing CV backtests). */
  def lagKeepAll(p: Panel, lags: Seq[Int]): DataFrame =
    lags.foldLeft(p.df) { (d, l) =>
      d.withColumn(s"${p.value}__lag_$l", org.apache.spark.sql.functions.lag(p.x, l).over(p.w))
    }

  /** Order-k seasonal differencing applied `order` times —
    * preprocessing.py:491. Returns (diffed, headsPerIteration): the
    * sp head rows of each intermediate series, exactly the artifacts
    * needed for inversion (the reference's X_first frames,
    * preprocessing.py:510-515). */
  def diff(p: Panel, order: Int, sp: Int): (DataFrame, Seq[DataFrame]) = {
    var cur = p.df
    val heads = (1 to order).map { i =>
      // heads of iteration i = first i·sp rows of its INPUT series
      // (rows 1..(i−1)·sp are that input's own warmup nulls)
      val h = cur.withColumn("__rn", row_number().over(p.w))
        .filter(col("__rn") <= sp * i)
        .select((p.entityCols ++ p.orderCols :+ p.x.as("__head")): _*)
      cur = cur.withColumn(p.value,
        p.x - org.apache.spark.sql.functions.lag(p.x, sp).over(
          Window.partitionBy(p.entityCols: _*).orderBy(p.orderCols: _*)))
      h
    }
    (cur, heads)
  }

  /** Invert [[diff]]: per iteration (reversed), seed the first i·sp
    * rows from the stored heads, then cumulative-sum within each
    * (entity, phase = row mod sp) lane — the seasonal analog of the
    * reference's cum_sum().over(entity) (preprocessing.py:534-571).
    * Warmup nulls stay null (sum over an all-null prefix is null). */
  def diffInvert(diffed: DataFrame, heads: Seq[DataFrame], entity: Seq[String],
                 order: Seq[String], value: String, sp: Int): DataFrame = {
    val e = entity.map(col)
    val w = Window.partitionBy(e: _*).orderBy(order.map(col): _*)
    heads.zipWithIndex.reverse.foldLeft(diffed) { case (d, (h, idx)) =>
      val cutoff = sp * (idx + 1)
      val seeded = d
        .withColumn("__rn", row_number().over(w))
        .join(broadcast(h), entity ++ order, "left")
        .withColumn("__v", when(col("__rn") <= cutoff, col("__head")).otherwise(col(value)))
        .withColumn("__phase", (col("__rn") - 1) % sp)
      val lane = Window.partitionBy((e :+ col("__phase")): _*).orderBy(order.map(col): _*)
      seeded.withColumn(value, sum(col("__v")).over(lane.rowsBetween(Window.unboundedPreceding, 0)))
        .drop("__rn", "__head", "__v", "__phase")
    }
  }

  /** Per-entity standardization (z-score) — preprocessing.py:340.
    * Returns (scaled, artifacts(entity, __mean, __std)). */
  def scale(p: Panel, useMean: Boolean = true, useStd: Boolean = true): (DataFrame, DataFrame) = {
    val art = p.agg(avg(p.x).as("__mean"), stddev_samp(p.x).as("__std"))
    val scaled = p.df.join(broadcastIfSmall(art), p.entity)
      // try_divide: a constant entity has std = 0 and ANSI double
      // division would kill the whole job; null-scaled rows match the
      // DuckDB oracle's double/0 = NULL semantics
      .withColumn(p.value,
        try_divide(p.x - (if (useMean) col("__mean") else lit(0.0)),
          if (useStd) col("__std") else lit(1.0)))
      .drop("__mean", "__std")
    (scaled, art)
  }

  /** Invert of [[scale]]: x·σ + μ. */
  def scaleInvert(df: DataFrame, art: DataFrame, entity: Seq[String], value: String): DataFrame =
    df.join(broadcastIfSmall(art), entity)
      .withColumn(value, col(value) * col("__std") + col("__mean"))
      .drop("__mean", "__std")

  /** Null-fill strategies per entity — preprocessing.py:431. */
  sealed trait ImputeStrategy
  case object ImputeMean extends ImputeStrategy
  case object ImputeMedian extends ImputeStrategy
  case object ImputeForward extends ImputeStrategy
  case object ImputeBackward extends ImputeStrategy
  final case class ImputeConstant(v: Double) extends ImputeStrategy

  def impute(p: Panel, strategy: ImputeStrategy): DataFrame = strategy match {
    case ImputeMean =>
      p.df.withColumn(p.value, coalesce(p.x, avg(p.x).over(p.we)))
    case ImputeMedian =>
      p.df.withColumn(p.value, coalesce(p.x, percentile(p.x, lit(0.5)).over(p.we)))
    case ImputeForward =>
      p.df.withColumn(p.value,
        coalesce(p.x, last(p.x, ignoreNulls = true)
          .over(p.w.rowsBetween(Window.unboundedPreceding, -1))))
    case ImputeBackward =>
      p.df.withColumn(p.value,
        coalesce(p.x, first(p.x, ignoreNulls = true)
          .over(p.w.rowsBetween(1, Window.unboundedFollowing))))
    case ImputeConstant(v) =>
      p.df.withColumn(p.value, coalesce(p.x, lit(v)))
  }

  /** Linear interpolation of nulls per entity — preprocessing.py:473.
    * Window idiom: previous/next non-null value + their row distances. */
  def interpolate(p: Panel): DataFrame = {
    val pr = p.df.withColumn("__rn", row_number().over(p.w))
    val before = p.w.rowsBetween(Window.unboundedPreceding, -1)
    val after = p.w.rowsBetween(1, Window.unboundedFollowing)
    val pv = last(p.x, ignoreNulls = true).over(before)
    val nv = first(p.x, ignoreNulls = true).over(after)
    val pi = last(when(p.x.isNotNull, col("__rn")), ignoreNulls = true).over(before)
    val ni = first(when(p.x.isNotNull, col("__rn")), ignoreNulls = true).over(after)
    pr.withColumn(p.value,
        when(p.x.isNotNull, p.x)
          .when(pv.isNull, nv)
          .when(nv.isNull, pv)
          .otherwise(pv + (nv - pv) * (col("__rn") - pi) / (ni - pi)))
      .drop("__rn")
  }

  /** Rolling stats with leakage shift — preprocessing.py:257: for each
    * window size w and stat, value at t covers rows [t−w, t−1]
    * (shifted by one so the current row never leaks). */
  def roll(p: Panel, windowSizes: Seq[Int], stats: Seq[String]): DataFrame =
    windowSizes.foldLeft(p.df) { (d0, ws) =>
      val frame = p.w.rowsBetween(-ws, -1)
      stats.foldLeft(d0) { (d, st) =>
        val c = st match {
          case "mean" => avg(p.x).over(frame)
          case "sum"  => sum(p.x).over(frame)
          case "min"  => min(p.x).over(frame)
          case "max"  => max(p.x).over(frame)
          case "std"  => stddev_samp(p.x).over(frame)
          case "cv"   => stddev_samp(p.x).over(frame) / avg(p.x).over(frame)
          case "mlm"  => avg(p.x).over(frame) - last(p.x).over(frame)
          case other  => throw new IllegalArgumentException(s"unknown roll stat $other")
        }
        d.withColumn(s"${p.value}__rolling_${st}_$ws", c)
      }
    }

  /** Replace time with 0..n−1 per entity — preprocessing.py:71. */
  def timeToArange(p: Panel, out: String = "time"): DataFrame =
    p.df.withColumn(out, row_number().over(p.w) - lit(1))

  /** Downsample to a fixed calendar bucket with sum/mean/median —
    * preprocessing.py:95 (group_by_dynamic ≅ groupBy(entity,
    * date_trunc)). `timeCol` must be a timestamp. */
  def resample(p: Panel, timeCol: String, every: String, agg: String): DataFrame = {
    val bucket = date_trunc(every, col(timeCol)).as("time")
    val a = agg match {
      case "sum"    => sum(p.x)
      case "mean"   => avg(p.x)
      case "median" => percentile(p.x, lit(0.5))
      case other    => throw new IllegalArgumentException(s"unknown resample agg $other")
    }
    p.df.groupBy((p.entityCols :+ bucket): _*).agg(a.as(p.value))
  }

  /** Cross-join unique entities × unique timestamps, left-join data
    * back → explicit missing rows — preprocessing.py:25. The time
    * dimension is tiny relative to data (distinct timestamps), so it
    * broadcasts; the big side never shuffles twice. */
  def reindex(p: Panel, timeCol: String): DataFrame = {
    val entities = p.df.select(p.entityCols: _*).distinct()
    val times = p.df.select(col(timeCol)).distinct()
    entities.crossJoin(broadcast(times))
      .join(p.df, p.entity :+ timeCol, "left")
  }

  /** Clip all series to [max of per-entity min-times, min of
    * per-entity max-times] — preprocessing.py:137. */
  def trim(p: Panel, timeCol: String): DataFrame = {
    val bounds = p.df.groupBy(p.entityCols: _*)
      .agg(min(col(timeCol)).as("__lo"), max(col(timeCol)).as("__hi"))
      .agg(max(col("__lo")).as("__lo"), min(col("__hi")).as("__hi"))
    p.df.join(broadcast(bounds))
      .filter(col(timeCol) >= col("__lo") && col(timeCol) <= col("__hi"))
      .drop("__lo", "__hi")
  }

  /** log1p / expm1 — preprocessing.py:739. */
  def log1pTransform(p: Panel): DataFrame = p.df.withColumn(p.value, log1p(p.x))
  def log1pInvert(df: DataFrame, value: String): DataFrame =
    df.withColumn(value, expm1(col(value)))

  /** Per-entity linear detrend in closed form —
    * preprocessing.py:772: β = cov(x, i)/var(i) over the arange index.
    * Returns (residuals, artifacts(entity, __beta, __alpha)). */
  def detrendLinear(p: Panel): (DataFrame, DataFrame) = {
    val pr = p.withRowIdx("__i")
    val i = col("__i").cast("double")
    val art = Panel(pr.df, p.entity, p.order, p.value).agg(
      (covar_samp(p.x, i) / var_samp(i)).as("__beta"),
      (avg(p.x) - covar_samp(p.x, i) / var_samp(i) * avg(i)).as("__alpha"))
    val out = pr.df.join(broadcastIfSmall(art), p.entity)
      .withColumn(p.value, p.x - (col("__beta") * col("__i") + col("__alpha")))
      .drop("__beta", "__alpha")
    (out, art)
  }

  /** Robust Theil–Sen detrend — the reference's robust-regressor
    * alternative (deseasonalize's TheilSenRegressor option,
    * preprocessing.py:971-1013) applied to the linear trend: per
    * entity, slope = median of all pairwise slopes (yⱼ−yᵢ)/(j−i),
    * intercept = median of y − slope·i (the classic exact estimator).
    * Both medians are Spark's `percentile(·, 0.5)` bit for bit. A null
    * y keeps its row index (index gaps survive) but stays out of the
    * fit; an entity with fewer than two non-null points gets null
    * artifacts and null residuals.
    *
    * Scale shape: [[graft.functions.TheilSen]] runs as a whole-entity
    * window aggregate over the row-index window's partitioning — ONE
    * entity shuffle of the rows, no pair rows, no join back. Each
    * entity's n·(n−1)/2 slopes (8 bytes per pair) live in one task;
    * past 65,536 non-null points the fit fails with a named error
    * (pair sampling, the usual mitigation, is not implemented). Returns
    * (residuals, artifacts(entity, __beta, __alpha)) with one artifact
    * row per input entity. */
  def detrendTheilSen(p: Panel): (DataFrame, DataFrame) = {
    val fitted = p.withRowIdx("__i").df
      .withColumn("__fit", TheilSen(col("__i"), p.x).over(p.we))
      .withColumn("__beta", col("__fit.beta"))
      .withColumn("__alpha", col("__fit.alpha"))
      .drop("__fit")
    val out = fitted
      .withColumn(p.value, p.x - (col("__beta") * col("__i").cast("double") + col("__alpha")))
      .drop("__beta", "__alpha")
    val art = fitted.groupBy(p.entityCols: _*)
      .agg(first(col("__beta")).as("__beta"), first(col("__alpha")).as("__alpha"))
    (out, art)
  }

  /** Mean detrend — preprocessing.py:772 (method="mean"). */
  def detrendMean(p: Panel): (DataFrame, DataFrame) = {
    val art = p.agg(avg(p.x).as("__mean"))
    val out = p.df.join(broadcastIfSmall(art), p.entity)
      .withColumn(p.value, p.x - col("__mean")).drop("__mean")
    (out, art)
  }

  /** Box-Cox with fixed λ — preprocessing.py:577 transform body:
    * (x^λ−1)/λ, or ln x when λ=0. (Per-entity λ estimation lives in
    * [[graft.functions.FeatureAggs.BoxCoxLambda]].) */
  def boxcox(x: Column, lambda: Column): Column =
    when(lambda === 0.0, log(x)).otherwise((pow(x, lambda) - 1) / lambda)

  def boxcoxInvert(y: Column, lambda: Column): Column =
    when(lambda === 0.0, exp(y)).otherwise(pow(y * lambda + 1, lit(1.0) / lambda))

  /** Yeo-Johnson 4-branch transform — preprocessing.py:685-699. */
  def yeojohnson(x: Column, lambda: Column): Column =
    when(x >= 0 && lambda =!= 0.0, (pow(x + 1, lambda) - 1) / lambda)
      .when(x >= 0 && lambda === 0.0, log1p(x))
      .when(x < 0 && lambda =!= 2.0, -(pow(-x + 1, lit(2.0) - lambda) - 1) / (lit(2.0) - lambda))
      .otherwise(-log1p(-x))

  /** Invert [[yeojohnson]] — preprocessing.py:708-733: y≥0 ↔ x≥0, so
    * the branch is chosen on the transformed sign. */
  def yeojohnsonInvert(y: Column, lambda: Column): Column =
    when(y >= 0 && lambda =!= 0.0, pow(y * lambda + 1, lit(1.0) / lambda) - 1)
      .when(y >= 0 && lambda === 0.0, expm1(y))
      .when(y < 0 && lambda =!= 2.0,
        lit(1.0) - pow(-(lit(2.0) - lambda) * y + 1, lit(1.0) / (lit(2.0) - lambda)))
      .otherwise(-expm1(-y))

  /** Fractional differencing Σ w_k·x_{t−k} — preprocessing.py:1083.
    * Binomial weights w_k = −w_{k−1}·(d−k+1)/k are a pure function of
    * d (reference src/preprocessing/fractional_differencing.rs:7-21),
    * precomputed driver-side; the sum is a codegen'd window expression. */
  def fracDiffWeights(d: Double, threshold: Double, maxSize: Int): Array[Double] = {
    val buf = scala.collection.mutable.ArrayBuffer(1.0)
    var k = 1
    while (k < maxSize && math.abs(buf.last * (d - k + 1) / k) >= threshold) {
      buf += -buf.last * (d - k + 1) / k
      k += 1
    }
    buf.toArray
  }

  def fracDiff(p: Panel, d: Double, threshold: Double = 1e-5, maxSize: Int = 100,
               out: String = "frac_diff"): DataFrame = {
    val ws = fracDiffWeights(d, threshold, maxSize)
    val expr = ws.zipWithIndex.map { case (wk, k) =>
      lit(wk) * org.apache.spark.sql.functions.lag(p.x, k).over(p.w)
    }.reduce(_ + _)
    p.df.withColumn(out, expr)
  }

  /** One-hot encode a categorical column via pivot —
    * preprocessing.py:213. Categories are a fit artifact (collected
    * once, small by definition). */
  def oneHotEncode(df: DataFrame, column: String): DataFrame =
    oneHotApply(df, column, oneHotCategories(df, column))

  /** The fit artifact: the column's distinct categories, sorted (the
    * reference's `dummy_cols` modulo the column prefix). */
  def oneHotCategories(df: DataFrame, column: String): Seq[String] =
    // nulls are not a category: a null row would NPE String.compareTo
    // in the sort; null-category rows get all-zero dummies downstream
    df.select(col(column)).distinct().collect()
      .flatMap(r => Option(r.getString(0))).sorted.toSeq

  private def oneHotApply(df: DataFrame, column: String,
                          cats: Seq[String]): DataFrame =
    cats.foldLeft(df) { (d, c) =>
      d.withColumn(s"${column}__$c", when(col(column) === c, 1).otherwise(0))
    }.drop(column)

  /** Apply a FITTED one-hot encoding to new data —
    * preprocessing.py:243-251 `transform_new`: the new frame is
    * re-dummied on its OWN categories (unseen new categories get their
    * own dummy columns, as Polars `to_dummies` gives the reference),
    * then validated: every fit-time category must appear in the new
    * data, else raise — a silently absent fitted dummy would feed
    * all-zero columns to a downstream model trained expecting them. */
  def oneHotTransformNew(df: DataFrame, column: String,
                         fittedCats: Seq[String]): DataFrame = {
    val newCats = oneHotCategories(df, column)
    val missing = fittedCats.toSet -- newCats.toSet
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Missing categories: ${missing.toSeq.sorted.mkString(", ")} — " +
          s"'$column' in the new frame lacks categories seen at fit time")
    oneHotApply(df, column, newCats)
  }

  /** Broadcast hint for per-entity artifact frames (small by
    * construction: one row per entity). At very high entity
    * cardinality Spark's auto-broadcast threshold takes over. */
  private def broadcastIfSmall(df: DataFrame): DataFrame = broadcast(df)
}
