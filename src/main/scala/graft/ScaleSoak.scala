package graft

import graft.core.Panel
import org.apache.spark.sql.functions._

/** Scale soak: synthetic panel ~100k entities x 200 points (20M rows,
  * ~200x the sf0.1 events table) driven through representative
  * operator families, reporting wall-clock and rows/sec. Supports the
  * SCALE.md analysis with measured numbers.
  *
  * Usage: runMain graft.ScaleSoak [nEntities] [pointsPerEntity]
  */
object ScaleSoak {
  def main(args: Array[String]): Unit = {
    val nEntities = args.headOption.map(_.toInt).getOrElse(100000)
    val nPoints = args.drop(1).headOption.map(_.toInt).getOrElse(200)
    val spark = GraftSession.build(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    val n = nEntities.toLong * nPoints
    val df = spark.range(n).select(
      (col("id") / nPoints).cast("long").as("entity"),
      (col("id") % nPoints).cast("long").as("t"),
      (sin(col("id") % nPoints * 0.3) * 20 +
        pmod(xxhash64(col("id")), lit(1000)).cast("double") / 100).as("value"))
      .repartition(64, col("entity"))
      .cache()
    println(s"[soak] rows=${df.count()} entities=$nEntities points=$nPoints")
    val p = Panel(df, Seq("entity"), Seq("t"), "value")
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val out = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[soak] $label: $s%.1f s  (${n / s / 1e6}%.1f M rows/s, out=$out)")
    }
    time("10 SQL features groupBy(entity)") {
      p.agg(
        sum(p.x * p.x).as("abs_energy"),
        greatest(abs(min(p.x)), abs(max(p.x))).as("abs_max"),
        avg(p.x).as("mean"), stddev_samp(p.x).as("std"),
        count_distinct(p.x).cast("double").as("n_unique"),
        sqrt(avg(p.x * p.x)).as("rms"),
        try_divide(stddev_pop(p.x), avg(p.x)).as("var_coef"),
        max(p.x).as("max"), min(p.x).as("min"),
        percentile(p.x, lit(0.5)).as("median")).rdd.count()  // .rdd defeats ColumnPruning — a bare count() drops the aggs
    }
    time("window pipeline: lag+diff+roll per entity") {
      val d = p.df
        .withColumn("l1", lag(p.x, 1).over(p.w))
        .withColumn("d1", p.x - lag(p.x, 1).over(p.w))
        .withColumn("roll5", avg(p.x).over(p.w.rowsBetween(-5, -1)))
      d.filter(col("d1").isNotNull).rdd.count()  // materialize l1/roll5 too
    }
    time("linear forecaster fit (lags=7, normal solver)") {
      val m = graft.operators.LinearForecaster.fit(p, lags = 7, freq = "1i")
      m.weights.length.toLong
    }
    time("recursive predict fh=14 (closed form)") {
      graft.operators.LinearForecaster.fit(p, lags = 7, freq = "1i")
        .predict(p, "t", fh = 14).rdd.count()
    }
    time("expanding-window linear backtest (2 splits, shared prefix pass)") {
      graft.operators.AutoForecast.backtestLinearPrefix(
        p, "t", lags = 7, testSize = 10, nSplits = 2, stepSize = 5).rdd.count()
    }
    time("lasso fit (lags=7, CD on one-pass centered moments)") {
      val m = graft.operators.LinearForecaster.fit(p, lags = 7, freq = "1i",
        regParam = 0.5, elasticNetParam = 1.0)
      m.weights.count(_ != 0.0).toLong
    }
    time("censored fit (IRLS logistic 6 passes + above-threshold OLS)") {
      val m = graft.operators.CensoredForecaster.fit(p, lags = 7, freq = "1i",
        threshold = 10.0)
      m.pWeights.length.toLong
    }
    time("exog dow fit (7 lags + 6 calendar dummies, one 14-dim moment pass)") {
      val pd = Panel(df.withColumn("ts",
        expr("timestamp_seconds(1600000000 + t * 86400)")),
        Seq("entity"), Seq("ts"), "value")
      val m = graft.operators.ExogDowLinear.fit(pd, lags = 7, freq = "1d",
        timeCol = "ts")
      m.dowW.length.toLong
    }
    spark.stop()
  }
}
