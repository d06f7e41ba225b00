package graft

import graft.core.Panel
import graft.functions.FeatureAggs
import org.apache.spark.sql.functions._

/** Long-series soak for the collect-based typed aggregators: few
  * entities × very long series (default 64 × 100k points — the
  * opposite shape of ScaleSoak's 100k × 200) driving the SeriesBuf
  * buffer through reduce/merge/finish at panel-atypical lengths.
  * Exercises both the un-spilled ObjectHashAggregate path and (at
  * these row counts) partial-merge across partitions. Only kernels
  * that are ≲ O(n log n) run — the O(n²) entropy kernels are
  * documented as short-series features (the reference evaluates them
  * on panel-length windows too).
  *
  * Usage: runMain graft.SeriesSoak [nEntities] [pointsPerEntity]
  */
object SeriesSoak {
  def main(args: Array[String]): Unit = {
    val nEntities = args.headOption.map(_.toInt).getOrElse(64)
    val nPoints = args.drop(1).headOption.map(_.toInt).getOrElse(100000)
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
    println(s"[series-soak] rows=${df.count()} entities=$nEntities points=$nPoints")
    val p = Panel(df, Seq("entity"), Seq("t"), "value")
    def time(label: String)(agg: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column): Unit = {
      val t0 = System.nanoTime()
      // .rdd forces every output column to materialize — a bare
      // .count() lets ColumnPruning drop the (deterministic) udaf
      // entirely and times nothing but the group count
      val out = FeatureAggs.over(p, agg, "__out").rdd.count()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[series-soak] $label: $s%.1f s  (${n / s / 1e6}%.1f M rows/s, out=$out)")
    }
    time("lempel_ziv_complexity")(FeatureAggs.lempelZivComplexity(10.0, asRatio = true))
    time("cusum_count")(FeatureAggs.cusumCount(5.0, 200, 0.0))
    time("ar_coefficients(3)")(FeatureAggs.autoregressiveCoefficients(3))
    time("fft_coefficients(8)")(FeatureAggs.fftStruct(8))
    time("spkt_welch_density(5)")(FeatureAggs.spktWelchDensity(5))
    time("fourier_entropy(10)")(FeatureAggs.fourierEntropy(10))
    time("boxcox_lambda_mle")(FeatureAggs.boxcoxLambda)
    spark.stop()
  }
}
