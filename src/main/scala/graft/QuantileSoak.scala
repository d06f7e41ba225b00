package graft

import graft.core.Panel
import graft.operators.TreeBoost
import org.apache.spark.sql.functions._

/** Quantile-objective renewal at scale: fits the same boosted quantile
  * model in exact mode (`percentile` — value→count buffer,
  * O(distinct residuals) on the merging task) and production mode
  * (`quantileExact = false` → t-digest `approx_percentile`, bounded
  * buffer) over a panel of CONTINUOUS targets where every residual is
  * distinct — the shape whose exact-mode buffer grows with the data.
  * Reports wall + max prediction divergence. SCALE.md carries the row.
  *
  * Usage: runMain graft.QuantileSoak [nEntities] [nPoints]
  */
object QuantileSoak {
  def main(args: Array[String]): Unit = {
    val nEntities = args.headOption.map(_.toInt).getOrElse(100000)
    val nPoints = args.drop(1).headOption.map(_.toInt).getOrElse(200)
    val cpus = GraftSession.cpus
    val spark = GraftSession.build(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // continuous target: hash-noise makes every value (and so every
    // in-leaf residual) distinct — the exact percentile buffer then
    // holds one entry PER TRAINING ROW on the merge task
    val df = spark.range(nEntities.toLong * nPoints).select(
      (col("id") % nEntities).as("entity"),
      (col("id") / nEntities).cast("long").as("t"))
      .withColumn("value",
        lit(50.0) + (col("t") % 7).cast("double") +
          pmod(xxhash64(col("entity"), col("t")), lit(1000000000)).cast("double") / 1e8)
      .repartition(cpus, col("entity"))
    val p = Panel(df.cache(), Seq("entity"), Seq("t"), "value")
    println(s"[q-soak] rows=${p.df.count()} (all-distinct continuous target)")
    def run(tag: String, exact: Boolean, weighted: Boolean,
            delta: Int = 2000): Array[Double] = {
      val t0 = System.nanoTime()
      // recency weights — fractional, so the weighted renewal paths
      // (exact microweight lattice vs bounded merging-histogram
      // sketch) actually exercise their fractional-weight arithmetic
      val w = if (weighted)
        Some((rn: org.apache.spark.sql.Column, cnt: org.apache.spark.sql.Column) =>
          lit(1.0) / (lit(1.0) + (cnt - rn) / lit(50.0)))
      else None
      val m = TreeBoost.fit(p, lags = 5, freq = "1i", rounds = 3, bins = 4,
        eta = 0.3, objective = "quantile", objParam = 0.9, quantileExact = exact,
        weight = w, quantileDelta = delta)
      val preds = m.predict(p, "t", fh = 3)
        .orderBy("entity", "t").limit(1000).collect().map(_.getDouble(2))
      println(f"[q-soak] $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      preds
    }
    val ex = run("exact percentile (oracle mode)", exact = true, weighted = false)
    val ap = run("approx_percentile 1e5 (production mode)", exact = false, weighted = false)
    val maxDiv = ex.zip(ap).map { case (a, b) => math.abs(a - b) }.max
    println(f"[q-soak] max |exact - approx| over 1000 preds: $maxDiv%.6f")
    // weighted twin pair: exact pair-buffer renewal (O(rows in leaf)
    // on the merge task) vs the bounded WeightedQuantileSketch
    val exW = run("weighted exact (microweight lattice)", exact = true, weighted = true)
    // the δ knob's accuracy/cost trade, measured end-to-end: default
    // δ=2000 (~5e-4 rank error) and δ=20000 (~5e-5, 10× the per-group
    // state) — SCALE.md carries the divergence at both budgets
    for (delta <- Seq(2000, 20000)) {
      val apW = run(s"weighted sketch (δ=$delta bounded)", exact = false,
        weighted = true, delta = delta)
      val maxDivW = exW.zip(apW).map { case (a, b) => math.abs(a - b) }.max
      println(f"[q-soak] weighted δ=$delta%d max |exact - sketch| over 1000 preds: $maxDivW%.6f")
    }
    spark.stop()
  }
}
