package graft.functions

import org.apache.spark.sql.DataFrame

/** Logistic regression by IRLS / Newton on per-iteration moment sums —
  * the classifier side of the censored forecaster family (reference:
  * functime/forecasting/censored.py:32-96, whose classifier is a
  * driver-side sklearn fit over the collected reduction).
  *
  * Spark-native shape: the complete rows are persisted once as
  * [[FitBlocks]]; iteration t is then ONE pass whose fold computes, per
  * row, η = β₀ + Σ βⱼxⱼ (left fold), μ = σ(η), w = μ(1−μ) and r = y − μ,
  * and accumulates the weighted normal moments X^T W X (upper triangle)
  * and the gradient X^T (y − μ). β travels in the fold's closure; the
  * partials merge in Spark's `sum` order and the driver takes the
  * Newton step (a (p+1)-dim Cholesky). Under [[FitBlocks.driverCap]]
  * the row-count pass brings the blocks to the driver and every
  * iteration folds there; only past the cap is an iteration one RDD
  * job. `iters` passes total, each O(p²) state per partition: at 100 TB
  * this is `iters` scans of the cached blocks, never a collected
  * matrix, and typically fewer passes than LBFGS needs for the same
  * tolerance.
  *
  * A FIXED iteration count (no tolerance exit) keeps the update
  * sequence deterministic, so the DuckDB oracle
  * (queries/OlsBacktestSql.logisticIrlsSql) replicates it
  * step-exactly. Newton converges quadratically: 6 iterations reach
  * the MLE to ~machine precision on non-separable data.
  */
object Logistic {

  /** Fit P(label=1) = σ(b₀ + w·x). `lambda` > 0 adds an L2 penalty
    * λ/2·‖w‖² (intercept unpenalized). Rows with any null dropped.
    * Returns (intercept, weights). */
  def fitIrls(df: DataFrame, featureCols: Seq[String], labelCol: String,
              lambda: Double = 0.0, iters: Int = 6): (Double, Array[Double]) = {
    val p = featureCols.length
    // block column j < p is feature j+1; column p is the label
    val blocks = FitBlocks.persist(df, featureCols :+ labelCol)
    try {
      // one job materializes the blocks and counts their rows
      val n = blocks.sum(0, 1)((b, _, c) => c(0) += b.n).counts(0)
      if (n == 0) throw noRows(featureCols, labelCol)
      fitBlocks(blocks, p, n, lambda, iters)
    } finally blocks.unpersist()
  }

  /** The error of a logistic fit with no complete row. */
  private[graft] def noRows(featureCols: Seq[String], labelCol: String) =
    new IllegalArgumentException(
      s"logistic fit has no complete training rows (all rows empty or " +
        s"null in ${featureCols.mkString(", ")} / $labelCol)")

  /** The IRLS iterations of [[fitIrls]] over persisted, materialized
    * blocks of `n` > 0 complete rows: block columns 0..p−1 are the
    * features, column p the 0/1 label (later columns are not read).
    * Callers that fold more into their row-count pass (the censored
    * forecaster's regression) enter here. */
  private[graft] def fitBlocks(blocks: FitBlocks.Persisted, p: Int, n: Long,
                               lambda: Double, iters: Int): (Double, Array[Double]) = {
    val d = p + 1
    // the fits' coalesce rule; a set under the driver cap folds the
    // same groups on the driver, so the sums are the same bits on
    // either side of the cap
    val parts = FitBlocks.coalesceParts(blocks.numPartitions, n)
    val rows = if (parts < blocks.numPartitions) blocks.coalesce(parts) else blocks
    val tri = d * (d + 1) / 2
    val beta = new Array[Double](d)
    var t = 0
    while (t < iters) {
      val bt = beta.clone()
      // slots 0..tri−1: Σ (w·xᵢ)·xⱼ for i ≤ j, row-major upper
      // triangle; slots tri..tri+d−1: Σ r·xᵢ — with x₀ = 1.0, the
      // products and their order as the SQL oracle generator writes
      // them; keep the two in lockstep
      val m = rows.sum(tri + d, 0) { (b, s, _) =>
        val x = new Array[Double](d)
        x(0) = 1.0
        val y = b.cols(p)
        var r = 0
        while (r < b.n) {
          var j = 1
          while (j < d) { x(j) = b.cols(j - 1)(r); j += 1 }
          var eta = bt(0)
          j = 1
          while (j < d) { eta += bt(j) * x(j); j += 1 }
          // Spark's exp is StrictMath.exp, interpreted and codegen'd
          val mu = 1.0 / (1.0 + StrictMath.exp(-eta))
          val w = mu * (1.0 - mu)
          val res = y(r) - mu
          var k = 0
          var i = 0
          while (i < d) {
            val wi = w * x(i)
            j = i
            while (j < d) { s(k) += wi * x(j); k += 1; j += 1 }
            i += 1
          }
          i = 0
          while (i < d) { s(tri + i) += res * x(i); i += 1 }
          r += 1
        }
      }
      val h = Array.ofDim[Double](d, d)
      var k = 0
      for (i <- 0 until d; j <- i until d) {
        h(i)(j) = m.sums(k); h(j)(i) = m.sums(k); k += 1
      }
      val g = Array.tabulate(d)(i => m.sums(tri + i))
      if (lambda != 0.0) {
        var j = 1
        while (j < d) { h(j)(j) += lambda; g(j) -= lambda * beta(j); j += 1 }
      }
      val delta = Ols.choleskySolve(h, g)
      var j = 0
      while (j < d) { beta(j) += delta(j); j += 1 }
      t += 1
    }
    (beta(0), beta.drop(1))
  }
}
