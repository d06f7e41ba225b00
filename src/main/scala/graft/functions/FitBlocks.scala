package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** A fit's training columns as one primitive block per partition, and
  * the one-job-per-pass reduction that iterative fits
  * ([[graft.operators.StumpBoost]], [[Logistic]]) and the multi-model
  * closed-form fits ([[Ols.fitSets]], the censored forecaster) run over
  * them.
  *
  * A pass is ONE RDD job with no Catalyst query: each task folds its
  * rows — and, under a coalesce, its blocks in sequence — into one
  * partial array from 0.0; the driver then merges the collected
  * partials in partition-index order, also from 0.0. That is Spark's
  * `Sum` exactly: the partial update is `coalesce(sum, 0) + x` over the
  * partition's rows in order, the final merge adds the map outputs in
  * map-index order, and a partition with no input (a null partial in
  * SQL, a 0.0 here) changes nothing, because a sum that starts at 0.0
  * is never −0.0. So every fitted double is bit-identical to the SQL
  * aggregate the DuckDB oracle mirrors. `treeAggregate`/`reduce` are
  * not used: their merge order follows task completion.
  *
  * The blocks keep the layout `df.cache()` would have (same executed
  * plan, same partitions, same row order — [[GraftSqlBridge.cacheLayoutRows]]),
  * so a pass folds rows in the order a SQL `sum` over the cached frame
  * would (`FitKernelSpec` checks this against SQL-aggregate loops).
  * Constants of a pass (β, stump thresholds) ride in the task closure.
  * Callers unpersist persisted blocks in `finally`; a one-pass fit
  * ([[Ols.fitSets]]) reads unpersisted [[blocks]] and leaves nothing to
  * unpersist.
  */
object FitBlocks {

  /** One partition's rows, column-major: `cols(j)(r)` is column j of row
    * r. `nulls(j)` flags the rows where column j is null (its value is
    * then 0.0); it is null when the column has no null in this block. */
  final class Block(val cols: Array[Array[Double]], val n: Int,
                    val nulls: Array[Array[Boolean]]) extends Serializable {
    def isNull(j: Int, r: Int): Boolean = nulls(j) != null && nulls(j)(r)
  }

  /** What one pass returns: double sums and `Long` counts. */
  final class Partial(val sums: Array[Double], val counts: Array[Long]) extends Serializable

  /** `cols` of the rows of `df` as blocks, cast to double, in the layout
    * `df.cache()` would give, not persisted. Rows with a null or NaN in
    * `dropNa` are dropped first (the `na.drop(dropNa)` rule); a null kept
    * in any other column is flagged in [[Block.nulls]], a NaN stays a
    * NaN — so a caller can apply both `IS NOT NULL` and `na.drop` rules
    * per column. A one-pass fit reads these directly; a fit with more
    * passes uses [[persist]]. */
  def blocks(df: DataFrame, cols: Seq[String], dropNa: Seq[String]): RDD[Block] = {
    val w = cols.length
    val kept = if (dropNa.isEmpty) df else df.na.drop(dropNa)
    GraftSqlBridge.cacheLayoutRows(kept.select(cols.map(c => col(c).cast("double")): _*))
      .mapPartitions { rows =>
        var cap = 1024
        var data = Array.fill(w)(new Array[Double](cap))
        val nulls = new Array[Array[Boolean]](w)
        var n = 0
        rows.foreach { row =>
          if (n == cap) {
            cap *= 2
            data = data.map(java.util.Arrays.copyOf(_, cap))
            var j = 0
            while (j < w) {
              if (nulls(j) != null) nulls(j) = java.util.Arrays.copyOf(nulls(j), cap)
              j += 1
            }
          }
          var j = 0
          while (j < w) {
            if (row.isNullAt(j)) {
              if (nulls(j) == null) nulls(j) = new Array[Boolean](cap)
              nulls(j)(n) = true
            } else data(j)(n) = row.getDouble(j)
            j += 1
          }
          n += 1
        }
        Iterator.single(new Block(data.map(java.util.Arrays.copyOf(_, n)), n,
          nulls.map(m => if (m == null) null else java.util.Arrays.copyOf(m, n))))
      }
  }

  /** Persist `cols` of the rows of `df` with no null or NaN in them (the
    * `na.drop(cols)` rule) as [[blocks]] (MEMORY_AND_DISK, the
    * `Dataset.cache()` level). Lazy: the first pass materializes it. */
  def persist(df: DataFrame, cols: Seq[String]): RDD[Block] =
    blocks(df, cols, cols).persist(StorageLevel.MEMORY_AND_DISK)

  /** One job: every task folds its blocks into fresh `nSums` zeros and
    * `nCounts` zero counts; the partials come back in partition-index
    * order. The sums travel as raw bits: Java serialization writes a
    * double through `doubleToLongBits`, which would turn the −NaN of
    * `Inf − Inf` into the +NaN a SQL `sum` does not give. */
  def partials(blocks: RDD[Block], nSums: Int, nCounts: Int)(
      fold: (Block, Array[Double], Array[Long]) => Unit): Array[Partial] =
    blocks.mapPartitions { it =>
      val s = new Array[Double](nSums)
      val c = new Array[Long](nCounts)
      it.foreach(fold(_, s, c))
      Iterator.single((s.map(java.lang.Double.doubleToRawLongBits), c))
    }.collect().map { case (bits, c) =>
      new Partial(bits.map(java.lang.Double.longBitsToDouble), c)
    }

  /** [[partials]] merged by addition in partition-index order from 0.0
    * — the `Sum`/`Count` result of the same fold. */
  def sum(blocks: RDD[Block], nSums: Int, nCounts: Int)(
      fold: (Block, Array[Double], Array[Long]) => Unit): Partial = {
    val out = new Partial(new Array[Double](nSums), new Array[Long](nCounts))
    partials(blocks, nSums, nCounts)(fold).foreach { p =>
      var j = 0
      while (j < nSums) { out.sums(j) += p.sums(j); j += 1 }
      j = 0
      while (j < nCounts) { out.counts(j) += p.counts(j); j += 1 }
    }
    out
  }

  /** Spark SQL's `x <= t` on doubles: NaN is greatest (so `x <= NaN`
    * holds for every x) and −0.0 equals 0.0. */
  def le(x: Double, t: Double): Boolean = SQLOrderingUtil.compareDoubles(x, t) <= 0

  /** Spark SQL's `x > t` on doubles: NaN is greatest and −0.0 is not
    * greater than 0.0. */
  def gt(x: Double, t: Double): Boolean = !le(x, t)

  /** Spark's `least(a, b)` / `greatest(a, b)` (the `min`/`max` update):
    * same ordering as [[le]], and a tie keeps `a`. */
  def least(a: Double, b: Double): Double =
    if (SQLOrderingUtil.compareDoubles(a, b) > 0) b else a
  def greatest(a: Double, b: Double): Double =
    if (SQLOrderingUtil.compareDoubles(b, a) > 0) b else a
}
