package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** A fit's training columns, persisted once as one primitive block per
  * partition, and the one-job-per-pass reduction that iterative fits
  * ([[graft.operators.StumpBoost]], [[Logistic]]) run over them.
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
  * Callers unpersist the blocks in `finally`.
  */
object FitBlocks {

  /** One partition's rows, column-major: `cols(j)(r)` is column j of row r. */
  final class Block(val cols: Array[Array[Double]], val n: Int) extends Serializable

  /** What one pass returns: double sums and `Long` counts. */
  final class Partial(val sums: Array[Double], val counts: Array[Long]) extends Serializable

  /** Persist `cols` of the rows of `df` with no null or NaN in them (the
    * `na.drop(cols)` rule), cast to double, one [[Block]] per partition
    * (MEMORY_AND_DISK, the `Dataset.cache()` level). Lazy: the first
    * pass materializes it. */
  def persist(df: DataFrame, cols: Seq[String]): RDD[Block] = {
    val w = cols.length
    GraftSqlBridge.cacheLayoutRows(
      df.na.drop(cols).select(cols.map(c => col(c).cast("double")): _*))
      .mapPartitions { rows =>
        var cap = 1024
        var data = Array.fill(w)(new Array[Double](cap))
        var n = 0
        rows.foreach { row =>
          if (n == cap) {
            cap *= 2
            data = data.map(java.util.Arrays.copyOf(_, cap))
          }
          var j = 0
          while (j < w) { data(j)(n) = row.getDouble(j); j += 1 }
          n += 1
        }
        Iterator.single(new Block(data.map(java.util.Arrays.copyOf(_, n)), n))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** One job: every task folds its blocks into fresh `nSums` zeros and
    * `nCounts` zero counts; the partials come back in partition-index
    * order. */
  def partials(blocks: RDD[Block], nSums: Int, nCounts: Int)(
      fold: (Block, Array[Double], Array[Long]) => Unit): Array[Partial] =
    blocks.mapPartitions { it =>
      val s = new Array[Double](nSums)
      val c = new Array[Long](nCounts)
      it.foreach(fold(_, s, c))
      Iterator.single(new Partial(s, c))
    }.collect()

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

  /** Spark's `least(a, b)` / `greatest(a, b)` (the `min`/`max` update):
    * same ordering as [[le]], and a tie keeps `a`. */
  def least(a: Double, b: Double): Double =
    if (SQLOrderingUtil.compareDoubles(a, b) > 0) b else a
  def greatest(a: Double, b: Double): Double =
    if (SQLOrderingUtil.compareDoubles(b, a) > 0) b else a
}
