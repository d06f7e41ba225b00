package graft.functions

import org.apache.spark.rdd.{GraftRddBridge, RDD}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import scala.reflect.ClassTag

/** A fit's training columns as one primitive block per partition, and
  * the reduction that iterative fits ([[graft.operators.StumpBoost]],
  * [[graft.operators.TreeBoost]], [[Logistic]]) and the multi-model
  * closed-form fits ([[Ols.fitSets]], the censored forecaster) run over
  * them, pass by pass.
  *
  * A pass folds each partition's rows — and, under a coalesce, its
  * blocks in sequence — into one partial array from 0.0, then merges
  * the partials in partition-index order, also from 0.0. That is
  * Spark's `Sum` exactly: the partial update is `coalesce(sum, 0) + x`
  * over the partition's rows in order, the final merge adds the map
  * outputs in map-index order, and a partition with no input (a null
  * partial in SQL, a 0.0 here) changes nothing, because a sum that
  * starts at 0.0 is never −0.0. So every fitted double is bit-identical
  * to the SQL aggregate the DuckDB oracle mirrors. `treeAggregate`/
  * `reduce` are not used: their merge order follows task completion.
  *
  * Where a pass runs: over unpersisted [[blocks]] it is one RDD job
  * with no Catalyst query. A [[Persisted]] set's first pass is that
  * job too, and materializes the cache; a later pass runs the same
  * fold on the driver when the set's blocks fit under [[driverCap]]
  * (the first pass fetched them), and is one job only past the cap.
  *
  * The blocks keep the layout `df.cache()` would have (same executed
  * plan, same partitions, same row order — [[GraftSqlBridge.cacheLayoutRows]]),
  * so a pass folds rows in the order a SQL `sum` over the cached frame
  * would (`FitKernelSpec` checks this against SQL-aggregate loops).
  * Constants of a pass (β, stump thresholds) ride in the fold's closure.
  * Callers unpersist a persisted set in `finally`; a one-pass fit
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
  def persist(df: DataFrame, cols: Seq[String]): Persisted =
    new Persisted(blocks(df, cols, cols).persist(StorageLevel.MEMORY_AND_DISK), null, false)

  /** The partition count an iterative fit folds `n` rows in: about
    * 100k rows per partition, at least 1 and at most `numPartitions`. A
    * pass over a few small partitions is mostly scheduling, while a big
    * set still fans out to thousands of tasks. The count fixes the fold
    * order of every coalesced sum, so it must not change. */
  def coalesceParts(numPartitions: Int, n: Long): Int =
    math.max(1L, math.min(numPartitions.toLong, n / 100000L)).toInt

  /** Bytes of block doubles a persisted set may bring to the driver:
    * each partition of the materializing pass returns its blocks when
    * they fit in `driverCap / numPartitions`. One constant, not a conf;
    * specs set 0 (every pass one job) or `Long.MaxValue`. 8 MiB is
    * where the driver fold stopped beating one job per pass on 4 cores
    * (SCALE.md, "the driver cap"): past it the driver copy is a speed
    * loss, not only a memory cost. */
  @volatile private[graft] var driverCap: Long = 8L << 20

  /** The fold of one pass over one block: adds into the sums and counts. */
  type Fold = (Block, Array[Double], Array[Long]) => Unit

  /** A persisted block set of one fit (see [[persist]]); the fit calls
    * [[unpersist]] in `finally`. Its first pass is the one job that
    * materializes the blocks. When every partition's blocks fit in its
    * share of [[driverCap]], that job also brings them to the driver,
    * and every later pass runs the same fold there, with no job: fresh
    * zeros per partition, a partition's blocks in order, the partials
    * merged in partition-index order from 0.0 — the job's arithmetic in
    * the job's order, so the same bits. Past the cap every pass is one
    * job. The driver copies live in this handle only, never in a shared
    * map: pooled fits run concurrently, each with its own set. */
  final class Persisted private[FitBlocks] (rdd: RDD[Block],
                                            private var local: Array[Array[Block]],
                                            private var materialized: Boolean) {

    def numPartitions: Int = if (local != null) local.length else rdd.getNumPartitions

    /** One pass: the partials of every partition, in partition-index
      * order (the first pass is a job; see the class doc for the rest). */
    def partials(nSums: Int, nCounts: Int)(fold: Fold): Array[Partial] =
      gather(bs => wire(foldPartition(bs, nSums, nCounts, fold))).map(unwire)

    /** One pass of any per-partition state: `run` over each partition's
      * blocks in order, the results in partition-index order. A result
      * that crosses a job is Java-serialized, so `run` returns its
      * doubles in a form that keeps their bits (see [[RawBits]]). */
    def gather[T: ClassTag](run: Iterator[Block] => T): Array[T] =
      if (local != null) local.map(bs => run(bs.iterator))
      else if (materialized) pass(rdd, -1L)(run)._1
      else {
        materialized = true
        val cap = driverCap
        val (ts, bs) = pass(rdd, if (cap > 0L) cap / math.max(1, rdd.getNumPartitions) else -1L)(run)
        local = bs
        ts
      }

    /** [[partials]] merged as in [[FitBlocks.sum]]. */
    def sum(nSums: Int, nCounts: Int)(fold: Fold): Partial =
      merge(partials(nSums, nCounts)(fold), nSums, nCounts)

    /** These blocks in `parts` partitions, grouped as
      * [[GraftRddBridge.coalesceCached]] groups the cached RDD. Only
      * after the first pass: the grouping reads the cached blocks'
      * locations. Not persisted itself; unpersist this set. */
    def coalesce(parts: Int): Persisted = {
      require(materialized, "coalesce a block set after its first pass")
      if (local == null) new Persisted(GraftRddBridge.coalesceCached(rdd, parts), null, true)
      else new Persisted(rdd,
        GraftRddBridge.coalesceGroups(rdd, parts).map(_.flatMap(local(_))), true)
    }

    def unpersist(): Unit = {
      local = null
      rdd.unpersist(blocking = false)
    }
  }

  /** Doubles as raw long bits on their way to the driver: Java
    * serialization writes a double through `doubleToLongBits`, which
    * would turn the −NaN of `Inf − Inf` into the +NaN a SQL `sum` does
    * not give. */
  private final class RawBits(xs: Array[Double]) extends Serializable {
    private val bits = xs.map(java.lang.Double.doubleToRawLongBits)
    def doubles: Array[Double] = bits.map(java.lang.Double.longBitsToDouble)
  }

  private def wire(p: Partial): (RawBits, Array[Long]) = (new RawBits(p.sums), p.counts)
  private def unwire(w: (RawBits, Array[Long])): Partial = new Partial(w._1.doubles, w._2)

  /** One partition's fold: its blocks in order into fresh zeros. */
  private def foldPartition(blocks: Iterator[Block], nSums: Int, nCounts: Int,
                            fold: Fold): Partial = {
    val p = new Partial(new Array[Double](nSums), new Array[Long](nCounts))
    blocks.foreach(fold(_, p.sums, p.counts))
    p
  }

  /** Partials added in the given (partition-index) order from 0.0. */
  private def merge(parts: Array[Partial], nSums: Int, nCounts: Int): Partial = {
    val out = new Partial(new Array[Double](nSums), new Array[Long](nCounts))
    parts.foreach { p =>
      var j = 0
      while (j < nSums) { out.sums(j) += p.sums(j); j += 1 }
      j = 0
      while (j < nCounts) { out.counts(j) += p.counts(j); j += 1 }
    }
    out
  }

  /** One job: `run` over each task's blocks, the results in
    * partition-index order; the tasks also return their blocks when
    * these hold at most `share` bytes of doubles: the blocks of every
    * partition, in partition-index order, if all came back, else null. */
  private def pass[T: ClassTag](blocks: RDD[Block], share: Long)(
      run: Iterator[Block] => T): (Array[T], Array[Array[Block]]) = {
    val out = blocks.mapPartitions { it =>
      val bs = it.toArray
      val t = run(bs.iterator)
      val bytes = bs.map(b => 8L * b.n * b.cols.length).sum
      // persisted blocks hold no NaN (the `na.drop` rule), so their
      // doubles survive serialization bit for bit
      Iterator.single((t, if (bytes <= share) bs else null))
    }.collect()
    (out.map(_._1), if (out.forall(_._2 != null)) out.map(_._2) else null)
  }

  /** One job: every task folds its blocks into fresh `nSums` zeros and
    * `nCounts` zero counts; the partials come back (as [[RawBits]]) and
    * are added in partition-index order from 0.0 — the `Sum`/`Count`
    * result of the same fold. */
  def sum(blocks: RDD[Block], nSums: Int, nCounts: Int)(fold: Fold): Partial =
    merge(pass(blocks, -1L)(bs => wire(foldPartition(bs, nSums, nCounts, fold)))._1.map(unwire),
      nSums, nCounts)

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
