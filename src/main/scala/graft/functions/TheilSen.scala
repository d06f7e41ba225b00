package graft.functions

import graft.functions.FeatureAggs.SeriesBuf
import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Exact Theil–Sen line fit per entity as one typed aggregate: the
  * entity's non-null (row index, y) points gather in a [[SeriesBuf]] and
  * `finish` computes both medians on primitive arrays — no pair rows,
  * no boxed percentile map.
  *
  * Scale: a group holds its n points, and `finish` holds n·(n−1)/2 pair
  * slopes (8 bytes each) in one task. Past [[MaxPoints]] the pair array
  * cannot exist and the fit fails with a named error; pair sampling
  * would be the mitigation and is not implemented.
  */
object TheilSen {

  /** Largest entity the exact fit takes: n·(n−1)/2 slopes must fit one
    * Java array (65536 points → 2,147,450,880 slopes). */
  val MaxPoints: Int = 65536

  final case class Obs(i: Long, y: Option[Double])
  final case class Fit(beta: Option[Double], alpha: Option[Double])

  /** Spark's `percentile(x, alpha)` on a non-empty ascending array with
    * NaN last (`java.util.Arrays.sort` order), bit for bit — position
    * (n−1)·alpha and the interpolation of `PercentileBase.getPercentile`,
    * whose tie test is the boxed `==` (`BoxesRunTime.equals`): −0.0
    * equals 0.0, NaN never equals. */
  def percentile(sorted: Array[Double], alpha: Double): Double = {
    val position = (sorted.length - 1) * alpha
    val lower = math.floor(position).toInt
    val higher = math.ceil(position).toInt
    val lo = sorted(lower)
    if (lower == higher) return lo
    val hi = sorted(higher)
    if (lo == hi) lo
    else (higher - position) * lo + (position - lower) * hi
  }

  /** β = median of (y_b − y_a)/(i_b − i_a) over pairs a < b, α = median
    * of y − β·i, on points in ascending (unique) index order; both null
    * below two points. Past [[MaxPoints]] it throws before allocating. */
  def fit(is: Array[Long], ys: Array[Double]): Fit = {
    val n = is.length
    if (n < 2) return Fit(None, None)
    if (n > MaxPoints)
      throw new IllegalArgumentException(
        s"detrendTheilSen: an entity has n = $n non-null points, more than the " +
          s"$MaxPoints the exact estimator can pair in one array " +
          "(pair sampling is not implemented)")
    val slopes = new Array[Double]((n.toLong * (n - 1) / 2).toInt)
    var k = 0
    var a = 0
    while (a < n) {
      val ia = is(a).toDouble
      val ya = ys(a)
      var b = a + 1
      while (b < n) { slopes(k) = (ys(b) - ya) / (is(b).toDouble - ia); k += 1; b += 1 }
      a += 1
    }
    java.util.Arrays.sort(slopes)
    val beta = percentile(slopes, 0.5)
    val rest = new Array[Double](n)
    k = 0
    while (k < n) { rest(k) = ys(k) - beta * is(k).toDouble; k += 1 }
    java.util.Arrays.sort(rest)
    Fit(Some(beta), Some(percentile(rest, 0.5)))
  }

  private object Agg extends Aggregator[Obs, SeriesBuf, Fit] {
    override def zero: SeriesBuf = new SeriesBuf()
    override def reduce(b: SeriesBuf, o: Obs): SeriesBuf =
      if (o.y.isEmpty) b else b.append(o.i, o.y.get)
    override def merge(a: SeriesBuf, b: SeriesBuf): SeriesBuf = a.mergeWith(b)
    override def finish(b: SeriesBuf): Fit = {
      val (is, ys) = b.ordered
      fit(is, ys)
    }
    override def bufferEncoder: Encoder[SeriesBuf] = Encoders.kryo[SeriesBuf]
    override def outputEncoder: Encoder[Fit] = Encoders.product[Fit]
  }

  private val fn = udaf(Agg, Encoders.product[Obs])

  /** struct(beta, alpha) of the group's points (row index `i`, value
    * `y`); rows with a null y stay out of the fit. */
  def apply(i: Column, y: Column): Column = fn(i, y)
}
