package graft.functions

import com.esotericsoftware.kryo.{Kryo, KryoSerializable}
import com.esotericsoftware.kryo.io.{Input, Output}
import org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile
import org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile.PercentileDigest

/** The quantile of one group of (value, weight) rows, gathered the way a
  * SQL aggregate gathers it: rows [[add]]ed per partition in row order,
  * each partition's state sent as the aggregate's serialized partial
  * buffer ([[partial]]), and the partials [[merge]]d into a fresh state
  * in partition-index order. So a block pass gives the aggregate's bits
  * (TreeBoost's quantile renewal, TreeBoostKernelSpec). Four rules:
  *  - [[Exact]]: Spark's exact `percentile`;
  *  - [[WeightedExact]]: [[WeightedQuantile.of]] over a
  *    [[WeightedQuantile.PairBuf]];
  *  - [[Approx]]: `approx_percentile` at accuracy 1e5, Spark's own
  *    `PercentileDigest`;
  *  - [[Sketch]]: [[WeightedQuantileSketch]] at budget `delta`.
  * Weighted rules skip rows of non-positive weight; the others ignore
  * the weight.
  */
sealed abstract class QuantileGather extends Serializable {
  def add(v: Double, w: Double): Unit
  /** This state as its aggregate's serialized partial buffer. */
  def partial(): QuantileGather
  /** Adds a [[partial]] of the next partition. */
  def merge(p: QuantileGather): Unit
  /** The quantile; null when no row was added. */
  def result(): java.lang.Double
}

object QuantileGather {

  /** A fresh state of the rule for (`weighted`, `exact`) at level `alpha`
    * (`delta`: the weighted sketch's budget). */
  def apply(weighted: Boolean, exact: Boolean, alpha: Double, delta: Int): QuantileGather =
    if (weighted) { if (exact) new WeightedExact(alpha) else new Sketch(alpha, delta) }
    else if (exact) new Exact(alpha) else new Approx(alpha)

  /** Spark's `percentile(v, alpha)`: its buffer maps each value to a
    * count, so the result depends on the multiset only; the values keep
    * their raw bits here, and the map's one NaN key is the first NaN
    * added (keys compare by `Double.equals`). */
  final class Exact(alpha: Double) extends QuantileGather {
    private var bits = new Array[Long](16)
    private var n = 0

    def add(v: Double, w: Double): Unit = {
      if (n == bits.length) bits = java.util.Arrays.copyOf(bits, 2 * n)
      bits(n) = java.lang.Double.doubleToRawLongBits(v)
      n += 1
    }

    def partial(): QuantileGather = this

    def merge(p: QuantileGather): Unit = {
      val o = p.asInstanceOf[Exact]
      if (n + o.n > bits.length) bits = java.util.Arrays.copyOf(bits, n + o.n)
      System.arraycopy(o.bits, 0, bits, n, o.n)
      n += o.n
    }

    def result(): java.lang.Double = {
      if (n == 0) return null
      val xs = Array.tabulate(n)(i => java.lang.Double.longBitsToDouble(bits(i)))
      val firstNaN = xs.find(_.isNaN)
      java.util.Arrays.sort(xs)
      firstNaN.foreach { nan =>
        var i = n - 1
        while (i >= 0 && xs(i).isNaN) { xs(i) = nan; i -= 1 }
      }
      TheilSen.percentile(xs, alpha)
    }
  }

  /** The Kryo image of `state` read back into `fresh`: the wire form of
    * an `Encoders.kryo` aggregate buffer. */
  private def kryoCopy[T <: KryoSerializable](state: T, fresh: T): T = {
    val kryo = new Kryo()
    val out = new Output(4096, -1)
    state.write(kryo, out)
    fresh.read(kryo, new Input(out.toBytes))
    fresh
  }

  /** The cumulative-weight interpolated quantile ([[WeightedQuantile]]). */
  final class WeightedExact(alpha: Double) extends QuantileGather {
    private var buf = new WeightedQuantile.PairBuf()

    def add(v: Double, w: Double): Unit = if (w > 0.0) buf.append(v, w)

    def partial(): QuantileGather = {
      val p = new WeightedExact(alpha)
      p.buf = kryoCopy(buf, new WeightedQuantile.PairBuf())
      p
    }

    def merge(p: QuantileGather): Unit = buf.mergeWith(p.asInstanceOf[WeightedExact].buf)

    def result(): java.lang.Double = WeightedQuantile.of(buf.pairs, alpha)
  }

  /** `approx_percentile(v, alpha, 100000)`: Spark's Greenwald-Khanna
    * digest, shipped as its own serialized bytes. */
  final class Approx(alpha: Double) extends QuantileGather {
    @transient private lazy val digest = new PercentileDigest(1.0 / 100000)
    private var bytes: Array[Byte] = _

    def add(v: Double, w: Double): Unit = digest.add(v)

    def partial(): QuantileGather = {
      val p = new Approx(alpha)
      p.bytes = ApproximatePercentile.serializer.serialize(digest)
      p
    }

    def merge(p: QuantileGather): Unit =
      digest.merge(ApproximatePercentile.serializer.deserialize(p.asInstanceOf[Approx].bytes))

    def result(): java.lang.Double = {
      val q = digest.getPercentiles(Array(alpha))
      if (q.isEmpty) null else q.head
    }
  }

  /** The bounded-memory weighted sketch ([[WeightedQuantileSketch]]). */
  final class Sketch(alpha: Double, delta: Int) extends QuantileGather {
    private var sk = new WeightedQuantileSketch(delta, 8192)

    def add(v: Double, w: Double): Unit = if (w > 0.0) sk.add(v, w)

    def partial(): QuantileGather = {
      val p = new Sketch(alpha, delta)
      p.sk = kryoCopy(sk, new WeightedQuantileSketch(delta, 8192))
      p
    }

    def merge(p: QuantileGather): Unit = sk.mergeWith(p.asInstanceOf[Sketch].sk)

    def result(): java.lang.Double = sk.quantile(alpha)
  }
}
