package graft.functions

import graft.core.Panel
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Ordered-series typed aggregators for the ~12 collect-based features
  * (SURVEY.md §2.3/§7.4): the value arrays are gathered per entity
  * with an explicit order key (nondeterministic shuffle order is
  * sorted away in finish()), then handed to the pure [[Kernels]].
  *
  * Scale: buffers hold one series per entity — the same memory shape
  * as the reference's per-series NumPy arrays; partial aggregation
  * merges across partitions without a separate shuffle stage.
  */
object FeatureAggs {

  final case class Pt(i: Long, v: Double)

  /** Growable primitive (index, value) pair buffer: appends are
    * amortized O(1) array stores, merges are two arraycopies, and the
    * object lives un-serialized inside ObjectHashAggregate — Kryo only
    * sees it on spill/shuffle, where the custom image writes exactly n
    * longs + n doubles (no per-point boxing, no slack capacity). The
    * previous Vector[Pt] buffer boxed two objects per row and paid a
    * structural append per point — an O(n) GC/alloc tax that shows at
    * 100k-point series (SCALE.md long-series soak). */
  final class SeriesBuf(private var is: Array[Long], private var vs: Array[Double],
                        private var n: Int)
      extends Serializable with com.esotericsoftware.kryo.KryoSerializable {
    def this() = this(new Array[Long](16), new Array[Double](16), 0)

    def size: Int = n

    def append(i: Long, v: Double): SeriesBuf = {
      if (n == is.length) {
        val cap = math.max(16, n * 2)
        is = java.util.Arrays.copyOf(is, cap)
        vs = java.util.Arrays.copyOf(vs, cap)
      }
      is(n) = i; vs(n) = v; n += 1
      this
    }

    def mergeWith(o: SeriesBuf): SeriesBuf = {
      val total = n + o.n
      if (total > is.length) {
        is = java.util.Arrays.copyOf(is, total)
        vs = java.util.Arrays.copyOf(vs, total)
      }
      System.arraycopy(o.is, 0, is, n, o.n)
      System.arraycopy(o.vs, 0, vs, n, o.n)
      n = total
      this
    }

    /** (indices, values) in index order (indices are unique per group —
      * the row index from [[FeatureAggs.over]] — so the order is total). */
    def ordered: (Array[Long], Array[Double]) = {
      val perm = permutation
      val oi = new Array[Long](n)
      val ov = new Array[Double](n)
      var k = 0
      while (k < n) {
        val s = if (perm == null) k else perm(k)
        oi(k) = is(s); ov(k) = vs(s); k += 1
      }
      (oi, ov)
    }

    /** Values in index order. */
    def sortedValues: Array[Double] = ordered._2

    /** Buffer slots in index order, or null when the buffer already is
      * in order — one linear scan, and the usual case: rows reach the
      * aggregate in the order of the row-index window that numbered
      * them. Otherwise (index − min, slot) pairs pack into primitive
      * longs and sort without boxing; equal indices keep slot order
      * (a stable sort). */
    private def permutation: Array[Int] = {
      var k = 1
      while (k < n && is(k - 1) <= is(k)) k += 1
      if (k >= n) return null
      var lo = is(0); var hi = is(0)
      k = 1
      while (k < n) { lo = math.min(lo, is(k)); hi = math.max(hi, is(k)); k += 1 }
      val span = hi - lo // negative when the true span overflows a long
      require(span >= 0 && span < (1L << 31), s"SeriesBuf: index span $span exceeds 2^31")
      val keys = new Array[Long](n)
      k = 0
      while (k < n) { keys(k) = ((is(k) - lo) << 32) | k; k += 1 }
      java.util.Arrays.sort(keys)
      val perm = new Array[Int](n)
      k = 0
      while (k < n) { perm(k) = keys(k).toInt; k += 1 }
      perm
    }

    override def write(kryo: com.esotericsoftware.kryo.Kryo,
                       output: com.esotericsoftware.kryo.io.Output): Unit = {
      output.writeInt(n)
      // kryo-shaded 4 has no (array, offset, count) overloads — trim
      // to n so the spill image never carries slack capacity
      output.writeLongs(if (n == is.length) is else java.util.Arrays.copyOf(is, n))
      output.writeDoubles(if (n == vs.length) vs else java.util.Arrays.copyOf(vs, n))
    }

    override def read(kryo: com.esotericsoftware.kryo.Kryo,
                      input: com.esotericsoftware.kryo.io.Input): Unit = {
      n = input.readInt()
      is = input.readLongs(n)
      vs = input.readDoubles(n)
    }
  }

  abstract class SeriesAgg[OUT](implicit outEnc: Encoder[OUT])
      extends Aggregator[Pt, SeriesBuf, OUT] with Serializable {
    def compute(xs: Array[Double]): OUT
    override def zero: SeriesBuf = new SeriesBuf()
    override def reduce(b: SeriesBuf, a: Pt): SeriesBuf = b.append(a.i, a.v)
    override def merge(a: SeriesBuf, b: SeriesBuf): SeriesBuf = a.mergeWith(b)
    override def finish(b: SeriesBuf): OUT = compute(b.sortedValues)
    override def bufferEncoder: Encoder[SeriesBuf] = Encoders.kryo[SeriesBuf]
    override def outputEncoder: Encoder[OUT] = outEnc
  }

  private implicit val doubleEnc: Encoder[Double] = Encoders.scalaDouble

  private def mk[OUT: Encoder](f: Array[Double] => OUT) = new SeriesAgg[OUT] {
    def compute(xs: Array[Double]): OUT = f(xs)
  }

  private def u[OUT](agg: SeriesAgg[OUT]) = udaf(agg, Encoders.product[Pt])

  /** LZ76 complexity of (x > threshold), optionally ÷ n —
    * feature_extractors.py:918 + the Rust kernel. */
  def lempelZivComplexity(threshold: Double, asRatio: Boolean): (Column, Column) => Column = {
    val f = u(mk { xs =>
      val c = Kernels.lempelZiv(xs.map(_ > threshold))
      if (asRatio) c.toDouble / xs.length else c.toDouble
    })
    (i, v) => f(i, v)
  }

  /** CUSUM changepoint events array (time order) —
    * feature_extractors.py:2761 + cusum.rs. */
  def cusumEvents(threshold: Double, warmup: Int, drift: Double): (Column, Column) => Column = {
    // same collect-sort-kernel scaffold as every other SeriesAgg; only
    // the output encoder differs (array column, not kryo blob)
    implicit val enc: Encoder[Seq[Int]] = ExpressionEncoders.seqInt
    val f = u(mk[Seq[Int]](xs => Kernels.cusum(xs, threshold, warmup, drift).toSeq))
    (i, v) => f(i, v)
  }

  /** Number of CUSUM changepoints — scalar convenience. */
  def cusumCount(threshold: Double, warmup: Int, drift: Double): (Column, Column) => Column = {
    val f = u(mk { xs => Kernels.cusum(xs, threshold, warmup, drift).sum.toDouble })
    (i, v) => f(i, v)
  }

  def approximateEntropy(m: Int, r: Double): (Column, Column) => Column = {
    val f = u(mk(xs => Kernels.approximateEntropy(xs, m, r)))
    (i, v) => f(i, v)
  }

  def sampleEntropy(ratio: Double, m: Int): (Column, Column) => Column = {
    val f = u(mk(xs => Kernels.sampleEntropy(xs, ratio, m)))
    (i, v) => f(i, v)
  }

  def augmentedDickeyFuller(nLags: Int): (Column, Column) => Column = {
    val f = u(mk(xs => Kernels.adfStat(xs, nLags)))
    (i, v) => f(i, v)
  }

  private implicit val seqDoubleEnc: Encoder[Seq[Double]] = ExpressionEncoders.seqDouble

  def autoregressiveCoefficients(nLags: Int): (Column, Column) => Column = {
    val f = u(mk[Seq[Double]](xs => Kernels.arCoefficients(xs, nLags).toSeq))
    (i, v) => f(i, v)
  }

  def spktWelchDensity(nCoeffs: Int): (Column, Column) => Column = {
    val f = u(mk[Seq[Double]](xs => Kernels.welchPsd(xs).take(nCoeffs).toSeq))
    (i, v) => f(i, v)
  }

  def fourierEntropy(bins: Int): (Column, Column) => Column = {
    val f = u(mk(xs => Kernels.fourierEntropy(xs, bins)))
    (i, v) => f(i, v)
  }

  /** rFFT real parts (first nCoeffs) — fft_coefficients
    * (feature_extractors.py:1911; full struct via fftStruct). */
  def fftStruct(nCoeffs: Int): (Column, Column) => Column = {
    implicit val enc: Encoder[FftOut] = Encoders.product[FftOut]
    val f = u(mk[FftOut] { xs =>
      val (re, im) = Kernels.rfft(xs)
      // atan2(re, im) is DELIBERATE: the reference computes
      // np.arctan2(real, imag) (feature_extractors.py:1929), NOT the
      // np.angle convention atan2(im, re) — we match the reference's
      // published behavior, and the DuckDB oracle pins it bitwise
      val ang = re.zip(im).map { case (r, i2) => math.atan2(r, i2) * 180 / math.Pi }
      FftOut(re.take(nCoeffs).toSeq, im.take(nCoeffs).toSeq, ang.take(nCoeffs).toSeq)
    })
    (i, v) => f(i, v)
  }

  def cwtCoefficients(widths: Seq[Int], nCoeffs: Int): (Column, Column) => Column = {
    val f = u(mk[Seq[Double]](xs => Kernels.cwtCoefficients(xs, widths, nCoeffs).toSeq))
    (i, v) => f(i, v)
  }

  def friedrichCoefficients(polyOrder: Int, nQuantiles: Int): (Column, Column) => Column = {
    val f = u(mk[Seq[Double]](xs => Kernels.friedrichCoefficients(xs, polyOrder, nQuantiles).toSeq))
    (i, v) => f(i, v)
  }

  /** Ridge-line CWT peak count — feature_extractors.py:1187. */
  def numberCwtPeaks(maxWidth: Int): (Column, Column) => Column = {
    val f = u(mk(xs => Kernels.numberCwtPeaks(xs, maxWidth).toDouble))
    (i, v) => f(i, v)
  }

  /** Per-entity Box-Cox MLE λ — the preprocessing.py:604-612 artifact. */
  def boxcoxLambda: (Column, Column) => Column = {
    val f = u(mk(xs => Kernels.boxcoxLambdaMle(xs)))
    (i, v) => f(i, v)
  }

  /** Per-entity Box-Cox λ, `method="pearsonr"` (preprocessing.py:577). */
  def boxcoxLambdaPearsonr: (Column, Column) => Column = {
    val f = u(mk(xs => Kernels.boxcoxLambdaPearsonr(xs)))
    (i, v) => f(i, v)
  }

  /** Helper: run an aggregator over a panel (adds the order index). */
  def over(p: Panel, agg: (Column, Column) => Column, out: String): DataFrame = {
    val pr = p.withRowIdx("__i")
    // nulls drop AFTER the index assignment (original positions kept,
    // matching the oracle's list() which skips NULLs): Pt has primitive
    // fields, so a null value would otherwise fail the typed encoder's
    // AssertNotNull deep inside the aggregation with no data hint
    val aggd = pr.df.filter(p.x.isNotNull)
      .groupBy(p.entityCols: _*).agg(agg(col("__i"), p.x).as(out))
    // an ALL-null entity has no surviving rows — left-join back onto
    // the distinct entities (streakLengthStats' idiom) so it surfaces
    // with a null feature like the oracle's row-per-entity GROUP BY,
    // instead of silently vanishing from the output
    p.df.select(p.entityCols: _*).distinct().join(aggd, p.entity, "left")
  }

  final case class FftOut(real: Seq[Double], imag: Seq[Double], angle: Seq[Double])
}

/** Concrete encoders for Seq types (kryo would write opaque binary —
  * these keep ArrayType columns readable/parquet-writable). */
object ExpressionEncoders {
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders._
  val seqDouble: Encoder[Seq[Double]] =
    ExpressionEncoder(IterableEncoder(
      classTag[Seq[Double]], BoxedDoubleEncoder, containsNull = false, lenientSerialization = false))
  val seqInt: Encoder[Seq[Int]] =
    ExpressionEncoder(IterableEncoder(
      classTag[Seq[Int]], BoxedIntEncoder, containsNull = false, lenientSerialization = false))
  private def classTag[T]: scala.reflect.ClassTag[T] =
    scala.reflect.ClassTag.AnyRef.asInstanceOf[scala.reflect.ClassTag[T]]
}
