package graft

import graft.functions.{FeatureAggs, Kernels}
import org.apache.spark.sql.functions._

/** Spark-level checks of the typed aggregators: values must equal the
  * pure kernels regardless of shuffle order (the order key sorts the
  * buffer in finish()). */
class FeatureAggsSpec extends SparkSpec {

  private val series = Array(66.24, 43.88, 44.72, 39.27, 58.65, 26.98, 67.45, 42.39,
    53.19, 47.51, 64.62, 29.4, 46.78, 46.16, 61.34, 39.0, 48.28, 41.22, 50.42, 55.83)

  test("aggregator equals kernel through a shuffled frame") {
    import spark.implicits._
    // write rows in scrambled order across partitions
    val scrambled = scala.util.Random.shuffle(series.toSeq.zipWithIndex)
      .map { case (v, t) => (0, t, v) }
    val df = scrambled.toDF("entity", "t", "value").repartition(4)
    val p = graft.core.Panel(df, Seq("entity"), Seq("t"), "value")
    val got = FeatureAggs.over(p, FeatureAggs.sampleEntropy(0.2, 2), "se")
      .collect()(0).getDouble(1)
    assertClose(got, Kernels.sampleEntropy(series, 0.2, 2), 1e-9)
  }

  test("SeriesBuf.ordered is a stable index sort, in-order fast path included") {
    val rnd = new scala.util.Random(3)
    val specials = Array(Double.NaN, -0.0, 0.0, Double.NegativeInfinity)
    Seq(0, 1, 2, 17, 300).foreach { n =>
      val unique = rnd.shuffle((0 until n).map(_.toLong * 3 - 40)).toArray
      val dups = Array.fill(n)(rnd.nextInt(n / 3 + 1).toLong)
      val sorted = dups.sorted
      Seq(unique, dups, sorted).foreach { is =>
        val vs = Array.tabulate(n)(k =>
          if (k % 5 == 0) specials(k % specials.length) else rnd.nextGaussian())
        val b = new FeatureAggs.SeriesBuf()
        is.indices.foreach(k => b.append(is(k), vs(k)))
        val perm = is.indices.sortBy(k => is(k)) // stable
        val (oi, ov) = b.ordered
        assert(oi.toSeq == perm.map(is(_)))
        assert(ov.map(java.lang.Double.doubleToRawLongBits).toSeq ==
          perm.map(k => java.lang.Double.doubleToRawLongBits(vs(k))))
        assert(b.sortedValues.map(java.lang.Double.doubleToRawLongBits).toSeq ==
          ov.map(java.lang.Double.doubleToRawLongBits).toSeq)
      }
    }
  }

  test("lempel ziv over panel") {
    val p = panel(series.toSeq)
    val got = FeatureAggs.over(p, FeatureAggs.lempelZivComplexity(50.0, asRatio = true), "lz")
      .collect()(0).getDouble(1)
    assertClose(got, Kernels.lempelZiv(series.map(_ > 50.0)).toDouble / series.length, 1e-9)
  }

  test("ar coefficients array output survives the encoder") {
    val p = panel(series.toSeq)
    val got = FeatureAggs.over(p, FeatureAggs.autoregressiveCoefficients(2), "ar")
      .collect()(0).getSeq[Double](1)
    val want = Kernels.arCoefficients(series, 2)
    got.zip(want).foreach { case (g, w) => assertClose(g, w, 1e-9) }
  }

  test("fft struct output") {
    val p = panel(series.toSeq)
    val row = FeatureAggs.over(p, FeatureAggs.fftStruct(3), "fft").collect()(0)
    val st = row.getStruct(1)
    val (re, _) = Kernels.rfft(series)
    st.getSeq[Double](0).zip(re.take(3)).foreach { case (g, w) => assertClose(g, w, 1e-9) }
  }

  test("boxcox lambda per entity") {
    val p = panel(series.toSeq, series.map(_ * 2).toSeq)
    val got = FeatureAggs.over(p, FeatureAggs.boxcoxLambda, "lmb")
      .orderBy("entity").collect().map(_.getDouble(1))
    assertClose(got(0), Kernels.boxcoxLambdaMle(series), 1e-6)
  }

  test("boxcox pearsonr lambda per entity") {
    val p = panel(series.toSeq, series.map(_ * 2).toSeq)
    val got = FeatureAggs.over(p, FeatureAggs.boxcoxLambdaPearsonr, "lmb")
      .orderBy("entity").collect().map(_.getDouble(1))
    assertClose(got(0), Kernels.boxcoxLambdaPearsonr(series), 1e-6)
    assertClose(got(1), Kernels.boxcoxLambdaPearsonr(series.map(_ * 2)), 1e-6)
  }
}
