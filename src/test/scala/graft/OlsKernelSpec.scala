package graft

import graft.core.Panel
import graft.functions.{Logistic, Ols}
import graft.operators.{CensoredForecaster, Forecasters, LinearForecaster, Preprocess}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

import scala.util.{Failure, Success, Try}

/** The one-pass moment kernel ([[Ols.fitSets]]) behind the direct and
  * ensemble strategies and the censored forecaster, against the
  * per-model code paths it replaced (kept below as the references: one
  * SQL moment aggregate per model over a cached frame), bit for bit: on
  * seeded panels with null, NaN, −0.0 and ±Inf values, entities shorter
  * than the warmup, 1, 3 and 8 partitions and thresholds 0 and 100.
  * With ±Inf the moments hold `Inf − Inf`, and both sides return the
  * same NaN bits (the Cholesky passes a NaN pivot). Failing fits must
  * fail with the same error and leave nothing cached. */
class OlsKernelSpec extends SparkSpec {

  private def lagCol(l: Int): String = s"value__lag_$l"

  /** The former `LinearForecaster.fitDirect`: one aggregate per horizon
    * over the cached wide reduction. */
  private def refDirect(p: Panel, lags: Int, fh: Int): Seq[(Double, Array[Double])] = {
    val reduction = Forecasters.makeReduction(p, lags + fh - 1).cache()
    try (1 to fh).map(h => Ols.fitAgg(reduction, (h until h + lags).map(lagCol), p.value))
    finally reduction.unpersist(blocking = false)
  }

  /** The former `LinearForecaster.fitEnsemble`: the recursive and the fh
    * direct aggregates over one cached null-keeping lag frame (the
    * direct ones past the full warmup), in model order. */
  private def refEnsemble(p: Panel, lags: Int, fh: Int): Seq[(Double, Array[Double])] = {
    val shared = Preprocess.lagKeepAll(p, 1 to (lags + fh - 1)).cache()
    try {
      val directTrain = shared.filter(col(lagCol(lags + fh - 1)).isNotNull)
      Ols.fitAgg(shared, (1 to lags).map(lagCol), p.value) +:
        (1 to fh).map(h => Ols.fitAgg(directTrain, (h until h + lags).map(lagCol), p.value))
    } finally shared.unpersist(blocking = false)
  }

  /** The former `CensoredForecaster.fit`: IRLS and an above-threshold
    * aggregate over one cached training frame. Failures surface in the
    * fit's order: no complete row, then the regression, then the
    * classifier. */
  private def refCensored(p: Panel, lags: Int, threshold: Double): CensoredForecaster.Model = {
    val cols = (1 to lags).map(lagCol)
    val train = Forecasters.makeReduction(p, lags).na.drop(cols :+ p.value)
      .withColumn("__above", (col(p.value) > threshold).cast("double"))
      .cache()
    try {
      val irls = Try(Logistic.fitIrls(train, cols, "__above"))
      irls match {
        case Failure(e: IllegalArgumentException) => throw e
        case _ =>
      }
      val (rI, rW) = Ols.fitAgg(train.filter(col(p.value) > threshold), cols, p.value)
      val (pI, pW) = irls.get
      CensoredForecaster.Model(pI, pW, rI, rW, lags, "1i")
    } finally train.unpersist(blocking = false)
  }

  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)

  private def modelBits(ms: Seq[(Double, Array[Double])]): Seq[Seq[Long]] =
    ms.map { case (b0, w) => (b0 +: w.toSeq).map(bits) }

  /** Both sides return the same bits, or both throw the same error. */
  private def assertSame[T](got: Try[T], want: Try[T], ctx: String)(key: T => Any): Unit =
    (got, want) match {
      case (Success(g), Success(w)) => assert(key(g) == key(w), s"$ctx: $g vs $w")
      case (Failure(g), Failure(w)) =>
        assert(g.getClass == w.getClass && g.getMessage == w.getMessage, s"$ctx: $g vs $w")
      case _ => fail(s"$ctx: $got vs $want")
    }

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  /** `f` must leave no persisted RDD and no cached frame behind. */
  private def noLeftovers[T](f: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val wasEmpty = cacheManager.isEmpty
    try f
    finally {
      assert(spark.sparkContext.getPersistentRDDs.keySet == before, "leftover blocks")
      assert(cacheManager.isEmpty == wasEmpty, "leftover cached frame")
    }
  }

  /** A seeded panel: Gaussian values off any grid (so sums depend on
    * their order) around 50 with spread 100 (rows on both sides of both
    * thresholds), null, NaN, −0.0 and 0.0 cells, every fifth entity
    * shorter than the warmup, and in flavour "inf" a +Inf and a −Inf. */
  private def seeded(seed: Long, parts: Int, flavour: String = "plain",
                     entities: Int = 25): Panel = {
    val rnd = new scala.util.Random(seed)
    val rows = (0 until entities).flatMap { e =>
      val len = if (e % 5 == 4) 1 + rnd.nextInt(6) else 20 + rnd.nextInt(30)
      (0 until len).map { t =>
        val v: java.lang.Double =
          if (flavour == "inf" && e == 1 && t == 9) Double.PositiveInfinity
          else if (flavour == "inf" && e == 2 && t == 13) Double.NegativeInfinity
          else rnd.nextInt(40) match {
            case 0 => null
            case 1 => Double.NaN
            case 2 => -0.0
            case 3 => 0.0
            case _ => rnd.nextGaussian() * 100 + 50
          }
        Row(e, t, v)
      }
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("entity", IntegerType), StructField("t", IntegerType),
        StructField("value", DoubleType))))
    Panel(df.repartition(parts, col("entity")), Seq("entity"), Seq("t"), "value")
  }

  private val cases = for {
    (seed, flavour) <- Seq(71L -> "plain", 72L -> "plain", 73L -> "inf")
    parts <- Seq(1, 3, 8)
  } yield (seed, flavour, parts)

  test("direct: one pass over all horizons == one aggregate per horizon, bit for bit") {
    for ((seed, flavour, parts) <- cases; (lags, fh) <- Seq(3 -> 2, 7 -> 3)) {
      val p = seeded(seed, parts, flavour)
      val want = Try(refDirect(p, lags, fh))
      val got = Try(noLeftovers(LinearForecaster.fitDirect(p, lags, fh, "1i").models))
      assertSame(got, want, s"direct $seed/$flavour/$parts/$lags/$fh")(modelBits)
    }
  }

  test("ensemble: one pass over fh + 1 models == the per-model aggregates, bit for bit") {
    for ((seed, flavour, parts) <- cases; (lags, fh) <- Seq(3 -> 2, 7 -> 3)) {
      val p = seeded(seed, parts, flavour)
      val want = Try(refEnsemble(p, lags, fh))
      val got = Try(noLeftovers {
        val m = LinearForecaster.fitEnsemble(p, lags, fh, "1i")
        (m.rec.intercept, m.rec.weights) +: m.dir.models
      })
      assertSame(got, want, s"ensemble $seed/$flavour/$parts/$lags/$fh")(modelBits)
    }
  }

  test("censored: both halves == IRLS and the above-threshold aggregate, bit for bit") {
    for ((seed, flavour, parts) <- cases; threshold <- Seq(0.0, 100.0)) {
      val p = seeded(seed, parts, flavour)
      val want = Try(refCensored(p, 4, threshold))
      val got = Try(noLeftovers(CensoredForecaster.fit(p, 4, "1i", threshold)))
      assertSame(got, want, s"censored $seed/$flavour/$parts/$threshold") { m =>
        modelBits(Seq(m.pIntercept -> m.pWeights, m.rIntercept -> m.rWeights))
      }
    }
  }

  test("failing fits throw the per-model errors and leave nothing cached") {
    // every entity shorter than the warmup: no complete row anywhere
    val short = panel((0 until 4).map(_.toDouble), (0 until 3).map(_.toDouble * 2))
    def same(got: => Any, want: => Any): Unit = {
      val w = intercept[IllegalArgumentException](noLeftovers(want))
      val g = intercept[IllegalArgumentException](noLeftovers(got))
      assert(g.getMessage == w.getMessage)
    }
    same(LinearForecaster.fitDirect(short, 5, 2, "1i"), refDirect(short, 5, 2))
    // long enough for lags, too short for lags + fh − 1
    same(LinearForecaster.fitDirect(short, 3, 3, "1i"), refDirect(short, 3, 3))
    same(LinearForecaster.fitEnsemble(short, 5, 2, "1i"), refEnsemble(short, 5, 2))
    same(CensoredForecaster.fit(short, 5, "1i"), refCensored(short, 5, 0.0))
    assert(intercept[IllegalArgumentException](CensoredForecaster.fit(short, 5, "1i"))
      .getMessage.startsWith("logistic fit has no complete training rows"))
    // rows, but none above the threshold: the regression half has none
    val low = panel((0 until 30).map(t => -((t * 7) % 5).toDouble))
    same(CensoredForecaster.fit(low, 3, "1i", 0.0), refCensored(low, 3, 0.0))
    assert(intercept[IllegalArgumentException](CensoredForecaster.fit(low, 3, "1i"))
      .getMessage.startsWith("OLS fit has no complete training rows"))
  }

  test("a repeated fit compiles no new classes") {
    def compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def fits(seed: Long): Unit = {
      val p = seeded(seed, 3)
      LinearForecaster.fitDirect(p, 3, 2, "1i")
      LinearForecaster.fitEnsemble(p, 3, 2, "1i")
      CensoredForecaster.fit(p, 3, "1i", 100.0)
    }
    fits(81)
    val c0 = compiles
    fits(82)
    assert(compiles == c0)
  }

  test("a 20-feature fit folds partitions in index order: the same bits every run") {
    val h = (k: Int) => pmod(xxhash64(col("id"), lit(k)), lit(100003)).cast("double") / 977
    val feats = (1 to 20).map(k => s"x$k")
    val df: DataFrame = spark.range(0, 40000, 1, 8).select(
      (feats.zipWithIndex.map { case (f, k) => h(k).as(f) } :+
        (h(99) + col("id") % 13).as("y")): _*)
    val runs = (1 to 4).map(_ => modelBits(Seq(Ols.fit(df, feats, "y"))))
    assert(runs.distinct.size == 1)
    // the wide path is the one-set block kernel
    assert(runs.head == modelBits(Ols.fitSets(df, Seq(Ols.MomentSet(feats, "y")))))
  }
}
