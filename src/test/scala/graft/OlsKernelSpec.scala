package graft

import graft.core.Panel
import graft.functions.{Logistic, Ols}
import graft.operators.{CensoredForecaster, Forecasters, LinearForecaster, Preprocess}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

import scala.util.{Failure, Success, Try}

/** The one moment pass ([[Ols.moments]]) behind every closed-form and
  * CD fit, against the SQL moment aggregate it replaced (kept below as
  * the reference: one `sum` per moment over a cached frame, then the
  * same driver-side solve), bit for bit: the direct and ensemble
  * strategies and the censored forecaster on seeded panels, and every
  * one-set fit (`fit`, `fitNoDrift`, `fitWeighted`, `elasticNetCD`,
  * `elasticNetCDNoDrift`, `lassoAicCD`, `lassoLarsIC`) on seeded frames
  * — with null, NaN, −0.0 and ±Inf values, null/NaN/±0.0 weights,
  * entities shorter than the warmup and 1, 3 and 8 partitions. With
  * ±Inf the moments hold `Inf − Inf`, and a Cholesky solve over them
  * fails loudly on both sides. Failing fits must fail with the same
  * error and leave nothing cached. */
class OlsKernelSpec extends SparkSpec {

  private def lagCol(l: Int): String = s"value__lag_$l"

  /** The SQL moment aggregate the fits used before the block pass: over
    * `df.na.drop(features :+ label ++ weight)`, one `sum` per moment in
    * [[Ols.addMoments]]' layout and association (w·(xᵢ·xⱼ), the
    * intercept as a literal 1.0 regressor when `intercept`), the row
    * count and Σy² last. A null sum (no row) throws the fit's error. */
  private def sqlSystem(df: DataFrame, feats: Seq[String], label: String,
                        what: String = "OLS fit", weight: Option[String] = None,
                        intercept: Boolean = true): Ols.Normal = {
    val base = feats.map(c => col(c).cast("double"))
    val xs = if (intercept) lit(1.0) +: base else base
    val d = xs.length
    val y = col(label).cast("double")
    def t(prod: Column): Column = weight.fold(prod)(w => col(w).cast("double") * prod)
    val exprs = (for (i <- 0 until d; j <- i until d) yield sum(t(xs(i) * xs(j)))) ++
      (0 until d).map(i => sum(t(xs(i) * y))) ++
      Seq(count(lit(1)).cast("double"), sum(t(y * y)))
    val row = df.na.drop(feats ++ (label +: weight.toSeq))
      .agg(exprs.head, exprs.tail: _*).collect()(0)
    if (row.isNullAt(0)) throw Ols.noRows(what, feats, label)
    val tri = d * (d + 1) / 2
    val a = Array.ofDim[Double](d, d)
    var k = 0
    for (i <- 0 until d; j <- i until d) {
      a(i)(j) = row.getDouble(k); a(j)(i) = row.getDouble(k); k += 1
    }
    (a, Array.tabulate(d)(i => row.getDouble(tri + i)), row.getDouble(tri + d),
      row.getDouble(tri + d + 1))
  }

  /** The SQL-path OLS fit: [[sqlSystem]], λ on the non-intercept
    * diagonal, the Cholesky solve. */
  private def refFit(df: DataFrame, feats: Seq[String], label: String,
                     ridge: Double = 0.0): (Double, Array[Double]) = {
    val (a, b, _, _) = sqlSystem(df, feats, label)
    (1 until a.length).foreach(i => a(i)(i) += ridge)
    val w = Ols.choleskySolve(a, b)
    (w(0), w.drop(1))
  }

  /** The former `LinearForecaster.fitDirect`: one aggregate per horizon
    * over the cached wide reduction. */
  private def refDirect(p: Panel, lags: Int, fh: Int): Seq[(Double, Array[Double])] = {
    val reduction = Forecasters.makeReduction(p, lags + fh - 1).cache()
    try (1 to fh).map(h => refFit(reduction, (h until h + lags).map(lagCol), p.value))
    finally reduction.unpersist(blocking = false)
  }

  /** The former `LinearForecaster.fitEnsemble`: the recursive and the fh
    * direct aggregates over one cached null-keeping lag frame (the
    * direct ones past the full warmup), in model order. */
  private def refEnsemble(p: Panel, lags: Int, fh: Int): Seq[(Double, Array[Double])] = {
    val shared = Preprocess.lagKeepAll(p, 1 to (lags + fh - 1)).cache()
    try {
      val directTrain = shared.filter(col(lagCol(lags + fh - 1)).isNotNull)
      refFit(shared, (1 to lags).map(lagCol), p.value) +:
        (1 to fh).map(h => refFit(directTrain, (h until h + lags).map(lagCol), p.value))
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
      val (rI, rW) = refFit(train.filter(col(p.value) > threshold), cols, p.value)
      val (pI, pW) = irls.get
      CensoredForecaster.Model(pI, pW, rI, rW, lags, "1i")
    } finally train.unpersist(blocking = false)
  }

  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)

  private def modelBits(ms: Seq[(Double, Array[Double])]): Seq[Seq[Long]] =
    ms.map { case (b0, w) => (b0 +: w.toSeq).map(bits) }

  /** Both sides return the same bits, or both throw the same error. On
    * a ±Inf flavour that error must be the Cholesky's loud failure. */
  private def assertSame[T](got: Try[T], want: Try[T], ctx: String,
                            flavour: String = "plain")(key: T => Any): Unit = {
    if (flavour == "inf") want match {
      case Failure(_: IllegalStateException) =>
      case w => fail(s"$ctx: a non-finite system must fail loudly, got $w")
    }
    (got, want) match {
      case (Success(g), Success(w)) => assert(key(g) == key(w), s"$ctx: $g vs $w")
      case (Failure(g), Failure(w)) =>
        assert(g.getClass == w.getClass && g.getMessage == w.getMessage, s"$ctx: $g vs $w")
      case _ => fail(s"$ctx: $got vs $want")
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
      assertSame(got, want, s"direct $seed/$flavour/$parts/$lags/$fh", flavour)(modelBits)
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
      assertSame(got, want, s"ensemble $seed/$flavour/$parts/$lags/$fh", flavour)(modelBits)
    }
  }

  test("censored: both halves == IRLS and the above-threshold aggregate, bit for bit") {
    for ((seed, flavour, parts) <- cases; threshold <- Seq(0.0, 100.0)) {
      val p = seeded(seed, parts, flavour)
      val want = Try(refCensored(p, 4, threshold))
      atBothCaps(Try(noLeftovers(CensoredForecaster.fit(p, 4, "1i", threshold))))
        .foreach { case (cap, got) =>
          assertSame(got, want, s"censored $seed/$flavour/$parts/$threshold/$cap", flavour) { m =>
            modelBits(Seq(m.pIntercept -> m.pWeights, m.rIntercept -> m.rWeights))
          }
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

  /** A seeded regression frame over `rows` rows in `parts` hash
    * partitions of a key: features x1..x`d` and label y as Gaussian
    * cells off any grid (y linear in x1, x2 plus noise), one in `1/odds`
    * of them null, NaN, −0.0 or 0.0; weights w null, NaN, 0.0, −0.0 or
    * in (0.1, 2.1). Flavour "inf" puts a +Inf in x1 and a −Inf in x`d`
    * of two otherwise complete rows. */
  private def seededFrame(seed: Long, parts: Int, d: Int = 3, rows: Int = 400,
                          flavour: String = "plain", odds: Int = 40): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def special(): Option[java.lang.Double] = rnd.nextInt(odds) match {
      case 0 => Some(null)
      case 1 => Some(Double.NaN)
      case 2 => Some(-0.0)
      case 3 => Some(0.0)
      case _ => None
    }
    val data = (0 until rows).map { r =>
      val inf = flavour == "inf" && (r == 17 || r == 230)
      val g = Array.fill(d)(rnd.nextGaussian() * 10 + 3)
      val xs: Array[java.lang.Double] =
        g.map(v => if (inf) Double.box(v) else special().getOrElse(Double.box(v)))
      if (inf && r == 17) xs(0) = Double.PositiveInfinity
      if (inf && r == 230) xs(d - 1) = Double.NegativeInfinity
      val y0 = 1.5 + 0.8 * g(0) - 0.5 * g(1 % d) + rnd.nextGaussian()
      val y: java.lang.Double = if (inf) Double.box(y0) else special().getOrElse(Double.box(y0))
      val w: java.lang.Double = rnd.nextInt(20) match {
        case 0 if !inf => null
        case 1 if !inf => Double.NaN
        case 2 => 0.0
        case 3 => -0.0
        case _ => 0.1 + 2 * rnd.nextDouble()
      }
      Row.fromSeq((r % 37) +: (xs.toSeq :+ y :+ w))
    }
    val schema = StructType(StructField("k", IntegerType) +:
      ((1 to d).map(j => s"x$j") ++ Seq("y", "w")).map(StructField(_, DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
      .repartition(parts, col("k"))
  }

  /** The SQL-path no-intercept fit: λ on every diagonal entry. */
  private def refNoDrift(df: DataFrame, f: Seq[String], ridge: Double): (Double, Array[Double]) = {
    val (a, b, _, _) = sqlSystem(df, f, "y", "no-drift OLS fit", intercept = false)
    a.indices.foreach(i => a(i)(i) += ridge)
    (0.0, Ols.choleskySolve(a, b))
  }

  /** The no-intercept CD loop as it stood beside the centered one. */
  private def refCdNoDrift(sys: Ols.Normal, alpha: Double, l1Ratio: Double,
                           sweeps: Int): Array[Double] = {
    val (g, b, nn, _) = sys
    val p = b.length
    val thr = nn * (alpha * l1Ratio)
    val l2 = nn * (alpha * (1.0 - l1Ratio))
    val w = new Array[Double](p)
    var t = 0
    while (t < sweeps) {
      var j = 0
      while (j < p) {
        var rho = b(j)
        var k = 0
        while (k < p) { if (k != j) rho -= g(j)(k) * w(k); k += 1 }
        val den = g(j)(j) + l2
        w(j) =
          if (den <= 0.0) 0.0
          else if (rho > thr) (rho - thr) / den
          else if (rho < -thr) (rho + thr) / den
          else 0.0
        j += 1
      }
      t += 1
    }
    w
  }

  private val grid = Seq(0.01, 0.1, 1.0)

  /** Every one-set fit as (name, solves by Cholesky, block-pass fit,
    * SQL-path reference). */
  private def oneSetFits(f: Seq[String]): Seq[(String, Boolean, DataFrame => Any, DataFrame => Any)] =
    Seq(
      ("fit", true, df => Ols.fit(df, f, "y"), df => refFit(df, f, "y")),
      ("ridge", true, df => Ols.fit(df, f, "y", 0.5), df => refFit(df, f, "y", 0.5)),
      ("noDrift", true, df => (0.0, Ols.fitNoDrift(df, f, "y")), df => refNoDrift(df, f, 0.0)),
      ("noDriftRidge", true, df => (0.0, Ols.fitNoDrift(df, f, "y", 100.0)),
        df => refNoDrift(df, f, 100.0)),
      ("weighted", true, df => Ols.fitWeighted(df, f, "y", "w"), { df =>
        val (a, b, _, _) = sqlSystem(df, f, "y", "weighted OLS fit", Some("w"))
        val w = Ols.choleskySolve(a, b)
        (w(0), w.drop(1))
      }),
      ("cd", false, df => Ols.elasticNetCD(df, f, "y", 0.1, 0.5, 12), { df =>
        val (a, b, _, _) = sqlSystem(df, f, "y")
        Ols.cdFromMoments(a, b, 0.1, 0.5, 12)
      }),
      ("cdNoDrift", false, df => (0.0, Ols.elasticNetCDNoDrift(df, f, "y", 0.1, 0.5, 12)),
        df => (0.0, refCdNoDrift(sqlSystem(df, f, "y", "no-drift CD fit", intercept = false),
          0.1, 0.5, 12))),
      ("aic", false, df => Ols.lassoAicCD(df, f, "y", grid, 12),
        df => Ols.lassoAic(sqlSystem(df, f, "y", "lassoAicCD"), grid, 12)),
      ("lars", true, df => Ols.lassoLarsIC(df, f, "y"),
        df => Ols.lassoLarsICOf(sqlSystem(df, f, "y", "lassoLarsIC"), "aic")),
      ("larsBic", true, df => Ols.lassoLarsIC(df, f, "y", "bic"),
        df => Ols.lassoLarsICOf(sqlSystem(df, f, "y", "lassoLarsIC"), "bic")))

  private def resultBits(r: Any): Seq[Long] = r match {
    case (b0: Double, w: Array[Double]) => (b0 +: w.toSeq).map(bits)
    case (al: Double, b0: Double, w: Array[Double]) => (al +: b0 +: w.toSeq).map(bits)
  }

  /** Every one-set fit over `df` uncached (the block pass plans the
    * cache layout) and cached, against the SQL path over the cache. */
  private def checkOneSet(df: DataFrame, f: Seq[String], ctx: String, flavour: String,
                          only: Set[String] = Set.empty): Unit = {
    val fits = oneSetFits(f).filter(c => only.isEmpty || only(c._1))
    val got = noLeftovers(fits.map(c => Try(resultBits(c._3(df)))))
    val cached = df.cache()
    try {
      val want = fits.map(c => Try(resultBits(c._4(cached))))
      val gotCached = fits.map(c => Try(resultBits(c._3(cached))))
      fits.indices.foreach { i =>
        val (name, loud, _, _) = fits(i)
        val fl = if (loud) flavour else "plain"
        assertSame(got(i), want(i), s"$name $ctx", fl)(identity)
        assertSame(gotCached(i), want(i), s"$name cached $ctx", fl)(identity)
      }
    } finally cached.unpersist(blocking = true)
  }

  test("every one-set fit == the SQL moment aggregate and the same solve, bit for bit") {
    for ((seed, flavour) <- Seq(91L -> "plain", 92L -> "plain", 93L -> "inf"); parts <- Seq(1, 3, 8))
      checkOneSet(seededFrame(seed, parts, flavour = flavour), Seq("x1", "x2", "x3"),
        s"$seed/$flavour/$parts", flavour)
  }

  test("a 40-feature system (904 moments, past the former 600-sum limit), bit for bit") {
    checkOneSet(seededFrame(95, 8, d = 40, rows = 1500, odds = 400), (1 to 40).map(j => s"x$j"),
      "d=40", "plain", Set("fit", "ridge", "noDrift", "weighted"))
  }

  test("every one-set fit keeps its no-rows error, inside a sharing scope too") {
    val f = Seq("x1", "x2", "x3")
    val tail = "has no complete training rows (all rows empty or null in x1, x2, x3 / y)"
    val want = Map("fit" -> "OLS fit", "ridge" -> "OLS fit", "noDrift" -> "no-drift OLS fit",
      "noDriftRidge" -> "no-drift OLS fit", "weighted" -> "weighted OLS fit", "cd" -> "OLS fit",
      "cdNoDrift" -> "no-drift CD fit", "aic" -> "lassoAicCD", "lars" -> "lassoLarsIC",
      "larsBic" -> "lassoLarsIC").map { case (k, v) => k -> s"$v $tail" }
    val noLabel = seededFrame(94, 3).withColumn("y", lit(null).cast("double"))
    def err(body: => Any): String = intercept[IllegalArgumentException](body).getMessage
    for ((name, _, fit, ref) <- oneSetFits(f)) {
      assert(err(ref(noLabel)) == want(name), name)
      assert(err(noLeftovers(fit(noLabel))) == want(name), name)
    }
    Ols.withMomentSharing(oneSetFits(f).foreach { case (name, _, fit, _) =>
      assert(err(fit(noLabel)) == want(name), s"shared $name")
    })
    // rows with a null or NaN weight are dropped like null features
    val noWeight = seededFrame(94, 3)
      .withColumn("w", when(col("k") % 2 === 0, lit(Double.NaN)).otherwise(lit(null)))
    assert(err(Ols.fitWeighted(noWeight, f, "y", "w")) == want("weighted"))
  }
}
