package graft

import graft.core.Panel
import graft.functions.{FitBlocks, Logistic, Ols}
import graft.operators.{Forecasters, StumpBoost}
import graft.operators.StumpBoost.Stump
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** The block-kernel loops of [[StumpBoost]] and [[Logistic.fitIrls]]
  * against the SQL-aggregate loops they replaced (kept below as the
  * references), bit for bit: every stump's (feat, thr, vl, vr), b0 and
  * the IRLS β, on seeded frames with values on grid thresholds, gain
  * ties, ±Inf lags (NaN thresholds), −0.0, empty-side candidates,
  * null/NaN rows and 1, 3 and 8 input partitions — each fit at driver
  * cap 0 (one job per pass) and with no cap (the passes after the first
  * on the driver). */
class FitKernelSpec extends SparkSpec {

  /** The former `StumpBoost.fit` loop: one conditional-aggregation
    * query per round over a cached frame. */
  private def refStump(reduction: DataFrame, featureCols: Seq[String], label: String,
                       rounds: Int, bins: Int, eta: Double): (Double, Vector[Stump]) = {
    val lags = featureCols.length
    val train = reduction.na.drop(featureCols :+ label)
      .select((featureCols :+ label).map(col): _*).cache()
    try {
      val mmAggs = featureCols.flatMap(f => Seq(min(col(f)), max(col(f)))) ++
        Seq(sum(col(label)), count(lit(1)))
      val mmRow = train.agg(mmAggs.head, mmAggs.tail: _*).collect()(0)
      if (mmRow.getLong(2 * lags + 1) == 0L)
        throw new IllegalArgumentException(
          s"stump-boost fit has no complete training rows (every entity " +
            s"shorter than lags=$lags, or all rows null in $label)")
      val mins = Array.tabulate(lags)(i => mmRow.getDouble(2 * i))
      val maxs = Array.tabulate(lags)(i => mmRow.getDouble(2 * i + 1))
      val b0 = mmRow.getDouble(2 * lags) / mmRow.getLong(2 * lags + 1)
      val cands = for { i <- 1 to lags; k <- 1 until bins }
        yield (i, k, mins(i - 1) + k * (maxs(i - 1) - mins(i - 1)) / bins.toDouble)
      import graft.functions.StableConst.{double => sd}
      val featsArr = array(featureCols.map(col): _*)
      var stumps = Vector.empty[Stump]
      (1 to rounds).foreach { _ =>
        val r = col(label) - stumps.foldLeft(sd(b0): Column)((acc, s) =>
          acc + when(element_at(featsArr, lit(s.feat)) <= sd(s.thr),
            sd(s.vl)).otherwise(sd(s.vr)))
        val aggs = cands.flatMap { case (i, _, t) =>
          Seq(sum(when(col(featureCols(i - 1)) <= sd(t), r)),
              count(when(col(featureCols(i - 1)) <= sd(t), r)))
        } ++ Seq(sum(r), count(lit(1)))
        val row = train.agg(aggs.head, aggs.tail: _*).collect()(0)
        val st = row.getDouble(2 * cands.size)
        val nt = row.getLong(2 * cands.size + 1)
        val scored = cands.zipWithIndex.map { case ((i, k, t), ci) =>
          val sl = if (row.isNullAt(2 * ci)) 0.0 else row.getDouble(2 * ci)
          val nl = row.getLong(2 * ci + 1)
          val gain =
            if (nl > 0 && nl < nt) sl * sl / nl + (st - sl) * (st - sl) / (nt - nl)
            else -1e308
          (gain, i, k, t, sl, nl)
        }
        val (_, bi, _, bt, bsl, bnl) = scored.minBy { case (g, i, k, _, _, _) => (-g, i, k) }
        val vl = if (bnl > 0) bsl / bnl * eta else 0.0
        val vr = if (nt > bnl) (st - bsl) / (nt - bnl) * eta else 0.0
        stumps :+= Stump(bi, bt, vl, vr)
      }
      (b0, stumps)
    } finally train.unpersist(blocking = false)
  }

  /** The former `Logistic.fitIrls` loop: one weighted-moment aggregate
    * per iteration, β joined in as a broadcast array column. */
  private def refIrls(df: DataFrame, featureCols: Seq[String], labelCol: String,
                      lambda: Double, iters: Int = 6): (Double, Array[Double]) = {
    val p = featureCols.length
    val d = p + 1
    val cached = df.na.drop(featureCols :+ labelCol).cache()
    val n = cached.count()
    if (n == 0) {
      cached.unpersist()
      throw new IllegalArgumentException(
        s"logistic fit has no complete training rows (all rows empty or " +
          s"null in ${featureCols.mkString(", ")} / $labelCol)")
    }
    val parts = math.max(1L,
      math.min(cached.rdd.getNumPartitions.toLong, n / 100000L)).toInt
    val rows =
      if (parts < cached.rdd.getNumPartitions) cached.coalesce(parts) else cached
    try {
      val xs: IndexedSeq[Column] =
        lit(1.0) +: featureCols.toIndexedSeq.map(c => col(c).cast("double"))
      val y = col(labelCol).cast("double")
      val beta = new Array[Double](d)
      var t = 0
      while (t < iters) {
        val betaDf = spark.createDataFrame(
          java.util.List.of(Row(beta.toSeq)),
          StructType(Seq(StructField("__beta",
            org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)))))
        val withB = rows.crossJoin(broadcast(betaDf))
        def bq(j: Int): Column = element_at(col("__beta"), j + 1)
        val eta = (1 to p).foldLeft(bq(0))((acc, j) => acc + bq(j) * xs(j))
        val mu = lit(1.0) / (lit(1.0) + exp(-eta))
        val wr = mu * (lit(1.0) - mu)
        val rr = y - mu
        val prep = withB.select(
          (0 until d).map(i => xs(i).as(s"__x$i")) ++
            Seq(wr.as("__w"), rr.as("__r")): _*)
        def px(i: Int): Column = col(s"__x$i")
        val exprs = (for (i <- 0 until d; j <- i until d)
          yield sum(col("__w") * px(i) * px(j))) ++
          (0 until d).map(i => sum(col("__r") * px(i)))
        val row = prep.agg(exprs.head, exprs.tail: _*).collect()(0)
        val tri = d * (d + 1) / 2
        val h = Array.ofDim[Double](d, d)
        var k = 0
        for (i <- 0 until d; j <- i until d) {
          h(i)(j) = row.getDouble(k); h(j)(i) = row.getDouble(k); k += 1
        }
        val g = Array.tabulate(d)(i => row.getDouble(tri + i))
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
    } finally cached.unpersist(blocking = false)
  }

  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)

  private def assertSameStumps(got: (Double, Seq[Stump]), want: (Double, Seq[Stump]),
                               ctx: String): Unit = {
    assert(bits(got._1) == bits(want._1), s"$ctx b0 ${got._1} vs ${want._1}")
    assert(got._2.length == want._2.length, ctx)
    got._2.zip(want._2).zipWithIndex.foreach { case ((g, w), k) =>
      assert(g.feat == w.feat && bits(g.thr) == bits(w.thr) &&
        bits(g.vl) == bits(w.vl) && bits(g.vr) == bits(w.vr), s"$ctx round $k: $g vs $w")
    }
  }

  private def assertSameBeta(got: (Double, Array[Double]), want: (Double, Array[Double]),
                             ctx: String): Unit = {
    val g = got._1 +: got._2.toSeq
    val w = want._1 +: want._2.toSeq
    assert(g.map(bits) == w.map(bits), s"$ctx β $g vs $w")
  }

  private def frame(rows: Seq[Seq[java.lang.Double]], names: Seq[String], parts: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row.fromSeq(r)), parts),
      StructType(names.map(StructField(_, DoubleType))))

  private val lagCols = Seq("lag_1", "lag_2", "lag_3")

  /** Seeded reduction rows: lags on the integer grid 0..8 (every value
    * sits on a bins = 8 or 4 threshold), −0.0 and 0.0, null and NaN
    * cells; flavours add ±Inf to one lag (NaN thresholds), a constant lag
    * (every candidate has an empty side), a duplicated lag (gain ties
    * across features), or ±Inf in two lags with the third constant (no
    * candidate splits, so a NaN threshold is chosen). */
  private def stumpRows(seed: Long, n: Int, flavour: String): Seq[Seq[java.lang.Double]] = {
    val rnd = new scala.util.Random(seed)
    def cell(): java.lang.Double = rnd.nextInt(40) match {
      case 0 => null
      case 1 => Double.NaN
      case 2 => -0.0
      case 3 => 0.0
      case _ => rnd.nextInt(9).toDouble
    }
    def label(): java.lang.Double = rnd.nextInt(30) match {
      case 0 => null
      case 1 => -0.0
      case 2 => 0.0
      case 3 => rnd.nextInt(4).toDouble
      case _ => math.rint(rnd.nextGaussian() * 800) / 64
    }
    (0 until n).map { r =>
      val l1 = cell()
      val l2: java.lang.Double = flavour match {
        case "dup" => l1
        case "inf" | "allinf" if r == 0 => Double.NegativeInfinity
        case "inf" | "allinf" if r == 1 => Double.PositiveInfinity
        case _ => cell()
      }
      val l3: java.lang.Double = if (flavour == "const" || flavour == "allinf") 4.0 else cell()
      if (flavour == "allinf" && r < 2) Seq(l2, l2, l3, label())
      else Seq(l1, l2, l3, label())
    }
  }

  test("stump rounds: block kernel == SQL-aggregate loop, bit for bit") {
    for {
      (flavour, seed) <- Seq("grid" -> 11L, "inf" -> 12L, "const" -> 13L, "dup" -> 14L,
        "allinf" -> 16L)
      parts <- Seq(1, 3, 8)
    } {
      val df = frame(stumpRows(seed, 300, flavour), lagCols :+ "y", parts)
      val bins = if (seed % 2 == 0) 8 else 4
      val eta = if (parts == 3) 0.5 else 0.3
      val want = refStump(df, lagCols, "y", rounds = 4, bins = bins, eta = eta)
      atBothCaps(noLeftovers(StumpBoost.fitRows(df, lagCols, "y", 4, bins, eta)))
        .foreach { case (cap, got) => assertSameStumps(got, want, s"$flavour/$parts/$cap") }
      // every candidate has an empty side: the stumps split at NaN
      if (flavour == "allinf") assert(want._2.forall(_.thr.isNaN), want)
    }
  }

  test("stump fit on a panel: same model as the reference over its reduction") {
    // entity 2 opens with −Inf/+Inf: lags 2 and 3 span ±Inf → NaN grid
    val rnd = new scala.util.Random(21)
    val series = (0 until 6).map(e => (0 until 40).map { t =>
      if (e == 2 && t == 0) Double.NegativeInfinity
      else if (e == 3 && t == 0) Double.PositiveInfinity
      else if (t % 11 == 5) -0.0
      else rnd.nextInt(7).toDouble + (if (t % 3 == 0) 0.5 else 0.0)
    })
    val p0 = panel(series: _*)
    for (parts <- Seq(1, 3, 8)) {
      val p = p0.copy(df = p0.df.repartition(parts, col("entity")))
      val cols = (1 to 3).map(l => s"value__lag_$l")
      val want = refStump(Forecasters.makeReduction(p, 3), cols, "value", 5, 8, 0.3)
      atBothCaps(noLeftovers(StumpBoost.fit(p, lags = 3, freq = "1i", rounds = 5, bins = 8,
        eta = 0.3))).foreach { case (cap, m) =>
        assertSameStumps((m.b0, m.stumps), want, s"panel/$parts/$cap")
      }
    }
  }

  test("stump predict sends every value left of a NaN threshold, like the fit") {
    // the fit's split test is Spark's `x <= thr` (NaN greatest): a NaN
    // threshold holds for every x, so the left leaf applies
    val p = panel((0 until 8).map(t => t.toDouble))
    val m = StumpBoost.Model(1.0, Seq(Stump(1, Double.NaN, 5.0, -5.0)), lags = 1, freq = "1i")
    val preds = m.predict(p, "t", fh = 2).orderBy("t").collect().map(_.getAs[Double]("value"))
    assert(preds.toSeq == Seq(6.0, 6.0))
    assert(FitBlocks.le(1.0, Double.NaN) && FitBlocks.le(Double.NaN, Double.NaN))
    assert(!FitBlocks.le(Double.NaN, 1.0) && FitBlocks.le(-0.0, 0.0) && FitBlocks.le(0.0, -0.0))
  }

  test("stump fit and predict on a panel whose lags span -Inf..+Inf") {
    // the first two points of each entity are lags only (never a
    // label): ±Inf there makes every grid threshold −Inf + Inf = NaN, so
    // every candidate's left side is the whole frame and round k's stump
    // is (lag 1, NaN, mean residual·η, 0.0); labels of mixed magnitude
    // keep the rounding residue of that mean off 0.0
    val body = (0 until 30).map(t => math.sin(t) * 1000 + t * 1e-3)
    val p = panel(Seq(Double.NegativeInfinity, Double.NegativeInfinity) ++ body,
      Seq(Double.PositiveInfinity, Double.PositiveInfinity) ++ body.reverse)
    val m = StumpBoost.fit(p, lags = 2, freq = "1i", rounds = 3, bins = 4, eta = 0.5)
    assert(m.stumps.forall(s => s.feat == 1 && s.thr.isNaN && s.vr == 0.0), m.stumps)
    val left = m.stumps.foldLeft(m.b0)(_ + _.vl)
    val right = m.stumps.foldLeft(m.b0)(_ + _.vr)
    assert(bits(left) != bits(right), s"fixture does not separate the leaves: $m")
    val preds = m.predict(p, "t", fh = 2).collect().map(_.getAs[Double]("value"))
    assert(preds.length == 4 && preds.forall(v => bits(v) == bits(left)),
      s"${preds.toSeq} vs left $left / right $right")
  }

  /** Seeded IRLS rows: x1 on a small integer grid (ties), x2 Gaussian,
    * x3 mixing −0.0 and 0.0 with uniforms, a hash-uniform label off a
    * known logistic, and a few null/NaN rows. */
  private def irlsRows(seed: Long, n: Int): Seq[Seq[java.lang.Double]] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val x1 = rnd.nextInt(5).toDouble - 2
      val x2 = rnd.nextGaussian()
      val x3 = rnd.nextInt(6) match {
        case 0 => -0.0
        case 1 => 0.0
        case _ => rnd.nextDouble() * 2 - 1
      }
      val pr = 1.0 / (1.0 + math.exp(-(0.3 + 0.8 * x1 - 1.1 * x2 + 0.5 * x3)))
      val y = if (rnd.nextDouble() < pr) 1.0 else 0.0
      rnd.nextInt(50) match {
        case 0 => Seq[java.lang.Double](x1, null, x3, y)
        case 1 => Seq[java.lang.Double](x1, x2, Double.NaN, y)
        case 2 => Seq[java.lang.Double](x1, x2, x3, null)
        case _ => Seq[java.lang.Double](x1, x2, x3, y)
      }
    }
  }

  test("IRLS iterations: block kernel == SQL-aggregate loop, bit for bit") {
    val xs = Seq("x1", "x2", "x3")
    for {
      seed <- Seq(31L, 32L)
      parts <- Seq(1, 3, 8)
      lambda <- Seq(0.0, 0.7)
    } {
      val df = frame(irlsRows(seed, 400), xs :+ "y", parts)
      val want = refIrls(df, xs, "y", lambda)
      atBothCaps(noLeftovers(Logistic.fitIrls(df, xs, "y", lambda = lambda)))
        .foreach { case (cap, got) => assertSameBeta(got, want, s"$seed/$parts/λ=$lambda/$cap") }
    }
  }

  test("IRLS past 200k rows: coalesced blocks fold in the reference's order") {
    // 250k rows over 8 partitions → parts = 2: each task folds four
    // blocks in sequence, as the coalesced aggregate did
    val h = (k: Int) => pmod(xxhash64(col("id"), lit(k)), lit(100000)).cast("double") / 100000
    val df = spark.range(0, 250000, 1, 8).select(
      (pmod(col("id"), lit(7)).cast("double") - 3).as("x1"),
      (h(1) * 4 - 2).as("x2"),
      h(2).as("u"))
      .withColumn("y", (col("u") < lit(1.0) / (lit(1.0) +
        exp(-(lit(0.2) + col("x1") * 0.6 - col("x2") * 0.9)))).cast("double"))
      .drop("u")
    for (lambda <- Seq(0.0, 2.5)) {
      val want = refIrls(df, Seq("x1", "x2"), "y", lambda)
      atBothCaps(noLeftovers(Logistic.fitIrls(df, Seq("x1", "x2"), "y", lambda = lambda)))
        .foreach { case (cap, got) => assertSameBeta(got, want, s"250k/λ=$lambda/$cap") }
    }
  }

  test("a repeated fit compiles no new classes") {
    // the block plan's jobs run as the caller's artifact session: as the
    // configs-off clone's, each fit would miss the codegen cache
    def compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def fits(seed: Int): Unit = {
      val p = panel((0 until 5).map(e => (0 until 40).map(t => ((t * 7 + e + seed) % 11).toDouble)): _*)
      StumpBoost.fit(p, lags = 3, freq = "1i", rounds = 3, bins = 8, eta = 0.3)
      Logistic.fitIrls(frame(irlsRows(seed, 200), Seq("x1", "x2", "x3", "y"), 3),
        Seq("x1", "x2", "x3"), "y")
    }
    fits(41)
    val c0 = compiles
    fits(42)
    assert(compiles == c0)
  }

  test("a set with one partition past its share of the cap runs distributed, same bits") {
    // partition 0 holds 900 rows, the others 20: at a cap of 4 × 1000
    // bytes each partition's share is 1000 bytes — room for the small
    // partitions' blocks (20 rows × 4 columns × 8 bytes = 640), not for
    // partition 0's (28,800), so every pass is one job
    val xs = Seq("x1", "x2", "x3")
    def skewed(rows: Seq[Seq[java.lang.Double]]): DataFrame = {
      val parts = Seq(rows.take(900)) ++ rows.drop(900).grouped(20).take(3)
      spark.createDataFrame(
        spark.sparkContext.parallelize(parts.map(_.map(r => Row.fromSeq(r))), 4)
          .flatMap(identity),
        StructType((xs :+ "y").map(StructField(_, DoubleType))))
    }
    val sdf = skewed(stumpRows(15L, 960, "grid"))
    val idf = skewed(irlsRows(33L, 960))
    val wantS = refStump(sdf, xs, "y", rounds = 4, bins = 8, eta = 0.3)
    val wantL = refIrls(idf, xs, "y", 0.7)
    val (jobsS, gotS) = withDriverCap(4000L)(jobsOf(noLeftovers(
      StumpBoost.fitRows(sdf, xs, "y", 4, 8, 0.3))))
    val (jobsL, gotL) = withDriverCap(4000L)(jobsOf(noLeftovers(
      Logistic.fitIrls(idf, xs, "y", lambda = 0.7))))
    assert(jobsS == 1 + 4 && jobsL == 1 + 6, s"jobs: stump $jobsS, IRLS $jobsL")
    assertSameStumps(gotS, wantS, "skewed")
    assertSameBeta(gotL, wantL, "skewed")
  }

  test("a small fit runs one job over its blocks: none per round or iteration") {
    val xs = Seq("x1", "x2", "x3")
    val sdf = frame(stumpRows(11L, 300, "grid"), lagCols :+ "y", 3)
    val idf = frame(irlsRows(31L, 400), xs :+ "y", 3)
    val (jobsS, _) = jobsOf(noLeftovers(StumpBoost.fitRows(sdf, lagCols, "y", 4, 8, 0.3)))
    val (jobsL, _) = jobsOf(noLeftovers(Logistic.fitIrls(idf, xs, "y")))
    assert(jobsS == 1 && jobsL == 1, s"jobs: stump $jobsS, IRLS $jobsL")
    // past the cap: one more job per round and per iteration
    val (capS, _) =
      withDriverCap(0L)(jobsOf(noLeftovers(StumpBoost.fitRows(sdf, lagCols, "y", 4, 8, 0.3))))
    val (capL, _) = withDriverCap(0L)(jobsOf(noLeftovers(Logistic.fitIrls(idf, xs, "y"))))
    assert(capS == 1 + 4 && capL == 1 + 6, s"jobs at cap 0: stump $capS, IRLS $capL")
  }

  test("empty frames fail with the reference's messages and leave no blocks") {
    val empty = frame(Seq(Seq[java.lang.Double](null, 1.0, 2.0, 3.0)), lagCols :+ "y", 3)
    val want = intercept[IllegalArgumentException](refStump(empty, lagCols, "y", 2, 4, 0.3))
    val wantL = intercept[IllegalArgumentException](refIrls(empty, lagCols, "y", 0.0))
    // no persisted RDD and no cached frame after each error, on either
    // side of the driver cap
    atBothCaps {
      val got = intercept[IllegalArgumentException](
        noLeftovers(StumpBoost.fitRows(empty, lagCols, "y", 2, 4, 0.3)))
      val gotL = intercept[IllegalArgumentException](
        noLeftovers(Logistic.fitIrls(empty, lagCols, "y")))
      (got.getMessage, gotL.getMessage)
    }.foreach { case (cap, msgs) => assert(msgs == (want.getMessage, wantL.getMessage), cap) }
  }
}
