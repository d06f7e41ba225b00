package graft

import graft.functions.Ols
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** r15 optimization internals: scoped OLS moment sharing and the
  * distributed top-k combine must be value-transparent. */
class MomentSharingSpec extends SparkSpec {

  private def frame = spark.range(300).select(
    (pmod(xxhash64(col("id")), lit(1000)).cast("double") / 100).as("x1"),
    (pmod(xxhash64(col("id"), lit(1)), lit(1000)).cast("double") / 100).as("x2"))
    .withColumn("y", col("x1") * 0.8 - col("x2") * 0.3 + lit(4.0))

  test("withMomentSharing returns bitwise the unshared fits") {
    val d = frame.cache()
    try {
      val plainOls = Ols.fit(d, Seq("x1", "x2"), "y")
      val plainRidge = Ols.fit(d, Seq("x1", "x2"), "y", ridge = 0.5)
      val plainCd = Ols.elasticNetCD(d, Seq("x1", "x2"), "y",
        alpha = 0.1, l1Ratio = 1.0, sweeps = 8)
      val (sharedOls, sharedRidge, sharedCd) = Ols.withMomentSharing {
        // same plan three ways — one moment job serves all three fits
        (Ols.fit(d, Seq("x1", "x2"), "y"),
          Ols.fit(d, Seq("x1", "x2"), "y", ridge = 0.5),
          Ols.elasticNetCD(d, Seq("x1", "x2"), "y",
            alpha = 0.1, l1Ratio = 1.0, sweeps = 8))
      }
      assert(sharedOls._1 == plainOls._1 &&
        sharedOls._2.sameElements(plainOls._2), "OLS drifted under sharing")
      // ridge goes on the diagonal of the caller's own matrix — the
      // shared moment vector must stay unpenalized for the next fit
      assert(sharedRidge._1 == plainRidge._1 &&
        sharedRidge._2.sameElements(plainRidge._2), "ridge drifted under sharing")
      assert(sharedCd._1 == plainCd._1 &&
        sharedCd._2.sameElements(plainCd._2), "CD drifted under sharing")
    } finally d.unpersist(blocking = false)
  }

  /** The jobs `body` starts on this thread, and its result. */
  private def jobsOf[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val group = s"moment-sharing-${System.nanoTime}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try {
      val r = body
      org.apache.spark.ListenerDrain(sc)
      (n.get, r)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }

  test("a drift and a no-drift fit over one frame share one moment job") {
    val d = frame
    val fs = Seq("x1", "x2")
    val (plainJobs, (plain, plainNd)) =
      jobsOf((Ols.fit(d, fs, "y", ridge = 0.5), Ols.fitNoDrift(d, fs, "y", ridge = 0.5)))
    val (sharedJobs, (shared, sharedNd)) = jobsOf(Ols.withMomentSharing(
      (Ols.fit(d, fs, "y", ridge = 0.5), Ols.fitNoDrift(d, fs, "y", ridge = 0.5))))
    assert(plainJobs == 2 && sharedJobs == 1, s"jobs: $plainJobs unshared, $sharedJobs shared")
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    assert(bits(shared._1 +: shared._2.toSeq) == bits(plain._1 +: plain._2.toSeq))
    assert(bits(sharedNd.toSeq) == bits(plainNd.toSeq))
  }

  test("sharing scope is cleared on exit (no cross-scope reuse)") {
    val d = frame
    val a = Ols.withMomentSharing(Ols.fit(d, Seq("x1", "x2"), "y"))
    val b = Ols.withMomentSharing(Ols.fit(d, Seq("x1", "x2"), "y"))
    assert(a._1 == b._1 && a._2.sameElements(b._2))
  }

  test("batched-knn distributed combine equals the per-member exact roll") {
    // EliteDeep's knn members route through EliteKnnBatch →
    // heapPassMultiMerged (the reduceByKey combine); predictRecursive
    // is the per-member exact roll (window-rank merge). Same panel,
    // same (lags, k, fh) ⇒ bitwise-identical forecasts.
    val series = Seq(
      Seq(1.0, 3, 2, 5, 4, 6, 5, 8, 7, 9, 8, 11, 10, 12),
      Seq(2.0, 2, 4, 3, 6, 5, 7, 6, 9, 8, 10, 9, 12, 11),
      Seq(5.0, 1, 5, 1, 5, 1, 5, 1, 5, 1, 5, 1, 5, 1))
    import spark.implicits._
    val rows = series.zipWithIndex.flatMap { case (s, e) =>
      s.zipWithIndex.map { case (v, t) => (e, t, v) }
    }
    val df = rows.toDF("entity", "ti", "value")
      .withColumn("t", expr(
        "timestampadd(DAY, ti, timestamp'2020-01-01 00:00:00')"))
      .drop("ti")
    val p = core.Panel(df, Seq("entity"), Seq("t"), "value")
    val viaBatch = operators.EliteDeep.run(p, "t", "1d", fh = 2, topK = 1,
      strategy = "mean", testSize = 2, nSplits = 2, stepSize = 2,
      models = Seq("knn_3"))
    val direct = operators.KnnForecaster.predictRecursive(
      p, "t", "1d", lags = 7, k = 3, fh = 2)
    val a = viaBatch.orderBy("entity", "t").collect().map(_.toSeq)
    val b = direct.orderBy("entity", "t").collect().map(_.toSeq)
    assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y },
      s"batch vs direct:\n${a.mkString("\n")}\nvs\n${b.mkString("\n")}")
  }
}
