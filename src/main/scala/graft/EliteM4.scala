package graft

import graft.core.Panel
import graft.operators.{EliteDeep, Forecasters, Metrics}
import org.apache.spark.sql.functions._

/** Elite-vs-naive forecast value add (FVA) on real M4 data — the
  * reference's `test_elite_on_m4` (tests/test_forecasting.py:239-273)
  * is marked `@pytest.mark.skip("WIP")` there; this harness runs the
  * same protocol for real: fit the full elite zoo on an M4 train
  * split, forecast fh, score smape_original per entity against the
  * test split, join the naive scores, and report FVA = naive − elite
  * (positive = elite adds value over the random walk).
  *
  * Usage: runMain graft.EliteM4 [freq] [strategy] [models] [deepLags] [fourierK]
  *   fourierK (>0) runs the zoo's fourier families at reference depth
  *   (K = min(fourierK, sp−1), detrend family 2·fourierK — elite.py's
  *   K=6/K=12 tiering at fourierK=6) instead of the oracle-bounded K=2.
  *   deepLags (>14) appends the caller-depth members
  *   (EliteDeep.deepModels) to the zoo — the reference builds its zoo
  *   over the forecaster's lag budget (elite.py:80-164), commonly 24+.
  *   freq ∈ {1d, 1h, 1w, 1mo, 1y} (fh/lags per M4Accuracy, sp per
  *   offsets.py:44-55); models as in EliteSoak ("all"|"linear"|"knn"|
  *   csv — "linear" excludes the knn members, the right default for
  *   the 23k-entity yearly split where exact-KNN per-pass cost bites).
  */
object EliteM4 {
  def main(args: Array[String]): Unit = {
    val freq = args.headOption.getOrElse("1w")
    val strategy = if (args.length > 1) args(1) else "mean"
    val models: Seq[String] = (if (args.length > 2) args(2) else "all") match {
      case "all" => EliteDeep.allModels
      case "linear" => EliteDeep.allModels.filterNot(_.startsWith("knn"))
      case "knn" => "naive" +: EliteDeep.allModels.filter(_.startsWith("knn"))
      case csv => csv.split(",").toSeq
    }
    val deepLags = if (args.length > 3) args(3).toInt else 0
    val fourierK = if (args.length > 4) args(4).toInt else 0
    val (fh, lags, sp) = freq match {
      case "1d" => (14, 30, 7)
      case "1h" => (48, 24, 24)
      case "1w" => (13, 14, 52)
      case "1mo" => (18, 12, 12)
      case "1y" => (6, 3, 1)
      case other => throw new IllegalArgumentException(s"unknown M4 freq $other")
    }
    // fourier members need K(=2) < sp — at yearly sp=1 there is no
    // sub-period to model, so those members drop (the engine's
    // FourierLinear require stays loud by design)
    val usable0 =
      if (sp > 2) models else models.filterNot(_.contains("fourier"))
    // caller-depth members ride along explicitly (run()'s automatic
    // extension only fires when the selection is left at allModels);
    // the family-mode filters apply to the deep members too — "linear"
    // keeps its entity-scale guard (no deep knn), "knn" stays a
    // knn-family benchmark (no deep linear members diluting the rank)
    val usable =
      if (deepLags > 0) {
        val deepAll = EliteDeep.deepModels(deepLags, sp)
        val deep = (if (args.length > 2) args(2) else "all") match {
          case "linear" => deepAll.filterNot(_.startsWith("knn"))
          case "knn" => deepAll.filter(_.startsWith("knn"))
          case _ => deepAll
        }
        usable0 ++ deep
      } else usable0
    val dataDir = sys.env.getOrElse("M4_DATA_DIR", "/root/reference/data")
    val spark = GraftSession.build(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")

    def load(path: String) = {
      val raw = spark.read.parquet(path)
      val target = raw.columns
        .filterNot(c => c == "series" || c == "time" || c == "partition_id").head
      raw.select(regexp_replace(col("series"), " ", "").as("series"),
        col("time").cast("long").as("time"),
        col(target).cast("double").as("y"))
    }
    val fullTrain = load(s"$dataDir/m4_${freq}_train.parquet")
    val testPath = s"$dataDir/m4_${freq}_test.parquet"
    val haveTest = new java.io.File(testPath).exists()
    // 1mo has no test parquet in the reference data copy: synthesize
    // the test split as each entity's last-fh holdout (M4Accuracy's
    // protocol — conftest.py:76-80 applied in reverse)
    val (yTrainAll, synthTest) = if (haveTest) (fullTrain, None) else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("series").orderBy(col("time").desc)
      val ranked = fullTrain
        .withColumn("__rd", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("series")))
      val holdable = col("__n") >= fh + lags + 2
      println(s"[elite-m4] $freq: test split synthesized as last-$fh holdout")
      (ranked.filter(!holdable || col("__rd") > fh).select("series", "time", "y"),
        Some(ranked.filter(holdable && col("__rd") <= fh).select("series", "time", "y")))
    }
    // series long enough for the deepest member's lag depth AND the
    // CV splits (check_backtest_lengths analog, cross_validation.py)
    val minLen = // holdable under either CV protocol, at the deepest member's lags
      math.max(math.max(lags, 14), deepLags) + 2 * fh + 2
    val long = yTrainAll.groupBy("series").count()
      .filter(col("count") >= minLen).select("series")
    val yTrain = yTrainAll.join(long, "series")
    val p = Panel(yTrain, Seq("series"), Seq("time"), "y")
    val nSeries = long.count()
    println(s"[elite-m4] $freq: $nSeries series >= $minLen points, " +
      s"fh=$fh lags=$lags sp=$sp strategy=$strategy members=${usable.length}")

    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[elite-m4] $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
    }
    val yElite = time("elite fit+predict") {
      // the reference protocol: test_size=1, n_splits=3 (elite.py:169
      // defaults) — members are ranked on one-step-ahead backtests
      EliteDeep.run(p, "time", "1i", fh = fh, topK = math.min(12, usable.length),
        strategy = strategy, testSize = 1, nSplits = 3, stepSize = 1, sp = sp,
        models = usable, deepLags = deepLags, fourierK = fourierK)
    }
    val yNaive = Forecasters.naive(p, "time", fh, "1i")

    val cutoffs = yTrain.groupBy("series").agg(max("time").as("__cutoff"))
    val yTest = synthTest.getOrElse(load(testPath)
      .join(cutoffs, "series")
      .select(col("series"), (col("time") + col("__cutoff")).as("time"), col("y")))
    def scoreOf(pred: org.apache.spark.sql.DataFrame, name: String) = {
      val j = Metrics.aligned(yTest, pred.withColumnRenamed("y", "pred"),
        Seq("series", "time"), "y", "pred")
      Metrics.smapeOriginal(j.filter(col("__p").isNotNull), Seq("series"))
        .withColumnRenamed("smape_original", name)
    }
    val scores = scoreOf(yElite, "s_elite").join(scoreOf(yNaive, "s_naive"), Seq("series"))
      .withColumn("fva", col("s_naive") - col("s_elite"))
      .localCheckpoint(true)
    val agg = scores.agg(
      avg("s_elite").as("elite"), avg("s_naive").as("naive"),
      avg("fva").as("fva"),
      avg(when(col("fva") > 0, 1.0).otherwise(0.0)).as("frac_pos"),
      count(lit(1)).as("n")).collect()(0)
    println(f"""{"freq":"$freq","strategy":"$strategy","mean_smape_original_elite":${agg.getDouble(0)}%.4f,"mean_smape_original_naive":${agg.getDouble(1)}%.4f,"mean_fva":${agg.getDouble(2)}%.4f,"frac_entities_improved":${agg.getDouble(3)}%.4f,"n_series":${agg.getLong(4)}}""")
    spark.stop()
  }
}
