package graft

import graft.core.Panel
import graft.operators.{LinearForecaster, Metrics}
import org.apache.spark.sql.functions._

/** Reproduce the reference's M4 accuracy floor (BASELINE.md target 1):
  * mean per-entity SMAPE < 0.30 for the linear forecaster on each M4
  * frequency (tests/test_forecasting.py:115-117, conftest.py:74-121).
  *
  * Config per frequency mirrors the reference fixtures: integer time
  * axis ("1i"), lags from m4_freq_to_lags, fh from the m4_dataset
  * params; test times are per-entity cutoff + relative index.
  *
  * Usage: runMain graft.M4Accuracy [dataDir] [freqCsv]
  * (defaults: /root/reference/data, all frequencies)
  */
object M4Accuracy {

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/root/reference/data")
    val freqFilter: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val spark = GraftSession.build(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")

    // (freq label, fh, lags); paths derive from the label. 1h is not
    // in the reference's five fixture frequencies but its parquets ARE
    // in the reference data (M4 hourly: fh=48, sp=24), so it runs too.
    // 1mo has no test parquet in the reference copy — its test split
    // is synthesized as a per-entity last-fh holdout from the train
    // parquet (conftest.py:76-80's protocol applied in reverse). 3mo
    // has NO train parquet at all — only the test parquet's 8
    // quarterly horizon points per series exist anywhere in the copy —
    // so its measured row applies the same synthesized-holdout
    // protocol to the 8-point test series at the largest (fh, lags)
    // an 8-point series supports: hold out the last 2 quarters, fit
    // lags=3 pooled over the 24k series. The row is labeled `3mo*` to
    // mark the scaled protocol (reference protocol is fh=8, lags=6 on
    // the absent full-length train series).
    val configs = Seq(
      ("1d", 14, 30), ("1h", 48, 24), ("1w", 13, 14),
      ("1mo", 18, 12), ("3mo", 8, 6), ("1y", 6, 3))

    val results = configs.flatMap { case (freq, fh0, lags0) =>
      if (freqFilter.exists(!_.contains(freq))) None else {
      val trainPath = s"$dataDir/m4_${freq}_train.parquet"
      val testPath = s"$dataDir/m4_${freq}_test.parquet"
      val haveTrain = new java.io.File(trainPath).exists()
      val haveTest0 = new java.io.File(testPath).exists()
      if (!haveTrain && !haveTest0) {
        println(s"[m4] skipping $freq: no parquet present")
        None
      } else Some {
      // test-parquet-only frequency (3mo): the test series become the
      // full series and the holdout scales to what they can hold
      val testOnly = !haveTrain
      val (fh, lags) = if (testOnly) (2, 3) else (fh0, lags0)
      val haveTest = haveTest0 && !testOnly
      if (testOnly)
        println(s"[m4] $freq: train parquet absent — scaled protocol " +
          s"fh=$fh lags=$lags over the ${fh0}-point test series")
      val t0 = System.nanoTime()
      def load(path: String) = {
        val raw = spark.read.parquet(path)
        val target = raw.columns.filterNot(c => c == "series" || c == "time" || c == "partition_id").head
        raw.select(regexp_replace(col("series"), " ", "").as("series"),
          col("time").cast("long").as("time"),
          col(target).cast("double").as("y"))
      }
      val full = load(if (testOnly) testPath else trainPath)
      // Missing test parquet: hold out each entity's last fh points
      // (only for series long enough to still fit after the holdout —
      // shorter series stay whole in train and score no test rows).
      val (yTrain, yTestRaw) = if (haveTest) (full, None) else {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("series").orderBy(col("time").desc)
        val ranked = full
          .withColumn("__rd", row_number().over(w))
          .withColumn("__n", count(lit(1)).over(Window.partitionBy("series")))
        val holdable = col("__n") >= fh + lags + 2
        val tr = ranked.filter(!holdable || col("__rd") > fh)
          .select("series", "time", "y")
        val te = ranked.filter(holdable && col("__rd") <= fh)
          .select("series", "time", "y")
        println(s"[m4] $freq: test split synthesized as last-$fh holdout from train")
        (tr, Some(te))
      }
      val p = Panel(yTrain, Seq("series"), Seq("time"), "y")
      // drop series shorter than lags+1 (check_backtest_lengths analog)
      val long = yTrain.groupBy("series").count().filter(col("count") > lags + 1).select("series")
      val pf = Panel(yTrain.join(long, "series"), Seq("series"), Seq("time"), "y")
      val model = LinearForecaster.fit(pf, lags, "1i")
      // barrier: at fh=48 × lags=24 the recursive-predict projection is
      // ~1200 expressions; fused into the SMAPE aggregate it blows the
      // generated method limits into interpreted fallback (observed
      // InternalCompilerException + slow hourly scoring). Materializing
      // the (entities × fh)-row prediction first keeps both stages
      // compiled.
      val yPred = model.predict(pf, "time", fh).localCheckpoint(true)
      // test times = train cutoff + relative time (conftest.py:97-108);
      // a synthesized holdout already carries absolute times
      val cutoffs = yTrain.groupBy("series").agg(max("time").as("__cutoff"))
      val yTest = yTestRaw.getOrElse(load(testPath).join(cutoffs, "series")
        .select(col("series"), (col("time") + col("__cutoff")).as("time"), col("y")))
      val j = Metrics.aligned(yTest, yPred.withColumnRenamed("y", "pred"),
        Seq("series", "time"), "y", "pred")
      val smape = Metrics.smape(j.filter(col("__p").isNotNull), Seq("series"))
      val mean = smape.agg(avg("smape")).collect()(0).getDouble(0)
      val n = smape.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[m4] freq=$freq%-4s lags=$lags%-3d fh=$fh%-3d entities=$n%-6d " +
        f"mean_smape=$mean%.4f pass=${mean < 0.30} fit_predict_score_s=$secs%.1f")
      (freq, mean, n, secs, testOnly)
      }
      }
    }
    // loud empty guard (ADVICE r11): a typo'd --freq filter otherwise
    // yields 0/0 → NaN as the headline metric instead of an error
    require(results.nonEmpty,
      s"no M4 frequency matched (filter=$freqFilter, data=$dataDir) - " +
        s"known frequencies: ${configs.map(_._1).mkString(", ")}")
    // headline mean spans only the reference-protocol rows — the 3mo*
    // scaled-protocol row (fh=2, lags=3 over 8-point test series) would
    // silently change comparability with rounds that skipped it; print
    // it separately (ADVICE r11)
    val refRows = results.filterNot(_._5)
    val overall =
      if (refRows.nonEmpty) refRows.map(_._2).sum / refRows.size else Double.NaN
    val withScaled = results.map(_._2).sum / results.size
    println(f"""{"m4_mean_smape_across_freqs":$overall%.4f,"m4_mean_incl_scaled":$withScaled%.4f,"n_scaled_protocol_rows":${results.count(_._5)},"all_below_0.30":${results.forall(_._2 < 0.30)}}""")
    spark.stop()
  }
}
