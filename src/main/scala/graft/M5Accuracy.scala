package graft

import graft.core.Panel
import graft.operators.{LinearForecaster, Metrics}
import org.apache.spark.sql.functions._

/** Reproduce the reference's M5 accuracy floor (BASELINE.md target 1):
  * mean per-entity RMSSE < 2.0, fh=28, freq=1d, lags ≤ 64, on the 2%
  * Walmart sample (tests/test_forecasting.py:120-122,
  * tests/conftest.py:226-287).
  *
  * Usage: runMain graft.M5Accuracy [dataDir]
  */
object M5Accuracy {

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/root/reference/data")
    val spark = GraftSession.build(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")

    val fh = 28
    val lags = 64
    val t0 = System.nanoTime()
    def load(path: String) = spark.read.parquet(path)
      .select(col("id").cast("string").as("id"), col("date").cast("date").as("date"),
        col("quantity_sold").cast("double").as("y"))
    val yTrainAll = load(s"$dataDir/m5_y_train_sample.parquet")
    // drop series too short for the lag matrix (conftest.py:243-247)
    val longEnough = yTrainAll.groupBy("id").count().filter(col("count") > lags).select("id")
    val yTrain = yTrainAll.join(longEnough, "id").cache()
    val p = Panel(yTrain, Seq("id"), Seq("date"), "y")
    val model = LinearForecaster.fit(p, lags, "1d")
    val yPred = model.predict(p, "date", fh)
      .select(col("id"), col("date").cast("date").as("date"), col("y").as("pred"))
    val yTest = load(s"$dataDir/m5_y_test_sample.parquet")
    val j = Metrics.aligned(yTest, yPred, Seq("id", "date"), "y", "pred")
      .filter(col("__p").isNotNull)
    val rmsse = Metrics.rmsse(j, yTrain, Seq("id"), Seq("date"), "y", sp = 1)
    val agg = rmsse.agg(avg("rmsse").as("mean"), count(lit(1)).as("n")).collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[m5] lags=$lags fh=$fh entities=${agg.getLong(1)} " +
      f"mean_rmsse=${agg.getDouble(0)}%.4f pass=${agg.getDouble(0) < 2.0} wall_s=$secs%.1f")
    spark.stop()
  }
}