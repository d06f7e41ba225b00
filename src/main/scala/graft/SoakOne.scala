package graft
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off soak stage timing (local profiling aid). */
object SoakOne {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(1000000)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val srcId = when(col("id") % 10 === 0 && col("id") > 0, col("id") - 1).otherwise(col("id"))
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 20).map(w =>
        concat(lit("w"), pmod(xxhash64(srcId, lit(w)), lit(5000)))): _*).as("text"))
      .repartition(64).cache()
    println(s"[soakone] docs=${docs.count()}")
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val out = f
      println(f"[soakone] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s out=$out")
    }
    time("quality features only (count forces all cols)") {
      val f = graft.operators.DataSelection.qualityTrainingFrame(docs, "doc_id", "text")
      f.agg(sum(col("x_logtok") + col("x_mwl") + col("x_stop") + col("x_alpha") + col("label")))
        .collect()(0).getDouble(0).toLong
    }
    time("fitQualityModel (moment aggregate)") {
      graft.operators.DataSelection.fitQualityModel(docs, "doc_id", "text")._2.length.toLong
    }
    time("qualityClassifier full") {
      graft.operators.DataSelection.qualityClassifier(docs, "doc_id", "text").count()
    }
    // kernel FIRST so rep1 is genuinely cold (no shared cleaned cache)
    (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val n = TextAnalysis.trigramCrossEntropyKernel(docs, "doc_id", "text").count()
      println(f"[soakone] trigram KERNEL rep$i: ${(System.nanoTime() - t0) / 1e9}%.1f s out=$n")
    }
    (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val n = TextAnalysis.trigramCrossEntropy(docs, "doc_id", "text").count()
      println(f"[soakone] trigram rep$i: ${(System.nanoTime() - t0) / 1e9}%.1f s out=$n")
    }
    spark.stop()
  }
}
