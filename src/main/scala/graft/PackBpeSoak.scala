package graft

import graft.operators.{DataSelection, Packing, TextAnalysis}
import org.apache.spark.sql.functions._

/** 10M-doc soak for the composed packing + BPE + perplexity-bucket
  * chain (the one pipeline family SCALE.md lacked a ≥1M-doc number
  * for): synthetic ~20-word docs → BPE encode (greedy merge table) →
  * packManifest prefix-sum sharding → per-lang perplexity buckets.
  * Reports wall-clock, docs/sec, and the shuffle structure.
  *
  * Usage: runMain graft.PackBpeSoak [nDocs]
  */
object PackBpeSoak {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(10000000)
    val spark = GraftSession.build(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 20).map(w =>
        concat(lit("w"), pmod(xxhash64(col("id"), lit(w)), lit(5000)))): _*).as("text"))
      .repartition(64)
      .cache()
    println(s"[pbsoak] docs=${docs.count()}")
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val out = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[pbsoak] $label: $s%.1f s  (${nDocs / s / 1e3}%.0f K docs/s, out=$out)")
    }
    time("bpe encode (greedy merges, per-row kernel)") {
      TextAnalysis.bpeEncode(docs, "text", graft.queries.PipelineQueries.bpeMerges)
        .agg(sum(col("bpe_n_tokens"))).collect()(0).getLong(0)
    }
    time("bpe encode -> packManifest (sharded prefix sum, ctx 512)") {
      val enc = TextAnalysis.bpeEncode(docs, "text", graft.queries.PipelineQueries.bpeMerges)
      Packing.packManifest(enc, "doc_id", "text", ctxLen = 512,
        nTokens = Some(col("bpe_n_tokens")))
        .agg(sum(col("n_bins")) + max(col("bin_last"))).collect()(0).getLong(0)
    }
    time("per-lang perplexity buckets (trigram LM + lang window ranks)") {
      DataSelection.perplexityBuckets(
        docs.withColumn("lang", TextAnalysis.langId(col("text"))),
        "doc_id", "text", byCols = Seq("lang"))
        .agg(sum(col("rank")) + sum(col("bucket"))).collect()(0).getLong(0)
    }
    spark.stop()
  }
}
