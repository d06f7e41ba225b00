package graft

import graft.operators.{Dedup, DataSelection, Sampling, TextAnalysis}
import org.apache.spark.sql.functions._

/** Composed-curation soak: the `pipe_curate_full` five-operator plan
  * (url dedup → gopher quality rules → PII redaction → CCNet-style
  * perplexity bucketing → temperature-mixture sampling) over N
  * synthetic documents — one order of magnitude past the component
  * soaks' 1M-doc rows, validating the "two bounded-key shuffles"
  * claim of the composed plan at the scale decade the 100-TB story
  * extrapolates from. Reports wall, total shuffle read/write bytes
  * (Spark stage metrics), and peak scratch-disk usage (sampled).
  *
  * Usage: runMain graft.CurateSoak [nDocs]  (default 10,000,000)
  */
object CurateSoak {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(10000000)
    val spark = GraftSession.build(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")

    // shuffle-bytes accounting via a stage-completion listener
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val spilled = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        shufRead.addAndGet(sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        spilled.addAndGet(sc.stageInfo.taskMetrics.diskBytesSpilled)
      }
    })
    // peak scratch-disk sampler (blockmgr dirs live under java.io.tmpdir)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir", "/tmp"))
    val peakDisk = new java.util.concurrent.atomic.AtomicLong
    def du(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    val sampler = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val t = new Thread(r, "disk-sampler"); t.setDaemon(true); t })
    sampler.scheduleWithFixedDelay(() => {
      val d = Option(tmp.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("blockmgr") || f.getName.startsWith("spark"))
        .map(du).sum
      peakDisk.getAndUpdate(p => math.max(p, d))
    }, 2L, 5L, java.util.concurrent.TimeUnit.SECONDS)

    // synthetic documents in the testdata `documents` shape: 4 sources
    // with a skewed mix, ~40-word bodies with a planted low-quality
    // tail (short docs) and URL duplicate groups of 4 like the query
    val srcW = pmod(xxhash64(col("doc_id")), lit(10))
    val docs0 = spark.range(nDocs).select(col("id").as("doc_id"))
      .withColumn("source",
        when(srcW < 5, "web").when(srcW < 8, "books")
          .when(srcW < 9, "code").otherwise("wiki"))
      .withColumn("__nw",
        when(pmod(xxhash64(col("doc_id"), lit(1)), lit(20)) === 0, lit(4))
          .otherwise(lit(40)))
    // body via transform over an index sequence: common zipfian-ish
    // words, lowercase alpha so gopher's alpha-ratio holds
    val docs = docs0.withColumn("text",
        concat_ws(" ", expr(
          "transform(sequence(0, __nw - 1), " +
            "i -> concat('the w', pmod(xxhash64(doc_id, i), 2000)))")))
      .drop("__nw")
      .repartition(64)
      .cache()
    println(s"[curate-soak] docs=${docs.count()}")

    val g = (col("doc_id") / 4).cast("long")
    val v = pmod(col("doc_id"), lit(4))
    val url = when(v === 0,
        concat(lit("http://example.com/a/item?id="), g, lit("&ref=home")))
      .when(v === 1,
        concat(lit("HTTP://Example.COM/a/item?id="), g, lit("&ref=home")))
      .when(v === 2,
        concat(lit("http://www.example.com:80/a/item?id="), g, lit("&ref=home")))
      .otherwise(concat(lit("http://example.com/a/item?id="), g,
        lit("&ref=home&utm_source=news&utm_campaign=x#frag")))

    val t0 = System.nanoTime()
    // the exact pipe_curate_full composition (PipelineQueries.scala)
    val afterUrl = docs.join(
      Dedup.urlDedup(docs.withColumn("url", url), "doc_id", "url")
        .filter(col("keep")).select("doc_id"),
      "doc_id")
    val afterGopher = afterUrl.join(
      TextAnalysis.gopherRules(afterUrl, "doc_id", "text")
        .filter(col("keep")).select("doc_id"),
      "doc_id")
    val redacted = afterGopher
      .withColumn("ct", TextAnalysis.piiRedact(col("text")))
    val keptLm = DataSelection
      .perplexityBuckets(redacted, "doc_id", "ct")
      .filter(col("bucket_label") =!= "tail")
      .select(col("doc_id"), col("cross_entropy"), col("bucket_label"))
    val afterLm = redacted.join(keptLm, "doc_id")
    val out = Sampling
      .temperatureMixture(afterLm, "doc_id", "source", "ct", (nDocs / 6).toLong)
      .select(col("doc_id"), col("source"), col("cross_entropy"),
        col("bucket_label"), col("rate"),
        md5(col("ct").cast("binary")).as("text_fp"))
    val n = out.rdd.count()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"[curate-soak] pipe_curate_full: $wall%.1f s, out=$n rows " +
      f"(${nDocs / wall / 1e3}%.0f K docs/s)")
    println(f"[curate-soak] shuffle_read=${shufRead.get / 1e9}%.2f GB " +
      f"shuffle_write=${shufWrite.get / 1e9}%.2f GB " +
      f"disk_spill=${spilled.get / 1e9}%.2f GB " +
      f"peak_scratch_disk=${peakDisk.get / 1e9}%.2f GB")
    sampler.shutdownNow()
    spark.stop()
  }
}
