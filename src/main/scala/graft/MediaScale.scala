package graft

import org.apache.spark.sql.functions._

/** Media-parser scale soak: N synthetic binary payloads (real
  * PNG/GIF/BMP/JPEG/WAV headers + hash tails, built in pure column
  * algebra — no driver data) through sniffMediaMeta and
  * wavSampleStats. Both are stateless single-pass projections, so
  * rows/s here extrapolates linearly to the 100 TB scan: the parse
  * rides the same codegen stage as the scan itself.
  * Run: `runMain graft.MediaScale [nRows]` (default 10M). */
object MediaScale {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10_000_000L)
    val spark = GraftSession.build(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.{MediaFixtures, Multimodal}

    val hv = conv(substring(md5(col("id").cast("string").cast("binary")), 1, 12), 16, 10).cast("long")
    val fmt = hv % 5
    val w = (hv % 1920 + 1).cast("int")
    val h = (shiftright(hv, 16) % 1080 + 1).cast("int")
    val nS = (hv % 17 + 16).cast("int")
    val tail = repeat(md5(col("id").cast("string")), 4).cast("binary") // 128-byte body
    val wav = concat(MediaFixtures.wavHeader(nS * 2, lit(1), lit(8000)),
      MediaFixtures.pcm(hv, nS))
    // materialize the corpus first so the timings below measure the
    // PARSE, not the synthetic payload generation
    val df = spark.range(n).withColumn("payload",
      when(fmt === 0, MediaFixtures.png(w, h, tail))
        .when(fmt === 1, MediaFixtures.gif(w, h, tail))
        .when(fmt === 2, MediaFixtures.bmp(w, h, tail))
        .when(fmt === 3, MediaFixtures.jpeg(w, h, tail))
        .otherwise(wav))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val genT0 = System.nanoTime()
    df.count()
    println(f"[media-scale] corpus generation+persist: ${(System.nanoTime() - genT0) / 1e9}%.1f s")

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val out = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[media-scale] $label: $s%.1f s  (${n / s / 1e6}%.2f M rows/s, out=$out)")
    }
    time("sniffMediaMeta over synthetic corpus") {
      Multimodal.sniffMediaMeta(df, "payload")
        .groupBy(col("media_meta.media_type")).count().count()
    }
    def wavAgg(out: org.apache.spark.sql.DataFrame): Long = {
      // collect the sums (a bare .count() would let Catalyst prune the
      // stats — and the payload generation with them)
      val r = out
        .agg(sum(col("wav_stats.n_samples")), sum(col("wav_stats.zero_crossings")))
        .collect()(0)
      r.getLong(0) + r.getLong(1)
    }
    time("wavSampleStatsFast kernel (1/5 of rows are WAV)") {
      wavAgg(Multimodal.wavSampleStatsFast(df, "payload"))
    }
    time("wavSampleStats column-algebra reference (same rows)") {
      wavAgg(Multimodal.wavSampleStats(df, "payload"))
    }
    spark.stop()
  }
}
