package graft

import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Pipeline-extension soak: ~1M synthetic documents (with a planted
  * duplicate rate) and ~200k synthetic 64-d embeddings driven through
  * the dedup / text-analysis / similarity operators, reporting
  * wall-clock and docs/sec. Supports SCALE.md with measured numbers
  * for the training-data pipeline axis.
  *
  * Usage: runMain graft.PipelineSoak [nDocs] [nVecs]
  */
object PipelineSoak {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(1000000)
    val nVecs = args.drop(1).headOption.map(_.toInt).getOrElse(200000)
    val spark = GraftSession.build(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")

    // ~20-word docs; 10% planted duplicates (doc i copies doc i-1 when
    // i % 10 == 0) so dedup has real work to find
    val srcId = when(col("id") % 10 === 0 && col("id") > 0, col("id") - 1).otherwise(col("id"))
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 20).map(w =>
        concat(lit("w"), pmod(xxhash64(srcId, lit(w)), lit(5000)))): _*).as("text"))
      .repartition(64)
      .cache()
    println(s"[psoak] docs=${docs.count()}")

    def time(label: String, rows: Long)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val out = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[psoak] $label: $s%.1f s  (${rows / s / 1e3}%.0f K rows/s, out=$out)")
    }

    time("exact dedup (hash groupBy)", nDocs) {
      Dedup.exactDedup(docs, "doc_id", "text").filter(col("n_copies") > 1).count()
    }
    // NOTE: force every column through an aggregate — a bare .count()
    // on a projection lets Catalyst PRUNE the projections and the
    // stage measures nothing (the round-5 lesson; earlier rounds
    // reported 0.3 s here for exactly that reason)
    time("token count + quality + langid (per-row algebra)", nDocs) {
      docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n"),
        TextAnalysis.punctRatio(col("text")).as("p"),
        TextAnalysis.langId(col("text")).as("l"))
        .agg(sum(col("n") + col("p") + length(col("l"))))
        .collect()(0).getDouble(0).toLong
    }
    time("simhash (64-bit bit-vote)", nDocs) {
      Dedup.simhash(docs, "doc_id", "text").count()
    }
    time("minhash signatures + LSH candidate pairs", nDocs) {
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 16).persist()
      val pairs = Dedup.minhashCandidatePairs(sigs, "doc_id",
        numHashes = 16, rowsPerBand = 4).count()
      sigs.unpersist(blocking = false)
      pairs
    }

    // the 100 TB connected-components path: force the distributed
    // pointer-jumping label propagation (threshold=0 skips the driver
    // union-find) on a synthetic chain graph with a KNOWN component
    // structure — nDocs nodes in chains of 64, plus one pathological
    // 4096-node chain that needs the full O(log diameter) doubling
    time("label propagation CC (distributed path, chains of 64 + one 4096-chain)", nDocs) {
      val chain = spark.range(nDocs).select(col("id").as("a"), (col("id") + 1).as("b"))
        .filter(col("a") % 64 =!= 63 || col("a") < 4096)
        .repartition(64)
      val groups = Dedup.nearDupGroups(chain, driverUnionFindThreshold = 0L)
      val nGroups = groups.agg(count_distinct(col("group"))).collect()(0).getLong(0)
      // a chain graph is a forest: components = distinct nodes − edges
      val nEdges = chain.count()
      val nNodes = chain.select(explode(array(col("a"), col("b"))).as("n"))
        .distinct().count()
      require(nGroups == nNodes - nEdges,
        s"CC groups $nGroups != nodes-edges ${nNodes - nEdges}")
      nGroups
    }

    time("tfidf top-3 terms per doc", nDocs) {
      TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", 3).count()
    }
    time("bm25 top-10 docs (3-term query)", nDocs) {
      TextAnalysis.bm25TopDocs(docs, "doc_id", "text",
        Seq("w1", "w42", "w999"), 10).count()
    }
    time("trigram-LM cross-entropy (kernel probe — registry path)", nDocs) {
      TextAnalysis.trigramCrossEntropyKernel(docs, "doc_id", "text").count()
    }
    time("duplicated 32-char-span fraction (window min/max)", nDocs) {
      Dedup.duplicatedSpanRatio(docs, "doc_id", "text", span = 32).count()
    }
    time("decontaminate vs 1% eval split (broadcast 5-grams)", nDocs) {
      Dedup.decontaminationScores(
        docs.filter(col("doc_id") % 100 =!= 0),
        docs.filter(col("doc_id") % 100 === 0),
        "doc_id", "text", n = 5).filter(col("contaminated")).count()
    }
    time("PII scrub (counts + redaction, per-row regexps)", nDocs) {
      docs.select(col("doc_id") +: TextAnalysis.piiCounts(col("text")) :+
          TextAnalysis.piiRedact(col("text")).as("clean"): _*)
        .agg(sum(length(col("clean"))), sum(col("n_email")))
        .collect()(0).getLong(0)
    }
    time("gopher rules + mixture sample (stateless filters)", nDocs) {
      graft.operators.Sampling.mixtureSample(
        TextAnalysis.gopherRules(docs, "doc_id", "text"),
        col("doc_id"), when(col("r_tokens"), 0.5).otherwise(0.05)).count()
    }
    time("line dedup + reassembly (5-word lines, global keep-first)", nDocs) {
      val ws = split(col("text"), " ")
      val lines = transform(
        sequence(lit(0), ((size(ws) - lit(1)) / lit(5)).cast("int")),
        i => array_join(slice(ws, i * lit(5) + lit(1), lit(5)), " "))
      Dedup.lineDedup(docs, "doc_id", "text", lines, sep = " ").count()
    }
    time("intra-doc line dedup (word unit)", nDocs) {
      Dedup.intraDocLineDedup(docs, "doc_id", "text",
        split(col("text"), " "), sep = " ").count()
    }
    time("DSIR importance resample (10% target slice)", nDocs) {
      graft.operators.DataSelection.dsirScores(docs, "doc_id", "text",
        col("doc_id") % 10 === 3, tau = 50.0).filter(col("keep")).count()
    }
    time("quality-model fit + score (5x5 ridge distillation)", nDocs) {
      graft.operators.DataSelection.qualityClassifier(docs, "doc_id", "text")
        .filter(col("keep")).count()
    }
    time("perplexity buckets (LM score + sharded global rank)", nDocs) {
      val b = graft.operators.DataSelection.perplexityBuckets(
        docs, "doc_id", "text")
      val sizes = b.groupBy("bucket").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // thirds must be exactly balanced (within integer division)
      require(sizes.values.max - sizes.values.min <= 1, s"unbalanced $sizes")
      sizes.values.sum
    }
    time("bloom decontaminate vs 1% eval split (bit prefilter + verify)", nDocs) {
      Dedup.bloomDecontaminationScores(
        docs.filter(col("doc_id") % 100 =!= 0),
        docs.filter(col("doc_id") % 100 === 0),
        "doc_id", "text", n = 5).filter(col("contaminated")).count()
    }

    val vecs = spark.range(nVecs).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)),
        i => (pmod(xxhash64(col("id"), i), lit(997)).cast("double") / 997).cast("float"))
        .as("embedding"))
      .repartition(64)
      .cache()
    println(s"[psoak] vecs=${vecs.count()}")
    time("brute-force cosine top-10 for 32 queries", nVecs.toLong * 32) {
      Similarity.cosineTopK(vecs.filter(col("vec_id") < 32), vecs,
        "vec_id", "embedding", k = 10).count()
    }
    time("IVF top-10 for 32 queries (16 cells)", nVecs.toLong * 32) {
      Similarity.ivfTopK(vecs.filter(col("vec_id") < 32), vecs,
        "vec_id", "embedding", k = 10, nCells = 16).count()
    }
    time("PQ compress (4x16d, 8 cents) + ADC top-10 for 32 queries", nVecs.toLong * 32) {
      Similarity.pqTopK(vecs.filter(col("vec_id") < 32), vecs,
        "vec_id", "embedding", k = 10, m = 4, kCent = 8).count()
    }
    // SemDedup at soak scale: 256 clusters bound the within-cluster
    // pair fan-out to ~(nVecs/256)² per cluster; the assignment is a
    // zero-shuffle literal-argmax projection
    time("SemDedup (256 clusters, tau 0.9)", nVecs.toLong) {
      Dedup.semDedup(vecs, "vec_id", "embedding", nClusters = 256, tau = 0.9)
        .filter(col("is_dup")).count()
    }
    spark.stop()
  }
}
