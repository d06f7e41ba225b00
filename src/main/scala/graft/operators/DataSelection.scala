package graft.operators

import graft.functions.Ols
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Corpus-level data selection for training-data pipelines: importance
  * resampling toward a target domain (DSIR, Xie et al. 2023,
  * arXiv:2302.03169) and model-based quality filtering (the
  * fasttext-classifier pattern of GPT-3/CCNet pipelines, in linear
  * closed form so the fit is one distributed pass).
  *
  * Both are deterministic ends of the scrubbing pipeline: the sampling
  * draw is a portable hash ([[Sampling.uniformHash]]), the classifier
  * fit is the same one-pass normal-equation reduction the forecasters
  * use ([[graft.functions.Ols.fit]]) — no RNG, no iterative solver, so
  * results are reproducible run-to-run and checkable against a SQL
  * oracle.
  */
object DataSelection {

  /** Smoothed char-trigram log-probability: ln((c+1)/(ctx+V)), V=37
    * (a-z, 0-9, space — the [[TextAnalysis.normalized]] alphabet). */
  private def logp(c3: Column, c2: Column): Column =
    log((c3 + 1.0) / (c2 + 37.0))

  /** DSIR-style importance scores: per document, the length-normalized
    * log importance ratio between a TARGET-domain char-trigram LM and
    * the raw-corpus LM, both trained in the same pass —
    * `log_ratio = mean over trigram occurrences of
    * (logp_target − logp_raw)`, add-one smoothed as in
    * [[TextAnalysis.trigramCrossEntropy]].
    *
    * `weight = min(1, exp(tau · log_ratio))` is the keep probability
    * (tau = selection temperature; sharpens the near-flat per-trigram
    * ratios into a usable acceptance band), and `keep` draws it with
    * the deterministic hash in [[Sampling.uniformHash]] — so the
    * resample is reproducible and shardable (any subset of rows can
    * decide independently).
    *
    * Scale shape: ONE explode pass over the corpus, persisted narrow;
    * both models are conditional aggregates of the SAME
    * vocab-bounded (≤ alphabet³) count frame, broadcast to the
    * scoring join; the per-doc mean is the only corpus-sized shuffle.
    * The keep decision multiplies no data — at 100 TB this is two
    * scan-speed passes over the exploded trigrams.
    *
    * The comparison uses the 6-dp-rounded weight so the draw is
    * bit-stable across engines (u is an exact 48-bit dyadic; a
    * last-ulp difference in exp() can never flip it). */
  def dsirScores(docs: DataFrame, idCol: String, textCol: String,
                 targetPred: Column, tau: Double = 50.0): DataFrame = {
    // kernel scoring path (the trigramCrossEntropyKernel shape): both
    // LMs reduce to ONE bounded (≤ alphabet³) count frame — collected,
    // dlogp derived driver-side with the same Math.log arithmetic —
    // and each doc scores as a per-row fold over its own trigram
    // array. ZERO corpus-sized shuffle: the algebra twin
    // ([[dsirScoresAlgebra]], which the driver oracle replays and
    // DataSelectionSpec pins this path against) re-explodes the corpus
    // through a broadcast join + per-doc aggregation — measured 16×
    // slower cold at 1M docs for the cross-entropy analog.
    val cleaned = TextAnalysis.parallelized(docs, idCol)
      .select(col(idCol), targetPred.as("__tgt"),
        TextAnalysis.normalized(col(textCol)).as("__c"))
      .filter(length(col("__c")) >= 3)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val counts = cleaned.select(col("__tgt"),
        explode(graft.functions.CharNGrams.ngrams(col("__c"), 3)).as("tri"))
      .groupBy("tri").agg(
        count(lit(1)).as("cr"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("ct"))
      .withColumn("__ctx", substring(col("tri"), 1, 2))
      .withColumn("c2r", sum(col("cr")).over(Window.partitionBy(col("__ctx"))))
      .withColumn("c2t", sum(col("ct")).over(Window.partitionBy(col("__ctx"))))
      .select(col("tri"), col("cr"), col("ct"), col("c2r"), col("c2t"))
      .collect()
    val dlogp: Map[String, Double] = counts.map { r =>
      r.getString(0) -> (
        math.log((r.getLong(2) + 1.0) / (r.getLong(4) + 37.0)) -
          math.log((r.getLong(1) + 1.0) / (r.getLong(3) + 37.0)))
    }.toMap
    val bc = docs.sparkSession.sparkContext.broadcast(dlogp)
    val ratio = udf { (tris: Seq[String]) =>
      if (tris == null || tris.isEmpty) null
      else {
        val m = bc.value
        var s = 0.0
        tris.foreach { t => s += m.getOrElse(t, 0.0) }
        java.lang.Double.valueOf(s / tris.length)
      }
    }
    cleaned.select(col(idCol),
        ratio(graft.functions.CharNGrams.ngrams(col("__c"), 3)).as("log_ratio"))
      .withColumn("weight",
        graft.queries.Q.rd6(least(lit(1.0), exp(col("log_ratio") * tau))))
      .withColumn("keep",
        Sampling.uniformHash(col(idCol)) < col("weight"))
  }

  /** Algebra twin of [[dsirScores]]: the exploded-join scoring form
    * whose arithmetic the DuckDB oracle replays — kept as the pin for
    * the kernel path (the wavSampleStats twin precedent). */
  def dsirScoresAlgebra(docs: DataFrame, idCol: String, textCol: String,
                        targetPred: Column, tau: Double = 50.0): DataFrame = {
    val cleaned = TextAnalysis.parallelized(docs, idCol)
      .select(col(idCol), targetPred.as("__tgt"),
        TextAnalysis.normalized(col(textCol)).as("__c"))
      .filter(length(col("__c")) >= 3)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tris = cleaned.select(col(idCol), col("__tgt"),
      explode(graft.functions.CharNGrams.ngrams(col("__c"), 3)).as("tri"))
    val counts = tris.groupBy("tri").agg(
      count(lit(1)).as("cr"),
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("ct"))
    val ctx = Window.partitionBy(col("__ctx"))
    val model = counts
      .withColumn("__ctx", substring(col("tri"), 1, 2))
      .withColumn("dlogp",
        logp(col("ct"), sum(col("ct")).over(ctx)) -
          logp(col("cr"), sum(col("cr")).over(ctx)))
      .select(col("tri"), col("dlogp"))
    tris.join(broadcast(model), "tri")
      .groupBy(col(idCol))
      .agg(avg(col("dlogp")).as("log_ratio"))
      .withColumn("weight",
        graft.queries.Q.rd6(least(lit(1.0), exp(col("log_ratio") * tau))))
      .withColumn("keep",
        Sampling.uniformHash(col(idCol)) < col("weight"))
  }

  /** The four quality regressors as pure column algebra over a text
    * column, in [[qualityFeatures]] order. */
  private def featureExprs(t: Column): Seq[Column] = {
    val toks = TextAnalysis.tokenCount(t)
    val safeToks = greatest(toks, lit(1)).cast("double")
    Seq(
      log(lit(1.0) + toks),
      graft.functions.TextScanKernels.nonWsCharCount(t).cast("double") / safeToks,
      TextAnalysis.stopwordHits(t, "en").cast("double") / safeToks,
      graft.functions.TextScanKernels.alphaTokenCount(t).cast("double") / safeToks)
  }

  /** Quality-classifier feature/label frame: per document the cheap
    * quality signals as regressors plus the Gopher rule decision
    * ([[TextAnalysis.gopherRules]] defaults) as the 0/1 label. Two
    * chained projections: stage 1 names each regex signal once, stage
    * 2 derives features + label from the named attributes — the
    * regexes are the dominant cost and a single projection would
    * duplicate them between features and label (CollapseProject keeps
    * the stages apart: expensive multi-referenced aliases are not
    * inlined). Everything stays codegen'd text algebra. */
  def qualityTrainingFrame(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    val t = col(textCol)
    val staged = docs.select(col(idCol),
      TextAnalysis.tokenCount(t).as("__toks"),
      graft.functions.TextScanKernels.nonWsCharCount(t).cast("double").as("__chars"),
      TextAnalysis.stopwordHits(t, "en").as("__stops"),
      graft.functions.TextScanKernels.alphaTokenCount(t).as("__alphas"))
    val safeToks = greatest(col("__toks"), lit(1)).cast("double")
    val mwl = col("__chars") / safeToks
    val alphaR = col("__alphas").cast("double") / safeToks
    staged.select(col(idCol),
      log(lit(1.0) + col("__toks")).as("x_logtok"),
      mwl.as("x_mwl"),
      (col("__stops").cast("double") / safeToks).as("x_stop"),
      alphaR.as("x_alpha"),
      when(col("__toks") >= 10 && col("__toks") <= 100000 &&
        mwl >= 3.0 && mwl <= 10.0 && alphaR >= 0.8 && col("__stops") >= 2, 1.0)
        .otherwise(0.0).as("label"))
  }

  private val qualityFeatures = Seq("x_logtok", "x_mwl", "x_stop", "x_alpha")

  /** The fitted model applied directly to a text column (6-dp-rounded
    * score) — the stateless serve-side of train-batch / serve-stream:
    * usable verbatim on a Structured Streaming frame. */
  def qualityScoreColumn(text: Column, intercept: Double,
                         weights: Array[Double]): Column =
    graft.queries.Q.rd6(featureExprs(text).zip(weights)
      .foldLeft(lit(intercept)) { case (acc, (f, wi)) => acc + f * wi })

  /** Fit the linear quality model: one moment pass building the 5×5
    * normal system, solved on the driver ([[Ols.fit]]). The
    * small ridge keeps the system SPD when a signal is constant over
    * the corpus (e.g. an all-alphabetic synthetic corpus pins
    * `x_alpha` ≡ 1, collinear with the intercept). */
  def fitQualityModel(docs: DataFrame, idCol: String, textCol: String,
                      ridge: Double = 1e-3): (Double, Array[Double]) =
    Ols.fit(qualityTrainingFrame(docs, idCol, textCol), qualityFeatures,
      "label", ridge)

  /** Train the quality model and score every document with the
    * coefficients inlined as literals: distillation of a rule filter
    * into a soft scorer — the production pattern where the "rules" are
    * an expensive upstream signal (human labels, LM judgments) and the
    * cheap linear scorer is what actually runs over 100 TB. Scoring is
    * a zero-shuffle projection; `keep` thresholds the 6-dp-rounded
    * score at 0.5 so the decision is bit-stable across engines. */
  def qualityClassifier(docs: DataFrame, idCol: String, textCol: String,
                        ridge: Double = 1e-3): DataFrame = {
    // the narrow feature frame (5 doubles + label per doc) is persisted
    // across the two passes — the regex feature extraction dominates
    // and would otherwise run twice (fit, then score)
    val feats = qualityTrainingFrame(docs, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (b0, w) = Ols.fit(feats, qualityFeatures, "label", ridge)
    val score = qualityFeatures.zip(w)
      .foldLeft(lit(b0)) { case (acc, (f, wi)) => acc + col(f) * wi }
    feats.select(col(idCol), col("label").cast("long").as("label"),
        graft.queries.Q.rd6(score).as("score"))
      .withColumn("keep", col("score") >= 0.5)
  }

  /** Exact global rank (1-based, dense total order over
    * `(scoreCol, idCol)` ascending) computed WITHOUT a single-partition
    * global window: uniform score-range shards → per-shard counts (one
    * tiny agg, `nShards` rows) → driver exclusive cumsum → broadcast
    * shard offsets → per-shard window `row_number`. The same
    * distributed-prefix shape as [[Packing.packManifest]]; the rank is
    * shard-boundary-invariant (rank of a row = #rows strictly before
    * it in the total order, however the score range is cut), so a
    * skewed score distribution only unbalances shards, never changes
    * the answer. Degenerate corpora (all scores equal) collapse to one
    * shard — the documented worst case, equivalent to the serial
    * window.
    *
    * With `byCols` the rank is computed independently WITHIN each
    * group (CCNet ranks per language): counts key on (group, shard) —
    * bounded by group-key cardinality × nShards — and the score bins
    * are shared across groups (bin edges don't affect ranks, only
    * balance). This is how a low-cardinality group key gets per-group
    * ranks WITHOUT `Window.partitionBy(group)` serializing each whole
    * group onto one reducer. Appends `rank` and `group_n` (the group's
    * total row count) to the input columns. */
  def rankByScore(scored: DataFrame, idCol: String, scoreCol: String,
                  nShards: Int = 256, byCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = scored.sparkSession
    // NULL/NaN guard, folded into the min/max pass: a NULL group key
    // would never match the offsets inner join (rows silently dropped)
    // and a NULL/NaN score lands in the last shard via least()'s
    // null-skipping with a rank that disagrees with the serial
    // window's nulls-first order — fail fast instead of mis-ranking.
    val badCond = byCols.foldLeft(
      col(scoreCol).isNull || isnan(col(scoreCol).cast("double"))) {
      (acc, c) => acc || col(c).isNull
    }
    // cast THROUGH double in the agg: an int/long/float score column
    // (ranking by token count is a natural use) would otherwise come
    // back as a boxed Integer and getDouble would ClassCastException
    val row = scored.agg(min(col(scoreCol).cast("double")),
      max(col(scoreCol).cast("double")),
      count(lit(1)), sum(when(badCond, 1L).otherwise(0L))).collect()(0)
    if (row.getLong(2) == 0L)
      return scored.withColumn("rank", lit(0L)).withColumn("group_n", lit(0L))
    require(row.getLong(3) == 0L,
      s"rankByScore: ${row.getLong(3)} row(s) have NULL/NaN '$scoreCol' " +
        s"or NULL in group columns ${byCols.mkString("[", ",", "]")} — " +
        "filter or impute them before ranking")
    val (lo, hi) = (row.getDouble(0), row.getDouble(1))
    val span = (hi - lo) / nShards
    val shard =
      if (span > 0)
        least(floor((col(scoreCol) - lo) / span).cast("long"), lit(nShards - 1L))
      else lit(0L)
    val sharded = scored.withColumn("__s", shard)
    // per-(group, shard) counts: #groups × nShards rows — bounded by
    // the group-key cardinality (languages, sources), never the corpus
    val counts = sharded.groupBy(byCols.map(col) :+ col("__s"): _*)
      .agg(count(lit(1)).as("__n")).collect()
    val k = byCols.length
    val offRows = counts.toSeq.groupBy(r => r.toSeq.take(k)).flatMap { case (g, rs) =>
      val sorted = rs.map(r => r.getLong(k) -> r.getLong(k + 1)).sortBy(_._1)
      val groupN = sorted.map(_._2).sum
      sorted.map(_._1).zip(sorted.scanLeft(0L) { case (acc, (_, n)) => acc + n })
        .map { case (s, off) => Row.fromSeq(g ++ Seq(s, off, groupN)) }
    }.toSeq
    val offSchema = StructType(byCols.map(c => scored.schema(c)) ++ Seq(
      StructField("__s", LongType), StructField("__off", LongType),
      StructField("group_n", LongType)))
    val offFrame = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(offRows: _*), offSchema))
    val w = Window.partitionBy(byCols.map(col) :+ col("__s"): _*)
      .orderBy(col(scoreCol).asc, col(idCol).asc)
    sharded.join(offFrame, byCols :+ "__s")
      .withColumn("rank", col("__off") + row_number().over(w))
      .select(scored.columns.map(col) ++ Seq(col("rank"), col("group_n")): _*)
  }

  /** Exact integral floor-division with a COLUMN divisor — same
    * decimal-widened shape as [[Packing.intDiv]]. */
  private def intDivCol(a: Column, b: Column): Column =
    ((a - pmod(a, b)).cast("decimal(38,0)") / b.cast("decimal(38,0)")).cast("long")

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, §3 "LM
    * filtering": each corpus is split into equal head/middle/tail
    * thirds by language-model perplexity; head = most fluent). Scores
    * every document with the corpus-trained trigram LM
    * ([[TextAnalysis.trigramCrossEntropy]] — the cheap in-container
    * stand-in for the KenLM score, reference pattern only), ranks by
    * the 6-dp-rounded score via [[rankByScore]] (rounded so the total
    * order is bit-identical across engines), and assigns
    * `bucket = ⌊nBuckets·(rank−1)/n⌋` — exact long arithmetic, no
    * float division. CCNet buckets per language; at 100 TB run this
    * per language partition (the machinery is identical — filter, or
    * loop over `langId` values) rather than one global window keyed by
    * a low-cardinality language column, which would serialize each
    * language onto one reducer. */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        nBuckets: Int = 3, nShards: Int = 256,
                        byCols: Seq[String] = Nil): DataFrame = {
    val scored0 = TextAnalysis.trigramCrossEntropyKernel(docs, idCol, textCol)
      .select(col(idCol),
        graft.queries.Q.rd6(col("cross_entropy")).as("cross_entropy"))
    // group keys (e.g. the language) ride in via one narrow join; the
    // LM itself stays corpus-global (CCNet trains per-language models —
    // at that point run the whole operator per language slice)
    val scored =
      if (byCols.isEmpty) scored0
      else scored0.join(docs.select(col(idCol) +: byCols.map(col): _*), idCol)
        .select(col(idCol) +: (byCols.map(col) :+ col("cross_entropy")): _*)
    val ranked = rankByScore(scored, idCol, "cross_entropy", nShards, byCols)
    ranked
      .withColumn("bucket",
        intDivCol(lit(nBuckets.toLong) * (col("rank") - 1L), col("group_n")))
      .withColumn("bucket_label",
        when(col("bucket") === 0, "head")
          .when(col("bucket") === nBuckets - 1, "tail")
          .otherwise("middle"))
      .drop("group_n")
  }
}
