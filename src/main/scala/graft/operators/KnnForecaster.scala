package graft.operators

import graft.core.Panel
import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, VectorAssembler}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** KNN forecaster — forecasting/knn.py:22 (sklearn KNeighborsRegressor
  * over the AR-reduction matrix), re-expressed for a cluster.
  *
  * Two physical strategies (SURVEY.md §7.5(8)):
  *
  *  - [[predictOneStep]] (default): exact broadcast-KNN. The per-entity
  *    query tails are small (one row per entity); they broadcast to
  *    every partition of the distributed reduction matrix, each
  *    partition keeps a bounded k-heap per query (mapPartitions — the
  *    genuine per-partition imperative case), and the partial top-k
  *    rows (numPartitions × entities × k) merge in one final
  *    grouped top-k. Exact neighbors, matching the reference's sklearn
  *    semantics; one narrow shuffle.
  *
  *  - [[predictOneStepLsh]]: bucketed random-projection LSH similarity
  *    join for when the entity count itself is huge (query side too
  *    big to broadcast) — the classic distributed ANN path.
  */
object KnnForecaster {

  /** Deterministic entity-hash corpus gate for RECALL-BOUNDED knn at
    * scale: keeps corpus rows whose entity lands in the first
    * `fraction` of the xxhash64 lattice (pmod(h, 1e6) < f·1e6).
    * Queries are never gated — every entity still gets a forecast;
    * only the searched neighbor corpus shrinks, cutting the
    * pair-work (∝ corpus × queries, the measured in-zoo knn cost law,
    * SCALE.md) by f. Whole ENTITIES are kept or dropped so surviving
    * series contribute all their windows. fraction = 1 is a `lit
    * (true)` no-op — bitwise the ungated path. Deterministic (same
    * entities at every step/slice), so CV slices and the full fit
    * search one consistent sub-corpus. */
  private[graft] def corpusKeep(entityCols: Seq[Column], fraction: Double): Column = {
    require(fraction > 0.0 && fraction <= 1.0,
      s"knn corpusFraction must be in (0, 1] (got $fraction)")
    if (fraction >= 1.0) lit(true)
    else pmod(xxhash64(entityCols: _*), lit(1000000L)) <
      lit(math.round(fraction * 1e6))
  }

  /** Exact one-step-ahead KNN prediction per entity (broadcast path). */
  def predictOneStep(p: Panel, timeCol: String, freq: String, lags: Int, k: Int): DataFrame = {
    val (ranked, qMeta) = neighborRanking(p, timeCol, lags, kHeap = k)
    finishOneStep(p, timeCol, freq, ranked, qMeta, k)
  }

  /** One-step predictions for SEVERAL k values from ONE distance pass:
    * the partition heaps keep max(ks) candidates and the merged
    * ranking is materialized once (localCheckpoint — it is tiny:
    * partitions × entities × max(ks) rows), so each k is just a rank
    * cut + mean over the shared ranking. The top-k by distance is a
    * prefix of the top-max(ks) ranking, so every k's result is
    * bitwise the single-k path's. Powers the auto_knn sweep, where
    * the generic per-candidate path would re-scan the corpus per k. */
  def predictOneStepMultiK(p: Panel, timeCol: String, freq: String, lags: Int,
                           ks: Seq[Int]): Map[Int, DataFrame] = {
    val (preds, _) = predictOneStepMultiKReleasable(p, timeCol, freq, lags, ks)
    preds
  }

  /** [[predictOneStepMultiK]] plus the shared ranking checkpoint it
    * pins, so sweep callers (auto_knn) can unpersist it once every
    * k's result is consumed — checkpoint blocks otherwise linger
    * until GC, against the repo's cache-release discipline. */
  def predictOneStepMultiKReleasable(p: Panel, timeCol: String, freq: String,
                                     lags: Int, ks: Seq[Int])
      : (Map[Int, DataFrame], DataFrame) = {
    require(ks.nonEmpty, "predictOneStepMultiK needs at least one k")
    val (ranked0, qMeta) = neighborRanking(p, timeCol, lags, kHeap = ks.max)
    val ranked = ranked0.localCheckpoint(true)
    (ks.map(k => k -> finishOneStep(p, timeCol, freq, ranked, qMeta, k)).toMap,
      ranked)
  }

  /** Rank cut + per-query mean + meta join shared by the one-step
    * paths. `ranked` must carry (__qid, __nn, __label) with __nn the
    * global distance rank from a heap of size ≥ k. */
  private def finishOneStep(p: Panel, timeCol: String, freq: String,
                            ranked: DataFrame, qMeta: DataFrame, k: Int): DataFrame = {
    val topk = ranked
      .filter(col("__nn") <= k)
      .groupBy("__qid").agg(avg(col("__label")).as(p.value))
    broadcast(qMeta)
      .join(topk, "__qid")
      .withColumn("__h", lit(1))
      .withColumn(timeCol, Forecasters.futureTime(freq))
      .select((p.entityCols ++ Seq(col(timeCol), col(p.value))): _*)
  }

  /** The broadcast-queries bounded-heap distance pass: returns the
    * globally ranked neighbor frame (__qid, __dist, __label, __nn —
    * __nn ordered by distance, heap size `kHeap` per partition) and
    * the (entity…, __cutoff, __qid) meta frame. */
  private def neighborRanking(p: Panel, timeCol: String, lags: Int,
                              kHeap: Int): (DataFrame, DataFrame) = {
    val k = kHeap
    val spark = p.df.sparkSession
    val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l").toArray
    val reduction = Forecasters.makeReduction(p, lags).na.drop(featureCols :+ p.value)
      .select((featureCols.map(c => col(c).cast("double")).toIndexedSeq :+ col(p.value).cast("double").as("__label")): _*)
    // ONE collect of the per-entity tails (this path already assumes
    // they fit on the driver); the dense query id is simply the index
    // in the collected array — no extra distributed pass, no global
    // window. Entity + cutoff come back out of the same rows via a
    // driver-built (entity, cutoff, qid) frame joined to the top-k.
    val tails = queryTails(p, timeCol, lags)
    val keep = p.entityCols ++ (col("__cutoff") +:
      (1 to lags).map(l => col(s"${p.value}__lag_$l").cast("double")))
    val nEntity = p.entityCols.length
    val sel = tails.select(keep: _*)
    // guard on the collected size (an extra count() job would recompute
    // the tail window; the collect itself is survivable well past the
    // cap — the per-pass scan is what the cap protects)
    val collected = sel.collect()
    guardExactEntities(collected.length.toLong, "knn predictOneStep")
    val qRows = collected.zipWithIndex.map { case (r, i) =>
      (i.toLong, Array.tabulate(lags)(j => r.getDouble(nEntity + 1 + j)))
    }
    val qMeta = spark.createDataFrame(
      spark.sparkContext.parallelize(
        collected.zipWithIndex.map { case (r, i) =>
          Row.fromSeq(r.toSeq.take(nEntity + 1) :+ i.toLong)
        }.toIndexedSeq, 1),
      StructType(sel.schema.fields.take(nEntity + 1) :+ StructField("__qid", LongType)))
    (heapPass(spark, reduction, qRows, lags, k), qMeta)
  }

  /** One bounded-heap distance pass of `qRows` (qid, state[lags])
    * against the (f1..flags, __label) `reduction`: per-partition
    * top-k heaps per query, merged into the globally ranked
    * (__qid, __dist, __label, __nn) frame. */
  private def heapPass(spark: org.apache.spark.sql.SparkSession,
                       reduction: DataFrame, qRows: Array[(Long, Array[Double])],
                       lags: Int, k: Int): DataFrame = {
    val bq = spark.sparkContext.broadcast(qRows)
    // per-partition bounded top-k per query: rows are buffered into a
    // row-major block and scanned QUERY-OUTER over primitive state
    // (see [[scanRun]]) — the query vector and its k-th threshold stay
    // register/L1-hot across the block instead of a boxed
    // PriorityQueue head deref per (row × query) pair. The per-query
    // (distance, label) multiset is identical to the former per-row
    // heap kernel's (r14 measured: −25% process-CPU on fc_elite_knn).
    val partials = reduction.rdd.mapPartitions { it =>
      val qs = bq.value
      val nq = qs.length
      val dA = new Array[Array[Double]](nq)
      val lA = new Array[Array[Double]](nq)
      val cnt = new Array[Int](nq)
      val maxI = new Array[Int](nq)
      var qa = 0
      while (qa < nq) {
        dA(qa) = new Array[Double](k); lA(qa) = new Array[Double](k); qa += 1
      }
      val B = 256
      val featBuf = new Array[Double](B * lags)
      val labBuf = new Array[Double](B)
      var n = 0
      def flush(): Unit = {
        var qi = 0
        while (qi < nq) {
          val packed = scanRun(featBuf, labBuf, 0, n, lags, k, qs(qi)._2,
            dA(qi), lA(qi), cnt(qi), maxI(qi))
          cnt(qi) = (packed >>> 32).toInt; maxI(qi) = packed.toInt
          qi += 1
        }
        n = 0
      }
      it.foreach { row =>
        val base = n * lags
        var i = 0
        while (i < lags) { featBuf(base + i) = row.getDouble(i); i += 1 }
        labBuf(n) = row.getDouble(lags)
        n += 1
        if (n == B) flush()
      }
      if (n > 0) flush()
      (0 until nq).iterator.flatMap { qi =>
        val c = cnt(qi); val d0 = dA(qi); val l0 = lA(qi); val qid = qs(qi)._1
        (0 until c).iterator.map(j => Row(qid, d0(j), l0(j)))
      }
    }
    val partialDf = spark.createDataFrame(partials, StructType(Seq(
      StructField("__qid", LongType), StructField("__dist", DoubleType),
      StructField("__label", DoubleType))))
    // global rank merge per query (tiny: partitions × entities × k rows)
    partialDf
      .withColumn("__nn", row_number().over(
        Window.partitionBy("__qid").orderBy(col("__dist"), col("__label"))))
  }

  /** Max-heap ordering for the bounded k-heaps: lexicographic
    * (distance, label), so tied-distance candidates resolve
    * deterministically instead of by partition scheduling order. */
  private val heapOrd: Ordering[(Double, Double)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Double.TotalOrdering)

  /** Index of the lexicographic (distance, label) maximum of the k
    * primitive state entries — `java.lang.Double.compare` is the same
    * total order [[heapOrd]] ranked the boxed heap by (NaN greatest,
    * −0.0 < 0.0). Ties keep the lowest index; tied entries are
    * value-identical pairs, so which one a later admission overwrites
    * cannot change the surviving multiset. */
  @inline private def topKMaxIdx(d0: Array[Double], l0: Array[Double],
                                 k: Int): Int = {
    var mi = 0; var i = 1
    while (i < k) {
      val c = java.lang.Double.compare(d0(i), d0(mi))
      if (c > 0 || (c == 0 && java.lang.Double.compare(l0(i), l0(mi)) > 0)) mi = i
      i += 1
    }
    mi
  }

  /** Scan rows [s, e) of the row-major block buffer for ONE query's
    * bounded top-k state (d0/l0 arrays of size k, `cnt0` entries so
    * far, `maxI0` the max index once full). The admission test is the
    * boxed kernel's exact IEEE comparison (`d < max || (d == max &&
    * label < maxLabel)`) against the current k-th entry, and every
    * admitted row's distance comes from the same complete
    * ascending-lag fold — the surviving (distance, label) multiset is
    * bit-identical to the former PriorityQueue kernel's. Returns the
    * updated (cnt << 32) | maxI. */
  @inline private def scanRun(featBuf: Array[Double], labBuf: Array[Double],
                              s: Int, e: Int, lags: Int, k: Int,
                              q: Array[Double],
                              d0: Array[Double], l0: Array[Double],
                              cnt0: Int, maxI0: Int): Long = {
    var c = cnt0; var mi = maxI0
    var thrD = 0.0; var thrL = 0.0
    if (c == k) { thrD = d0(mi); thrL = l0(mi) }
    var r = s
    while (r < e) {
      val base = r * lags
      var d = 0.0; var j = 0
      while (j < lags) { val t = featBuf(base + j) - q(j); d += t * t; j += 1 }
      val label = labBuf(r)
      if (c < k) {
        d0(c) = d; l0(c) = label; c += 1
        if (c == k) {
          mi = topKMaxIdx(d0, l0, k); thrD = d0(mi); thrL = l0(mi)
        }
      } else if (d < thrD || (d == thrD && label < thrL)) {
        d0(mi) = d; l0(mi) = label
        mi = topKMaxIdx(d0, l0, k); thrD = d0(mi); thrL = l0(mi)
      }
      r += 1
    }
    (c.toLong << 32) | mi.toLong
  }

  /** Multi-group twin of [[heapPass]]: corpus rows carry a trailing
    * `__grp` int and serve ONLY their group's queries (`qRows` =
    * (qid, grp, state)), so one scan advances every active
    * (member × CV-slice) roll of the elite zoo's knn family at once —
    * the scan cost is corpus-bound, and the per-row inner loop only
    * runs over the row's own group's queries, so batching G rolls
    * whose corpora union here costs ~1 scan of the union instead of G
    * scans of the slices (and, decisively at bench scale, 1 Spark
    * job per step instead of G jobs × a window-rank shuffle each).
    * Identical distance fold, heap maintenance and (distance, label)
    * tie-break as [[heapPass]]; qids must be globally unique across
    * groups.
    *
    * Returns the per-query top-k MEAN directly. The per-partition
    * bounded heaps are combined DISTRIBUTED (r15 — VERDICT r14 #3):
    * each partition emits ONE heapOrd-ascending candidate array per
    * resident query, a reduceByKey merge keeps the k smallest per qid
    * executor-side, and the driver receives exactly O(queries × k)
    * doubles — the former collect shipped O(partitions × queries × k)
    * candidate tuples, the one hot-path driver volume that grew with
    * CLUSTER size rather than data size. Top-k-of-union equals the
    * merge of per-partition top-ks under the same total (distance,
    * label) order (ties are value-identical pairs), and the final
    * mean sums ascending — bit-identical to the window-rank form
    * row_number().over(orderBy(dist, label)) ≤ k feeding avg. */
  private[operators] def heapPassMultiMerged(
      reduction: DataFrame, qRows: Array[(Long, Int, Array[Double])],
      lags: Int, k: Int): java.util.HashMap[Long, Double] = {
    val spark = reduction.sparkSession
    val bq = spark.sparkContext.broadcast(qRows)
    val partials = reduction.rdd.mapPartitions { it =>
      val qs = bq.value
      val byGrp: scala.collection.Map[Int, Array[Int]] =
        qs.indices.toArray.groupBy(i => qs(i)._2)
      val empty = Array.empty[Int]
      // primitive top-k state, allocated LAZILY: a partition holds one
      // group's rows, so only that group's state materializes (an
      // eager fill allocated total-queries heaps in EVERY task —
      // measured as a dominant per-step cost at 9 groups × 1500
      // entities × 288 tasks). Rows buffer into a row-major block and
      // each same-group RUN is scanned query-outer ([[scanRun]]): the
      // query vector and its k-th threshold stay register/L1-hot
      // across the run instead of a boxed heap-head deref per pair
      // (r14: −25% process-CPU on fc_elite_knn). Row order per query
      // is the iterator order either way, so the surviving multiset —
      // and every tie-break — is bit-identical to the boxed kernel's.
      val nq = qs.length
      val dA = new Array[Array[Double]](nq)
      val lA = new Array[Array[Double]](nq)
      val cnt = new Array[Int](nq)
      val maxI = new Array[Int](nq)
      val B = 256
      val featBuf = new Array[Double](B * lags)
      val labBuf = new Array[Double](B)
      val grpBuf = new Array[Int](B)
      var n = 0
      def flush(): Unit = {
        var s = 0
        while (s < n) {
          val g = grpBuf(s)
          var e = s + 1
          while (e < n && grpBuf(e) == g) e += 1
          val grpQs = byGrp.getOrElse(g, empty)
          var gi = 0
          while (gi < grpQs.length) {
            val qi = grpQs(gi)
            var d0 = dA(qi)
            if (d0 == null) {
              d0 = new Array[Double](k); dA(qi) = d0
              lA(qi) = new Array[Double](k)
            }
            val packed = scanRun(featBuf, labBuf, s, e, lags, k, qs(qi)._3,
              d0, lA(qi), cnt(qi), maxI(qi))
            cnt(qi) = (packed >>> 32).toInt; maxI(qi) = packed.toInt
            gi += 1
          }
          s = e
        }
        n = 0
      }
      it.foreach { row =>
        val base = n * lags
        var i = 0
        while (i < lags) { featBuf(base + i) = row.getDouble(i); i += 1 }
        labBuf(n) = row.getDouble(lags)
        grpBuf(n) = row.getInt(lags + 1)
        n += 1
        if (n == B) flush()
      }
      if (n > 0) flush()
      (0 until nq).iterator.flatMap { qi =>
        val d0 = dA(qi)
        if (d0 == null) Iterator.empty
        else {
          // ONE heapOrd-ascending interleaved [d0,l0,d1,l1,…] array per
          // (partition, qid) — the unit the distributed combine merges
          val c = cnt(qi); val l0 = lA(qi); val qid = qs(qi)._1
          val idx = Array.range(0, c).sortBy(j => (d0(j), l0(j)))(
            Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Double.TotalOrdering))
          val packed = new Array[Double](2 * c)
          var o = 0
          while (o < c) {
            packed(2 * o) = d0(idx(o)); packed(2 * o + 1) = l0(idx(o)); o += 1
          }
          Iterator((qid, packed))
        }
      }
    }.reduceByKey(mergeTopK(_, _, k)).collect()
    // mean of the k (distance, label)-smallest labels, summed ascending
    // — the arrays arrive merged, ascending and already capped at k
    val out = new java.util.HashMap[Long, Double]()
    partials.foreach { case (qid, packed) =>
      val c = packed.length / 2
      var s = 0.0
      var j = 0
      while (j < c) { s += packed(2 * j + 1); j += 1 }
      out.put(qid, s / c)
    }
    out
  }

  /** Merge two heapOrd-ascending interleaved (distance, label) arrays,
    * keeping the k smallest — associative and commutative as a
    * multiset operation (ties are value-identical pairs), so the
    * reduceByKey combine order cannot change the result. */
  private def mergeTopK(a: Array[Double], b: Array[Double], k: Int): Array[Double] = {
    val na = a.length / 2; val nb = b.length / 2
    val n = math.min(k, na + nb)
    val out = new Array[Double](2 * n)
    var i = 0; var j = 0; var o = 0
    while (o < n) {
      val takeA = j >= nb || (i < na && {
        val c = java.lang.Double.compare(a(2 * i), b(2 * j))
        c < 0 || (c == 0 && java.lang.Double.compare(a(2 * i + 1), b(2 * j + 1)) <= 0)
      })
      if (takeA) { out(2 * o) = a(2 * i); out(2 * o + 1) = a(2 * i + 1); i += 1 }
      else { out(2 * o) = b(2 * j); out(2 * o + 1) = b(2 * j + 1); j += 1 }
      o += 1
    }
    out
  }

  /** RECURSIVE multi-horizon KNN — the reference's knn predicts any
    * fh by rolling the state forward (forecasting/knn.py:22 via
    * base/forecaster recursion): horizon h's query vector is
    * (ŷ_{h−1}, …) — one bounded-heap distance pass of the cached
    * reduction per step, with the per-entity means (one double per
    * entity per step) mediated through the driver like the rest of
    * the broadcast-KNN path. fh sequential passes over ONE cached
    * reduction; the per-step collected state is O(entities).
    * [[predictOneStep]] stays the fh=1 fast path. */
  def predictRecursive(p: Panel, timeCol: String, freq: String, lags: Int,
                       k: Int, fh: Int, corpusFraction: Double = 1.0): DataFrame = {
    val spark = p.df.sparkSession
    val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l").toArray
    val reduction = Forecasters.makeReduction(p, lags)
      .filter(corpusKeep(p.entityCols, corpusFraction))
      .na.drop(featureCols :+ p.value)
      .select((featureCols.map(c => col(c).cast("double")).toIndexedSeq :+
        col(p.value).cast("double").as("__label")): _*)
      .cache()
    try {
      require(reduction.limit(1).count() > 0,
        s"knn recursive predict has no complete training rows (lags=$lags)")
      val nEntity = p.entityCols.length
      val tails = queryTails(p, timeCol, lags)
      val keep = p.entityCols ++ (col("__cutoff") +:
        (1 to lags).map(l => col(s"${p.value}__lag_$l").cast("double")))
      val sel = tails.select(keep: _*)
      val collected = sel.collect()
      guardExactEntities(collected.length.toLong, "knn predictRecursive")
      var states = collected.map(r =>
        Array.tabulate(lags)(j => r.getDouble(nEntity + 1 + j)))
      val preds = Array.ofDim[Double](fh, collected.length)
      (1 to fh).foreach { h =>
        val qRows = states.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        val stepAvg = heapPass(spark, reduction, qRows, lags, k)
          .filter(col("__nn") <= k)
          .groupBy("__qid").agg(avg(col("__label")).as("__p"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        states = states.zipWithIndex.map { case (s, i) =>
          val pr = stepAvg(i.toLong)
          preds(h - 1)(i) = pr
          pr +: s.dropRight(1)
        }
      }
      // (qid, h, pred) is tiny — build it driver-side, attach the
      // entity/cutoff meta, and derive timestamps the shared way
      val qMeta = spark.createDataFrame(
        spark.sparkContext.parallelize(
          collected.zipWithIndex.map { case (r, i) =>
            Row.fromSeq(r.toSeq.take(nEntity + 1) :+ i.toLong)
          }.toIndexedSeq, 1),
        StructType(sel.schema.fields.take(nEntity + 1) :+ StructField("__qid", LongType)))
      val predRows = for { h <- 1 to fh; i <- collected.indices }
        yield Row(i.toLong, h, preds(h - 1)(i))
      val predDf = spark.createDataFrame(
        spark.sparkContext.parallelize(predRows, 1),
        StructType(Seq(StructField("__qid", LongType), StructField("__h", IntegerType),
          StructField(p.value, DoubleType))))
      broadcast(qMeta)
        .join(predDf, "__qid")
        .withColumn(timeCol, Forecasters.futureTime(freq))
        .select((p.entityCols ++ Seq(col(timeCol), col(p.value))): _*)
    } finally reduction.unpersist(blocking = false)
  }

  /** IVF-cell variant — the Spark-first analog of the reference's
    * Lance IVF ANN regressor (forecasting/lance.py:40-101): assign
    * every training row and every query tail to its nearest of
    * `nCells` sampled centroid rows (squared L2, ties → lowest cell),
    * then search ONLY the query's cell.
    *
    * TWO physical strategies behind one semantics (r14 — the r13
    * verdict's perf-weak item asked for a loud cap + redirect on the
    * former UNGUARDED query-tail collect, and the first r14 build's
    * full delegation to the distributed roll regressed the fc_ann
    * bench 4× at fh = 1, ~10 extra sequential jobs per step):
    *
    *  - entities ≤ [[maxExactEntities]]: the broadcast in-scan search
    *    — query tails collect to the driver (provably complete via a
    *    cap+1-limited collect, never an unbounded one), the corpus is
    *    scanned ONCE with in-scan cell assignment against the
    *    broadcast centroid matrix, one narrow top-k merge. The
    *    bench/oracle path.
    *  - past the cap: delegates to [[predictRecursiveIvf]] at fh = 1
    *    — the fully distributed (qid, state) roll where only the
    *    nCells × lags centroid sample ever touches the driver
    *    (soak-verified at 1M entities, SCALE.md r14).
    *
    * Both strategies are bit-identical (same portable md5-tag
    * centroid sample, ascending-lag left-fold, strict-< ascending
    * argmin with ties → lowest cell, (distance, label) top-k order,
    * ascending mean) — the fc_ann DuckDB oracle replicates either. */
  def predictOneStepIvf(p: Panel, timeCol: String, freq: String, lags: Int, k: Int,
                        nCells: Int, entityCountHint: Long = -1L): DataFrame = {
    val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l")
    val spark = p.df.sparkSession
    // cap+1-limited collect: complete (length ≤ cap) proves every
    // tail is on the driver; length = cap+1 proves the panel is over
    // the cap without ever collecting it (clamp before the +1 — a
    // MaxValue-pinned cap must not wrap, SKILL lore)
    val cap = math.min(maxExactEntities, Int.MaxValue - 1)
    // over-cap callers that already know their entity count pass it as
    // a hint (ADVICE r14: without it the cap+1-limited collect fully
    // evaluates the tail window once, and the redirected distributed
    // roll then recomputes it — one redundant full pass at exactly the
    // scale where it is most expensive). Under-cap callers without a
    // hint keep the zero-extra-job limited collect.
    if (entityCountHint > cap)
      return predictRecursiveIvf(p, timeCol, freq, lags, k, fh = 1, nCells = nCells)
    val queries = queryTails(p, timeCol, lags)
      .select((p.entityCols :+ col("__cutoff")) ++
        (1 to lags).map(l => col(s"${p.value}__lag_$l").cast("double").as(s"__q$l")): _*)
    val collected = queries.limit(cap + 1).collect()
    if (collected.length > cap)
      return predictRecursiveIvf(p, timeCol, freq, lags, k, fh = 1, nCells = nCells)
    // reduction WITH per-entity position (the deterministic row tag the
    // portable centroid sample orders by)
    val red = CrossValidation
      .withPosition(p.copy(df = Preprocess.lagKeepAll(p, 1 to lags)))
      .filter(col("__rn") > lags)
      // complete rows only, like predictOneStep's reduction: a null
      // value/lag would NPE row.getDouble in the centroid collect and
      // the partition scan
      .na.drop((1 to lags).map(l => s"${p.value}__lag_$l") :+ p.value)
    val tag = md5(concat_ws("_",
      (p.entityCols :+ col("__rn")).map(_.cast("string")): _*).cast("binary"))
    val centMat = red
      .select((p.entityCols :+ col("__rn") :+ tag.as("__tag")) ++
        featureCols.map(c => col(c).cast("double")): _*)
      .orderBy((col("__tag") +: (p.entityCols :+ col("__rn"))): _*)
      .limit(nCells)
      .collect()
      .map(r => Array.tabulate(lags)(j => r.getDouble(p.entity.length + 2 + j)))
    // guard parity with the over-cap twin predictRecursiveIvf (ADVICE
    // r14): zero complete training rows must fail loud on BOTH sides
    // of the maxExactEntities boundary, not silently return an empty
    // frame here
    require(centMat.nonEmpty,
      s"knn one-step IVF has no complete training rows (lags=$lags)")
    // within-cell search uses the SAME bounded-heap partition scan as
    // the exact path (corpus rows visit only their own cell's query
    // group) — materializing the cell join + a global window sort
    // instead was 25× slower under cell skew (one popular centroid
    // makes the join quadratic-ish, while the scan stays one pass)
    val corpus = red.select((featureCols.map(c => col(c).cast("double")) :+
      col(p.value).cast("double").as("__label")): _*)
    val nEntity = p.entity.length
    val qRows = collected.zipWithIndex.map { case (r, i) =>
      val feats = Array.tabulate(lags)(j => r.getDouble(nEntity + 1 + j))
      (i.toLong, nearestCell(feats, centMat), feats)
    }
    val qMeta = spark.createDataFrame(
      spark.sparkContext.parallelize(
        collected.zipWithIndex.map { case (r, i) =>
          Row.fromSeq(r.toSeq.take(nEntity + 1) :+ i.toLong)
        }.toIndexedSeq, 1),
      StructType(queries.schema.fields.take(nEntity + 1) :+ StructField("__qid", LongType)))
    val bq = spark.sparkContext.broadcast(qRows)
    val bc = spark.sparkContext.broadcast(centMat)
    val partials = corpus.rdd.mapPartitions { it =>
      val qs = bq.value
      val cents = bc.value
      // primitive per-query top-k state (the r14 scanRun conventions:
      // same IEEE admission compare, same Double.compare max — the
      // surviving multiset is bit-identical to the boxed heaps')
      val nq = qs.length
      val dA = Array.fill(nq)(new Array[Double](k))
      val lA = Array.fill(nq)(new Array[Double](k))
      val cnt = new Array[Int](nq)
      val maxI = new Array[Int](nq)
      // queries pre-grouped by cell: each training row visits ONLY its
      // own cell's queries. The former flat scan with an inner cell
      // guard still enumerated every (row × query) pair — O(rows ·
      // entities) guard checks that put a 21-minute wall at 200k
      // entities (KnnEntitySoak) on the path whose whole point is
      // dodging that product. Same surviving pairs, ×nCells less work.
      val byCell: scala.collection.Map[Int, Array[Int]] =
        qs.indices.toArray.groupBy(i => qs(i)._2)
      val empty = Array.empty[Int]
      val feats = new Array[Double](lags)
      val lab1 = new Array[Double](1)
      it.foreach { row =>
        var i = 0
        while (i < lags) { feats(i) = row.getDouble(i); i += 1 }
        lab1(0) = row.getDouble(lags)
        // in-scan cell assignment against the broadcast centroid
        // matrix — the shared [[nearestCell]] argmin (a top-level
        // object method compiles to a static MODULE$ call, so the
        // closure captures nothing). feats feeds scanRun directly —
        // scanRun never mutates its block buffer (ADVICE r14: the old
        // per-row arraycopy into a one-row staging buffer was dead
        // work on the hot path).
        val cellQs = byCell.getOrElse(nearestCell(feats, cents), empty)
        var ci = 0
        while (ci < cellQs.length) {
          val qi = cellQs(ci)
          val packed = scanRun(feats, lab1, 0, 1, lags, k, qs(qi)._3,
            dA(qi), lA(qi), cnt(qi), maxI(qi))
          cnt(qi) = (packed >>> 32).toInt; maxI(qi) = packed.toInt
          ci += 1
        }
      }
      (0 until nq).iterator.flatMap { qi =>
        val c = cnt(qi); val d0 = dA(qi); val l0 = lA(qi); val qid = qs(qi)._1
        (0 until c).iterator.map(j => Row(qid, d0(j), l0(j)))
      }
    }
    val partialDf = spark.createDataFrame(partials, StructType(Seq(
      StructField("__qid", LongType), StructField("__dist", DoubleType),
      StructField("__label", DoubleType))))
    val topk = partialDf
      .withColumn("__nn", row_number().over(
        Window.partitionBy("__qid").orderBy(col("__dist"), col("__label"))))
      .filter(col("__nn") <= k)
      .groupBy("__qid").agg(avg(col("__label")).as(p.value))
    broadcast(qMeta)
      .join(topk, "__qid")
      .withColumn("__h", lit(1))
      .withColumn(timeCol, Forecasters.futureTime(freq))
      .select((p.entityCols ++ Seq(col(timeCol), col(p.value))): _*)
  }

  /** RECURSIVE multi-horizon KNN over an IVF cell index — the scale
    * path for the elite zoo's knn members past [[maxExactEntities]]
    * (the exact path's O(rows × entities × lags) per pass is the KNN
    * family's scale-killer; measured 373 s of the 543 s full-zoo wall
    * at 10k entities, EliteSoak). Same centroid construction as
    * [[predictOneStepIvf]] (portable md5-tag sample, strict-< ascending
    * argmin); the corpus's cell assignment is computed ONCE into a
    * `__cell` column, hash-partitioned by cell and cached, so the fh
    * per-step probes reuse that partitioning — the corpus never moves
    * again.
    *
    * FULLY DISTRIBUTED state roll (unlike [[predictRecursive]], whose
    * driver-mediated roll is what [[maxExactEntities]] caps): the
    * per-entity lag state lives in a distributed (qid, state[lags])
    * frame. Each horizon step (a) re-assigns every state to its
    * nearest cell (broadcast centroid matrix — the only state that
    * ever touches the driver is the nCells × lags centroid sample),
    * (b) joins states to the cell-partitioned corpus (only the
    * entity-sized state side shuffles), (c) reduces the streamed
    * (corpus-row × query) pairs in-partition through bounded
    * [[graft.functions.TopKAvgAgg]] k-buffers — pairs never hit a
    * shuffle, only O(partitions × entities × k) candidate rows do —
    * and (d) shifts the state with the step's prediction. Per-step frames are
    * eagerly localCheckpoint-ed (entity-sized) and the previous step's
    * state is released, so driver AND executor memory stay flat in fh.
    * Semantics are bit-identical to the exact roll restricted to the
    * query's cell: same ascending-lag distance fold, same
    * (distance, label) top-k order, same ascending-order mean.
    * Reference: forecasting/knn.py:22 + base recursion _ar.py:216-270,
    * IVF analog forecasting/lance.py:40-101. */
  def predictRecursiveIvf(p: Panel, timeCol: String, freq: String, lags: Int,
                          k: Int, fh: Int, nCells: Int,
                          corpusFraction: Double = 1.0): DataFrame = {
    val spark = p.df.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l")
    // the fraction gate precedes the centroid sample, preserving the
    // sampled-from-corpus invariant (queried cells stay non-empty)
    val red = CrossValidation
      .withPosition(p.copy(df = Preprocess.lagKeepAll(p, 1 to lags)))
      .filter(col("__rn") > lags)
      .filter(corpusKeep(p.entityCols, corpusFraction))
      .na.drop(featureCols :+ p.value)
    val tag = md5(concat_ws("_",
      (p.entityCols :+ col("__rn")).map(_.cast("string")): _*).cast("binary"))
    val nEntity = p.entityCols.length
    val centMat = red
      .select((p.entityCols :+ col("__rn") :+ tag.as("__tag")) ++
        featureCols.map(c => col(c).cast("double")): _*)
      .orderBy((col("__tag") +: (p.entityCols :+ col("__rn"))): _*)
      .limit(nCells)
      .collect()
      .map(r => Array.tabulate(lags)(j => r.getDouble(nEntity + 2 + j)))
    require(centMat.nonEmpty,
      s"knn recursive IVF has no complete training rows (lags=$lags)")
    val bcCents = spark.sparkContext.broadcast(centMat)
    // corpus with its cell materialized once (fh passes reuse it);
    // sampled-from-corpus centroids guarantee every queried cell is
    // non-empty (a query assigns to cell c only under the same
    // strict-< argmin that sends c's own centroid row there)
    val corpusSchema = StructType(
      (1 to lags).map(l => StructField(s"__f$l", DoubleType)) ++
        Seq(StructField("__label", DoubleType), StructField("__cell", IntegerType)))
    val corpusRdd = red.select((featureCols.map(c => col(c).cast("double")) :+
        col(p.value).cast("double")): _*).rdd.mapPartitions { it =>
      val cents = bcCents.value
      it.map { row =>
        val feats = Array.tabulate(cents(0).length)(row.getDouble)
        Row.fromSeq(feats.toIndexedSeq :+ row.getDouble(feats.length) :+
          nearestCell(feats, cents))
      }
    }
    val corpus = spark.createDataFrame(corpusRdd, corpusSchema)
      .repartition(nPart, col("__cell")).cache()
    try {
      corpus.count() // materialize the index before the sequential passes
      // distributed query base: one row per entity with its lag state
      // as an array column. monotonically_increasing_id is the query
      // key — unique (not dense), stable once checkpointed. This frame
      // is pinned for the method's lifetime (the final meta join reads
      // it); it is entity-sized, never collected.
      val base = queryTails(p, timeCol, lags)
        .select((p.entityCols :+ col("__cutoff") :+
          slice(col("__state"), 1, lags).as("__state")): _*)
        .withColumn("__qid", monotonically_increasing_id())
        .localCheckpoint(true)
      val assignCellUdf = udf((s: Seq[Double]) =>
        nearestCell(s.toArray, bcCents.value))
      // ascending-lag left fold of squared diffs — the exact path's
      // d += t*t loop, as a codegen'd column expression
      val dExpr = (1 to lags).map { l =>
        val t = col(s"__f$l") - element_at(col("__state"), l); t * t
      }.reduce(_ + _)
      // bounded-pair maintenance shared with the aggregate form; used
      // imperatively here because a groupBy-udaf over the pair stream
      // trips ObjectHashAggregate's sort-based fallback past 128 keys
      // per task — which SORTS the corpus-sized pair stream (measured:
      // OOM at 1M entities × 5M corpus rows under an 8g heap)
      val topk = new graft.functions.TopKAvgAgg(k)
      val partialSchema = StructType(Seq(
        StructField("__qid", LongType), StructField("__dist", DoubleType),
        StructField("__label", DoubleType)))
      var states = base.select(col("__qid"), col("__state"))
      val spFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val stepPreds = (1 to fh).map { h =>
        val q = states.withColumn("__cell", assignCellUdf(col("__state")))
        // states side shuffles by __cell (entity-sized); corpus side
        // reuses its cached partitioning. shuffle_hash keeps Spark
        // from broadcasting an entity-scale build side through the
        // driver — the exact anti-pattern this path exists to avoid.
        val joined = corpus.join(q.hint("shuffle_hash"), Seq("__cell"))
          .select(col("__qid"), dExpr.as("__d"), col("__label"))
        // per-partition bounded k-buffers per query (memory ∝ queries
        // in the partition, never pairs), then the exact path's tiny
        // rank-merge: ≤ partitions-touched × queries × k rows. A qid's
        // pairs normally live in one partition (cell co-location), but
        // the merge stays correct even if AQE ever splits a skewed one.
        val partialRdd = joined.rdd.mapPartitions { it =>
          val acc = new java.util.HashMap[java.lang.Long, Array[Double]]()
          it.foreach { row =>
            val qid = java.lang.Long.valueOf(row.getLong(0))
            val b = acc.get(qid)
            acc.put(qid, topk.reduce(
              if (b == null) Array.emptyDoubleArray else b,
              (row.getDouble(1), row.getDouble(2))))
          }
          import scala.jdk.CollectionConverters._
          acc.entrySet().iterator().asScala.flatMap { e =>
            val b = e.getValue
            (0 until b.length / 2).iterator.map(j =>
              Row(e.getKey.longValue(), b(2 * j), b(2 * j + 1)))
          }
        }
        val sp = spark.createDataFrame(partialRdd, partialSchema)
          .withColumn("__nn", row_number().over(
            Window.partitionBy("__qid").orderBy(col("__dist"), col("__label"))))
          .filter(col("__nn") <= k)
          .groupBy("__qid").agg(avg(col("__label")).as("__p"))
          .localCheckpoint(true)
        spFrames += sp
        // loud invariant (ADVICE r9): every entity must produce a
        // step prediction, or the inner join below would silently
        // drop it from ALL remaining horizons. Guaranteed today by
        // sampled-from-corpus centroids (queried cells are non-empty);
        // if a future centroid-sampling change breaks that, fail here
        // instead of shrinking the forecast panel. Both frames are
        // entity-sized and already materialized — the counts are cheap.
        val (nStates, nPreds) = (states.count(), sp.count())
        require(nPreds == nStates,
          s"knn recursive roll step $h: ${nStates - nPreds} of $nStates " +
            "entities produced no prediction (empty candidate cell?)")
        val next = states.join(sp, "__qid")
          .select(col("__qid"),
            concat(array(col("__p")), slice(col("__state"), 1, lags - 1)).as("__state"))
          .localCheckpoint(true)
        // the previous step's state frame is no longer referenced by
        // anything unmaterialized — release its checkpoint blocks now
        // (base stays pinned; h=1's states is a mere projection of it)
        if (h > 1) EliteDeep.releaseCheckpoint(states)
        states = next
        sp.select(col("__qid"), lit(h).as("__h"), col("__p").as(p.value))
      }
      if (fh > 0) EliteDeep.releaseCheckpoint(states)
      val predsAll = stepPreds.reduce(_ unionAll _)
      val out = base.select((p.entityCols :+ col("__cutoff") :+ col("__qid")): _*)
        .join(predsAll, "__qid")
        .withColumn(timeCol, Forecasters.futureTime(freq))
        .select((p.entityCols ++ Seq(col(timeCol), col(p.value))): _*)
        // eager result (entities × fh rows) so every intermediate
        // checkpoint can be RELEASED here instead of pinning
        // 2·fh+1 entity-sized block sets until the ContextCleaner
        // happens to GC them (EliteDeep's r7 lesson; the elite zoo
        // calls this once per knn member per CV split past the cap)
        .localCheckpoint(true)
      (base +: spFrames.toSeq).foreach(EliteDeep.releaseCheckpoint)
      out
    } finally corpus.unpersist(blocking = false)
  }

  /** Strict-< ascending argmin of squared L2 against the centroid
    * matrix (ties → lowest cell — array_min(struct(d, c)) ordering; a
    * NaN distance never wins). Top-level so task closures reference it
    * through the module's static field instead of capturing an
    * enclosing method frame. */
  private[graft] def nearestCell(feats: Array[Double], cents: Array[Array[Double]]): Int = {
    var bestD = Double.PositiveInfinity; var bestC = 0
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var d = 0.0; var j = 0
      while (j < feats.length) { val t = feats(j) - cent(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; bestC = c }
      c += 1
    }
    bestC
  }

  /** Entity-count dispatch for multi-horizon KNN: the exact broadcast
    * scan under [[maxExactEntities]] (bitwise the reference semantics),
    * the IVF cell index past it (nCells ≈ √entities unless given) —
    * the elite zoo's knn members route through this, so the zoo holds
    * at millions of entities instead of failing the exact guard. */
  def predictRecursiveAuto(p: Panel, timeCol: String, freq: String, lags: Int,
                           k: Int, fh: Int, nCells: Int = 0,
                           entityCountHint: Long = -1L,
                           corpusFraction: Double = 1.0): DataFrame = {
    // callers that fit many members/slices on the same panel (the
    // elite zoo: ~15 knn fits per run) pass the count once instead of
    // paying a distinct-count job per fit; a hint from the FULL panel
    // is conservative for train slices (slice entities <= full)
    val nEntities =
      if (entityCountHint >= 0) entityCountHint
      else p.df.select(p.entityCols: _*).distinct().count()
    if (nEntities <= maxExactEntities)
      predictRecursive(p, timeCol, freq, lags, k, fh, corpusFraction)
    else {
      // cell count stays √E even under a corpus gate: holding nCells
      // while the gate thins every cell makes the per-step pair work
      // (queries × corpusRows·f / nCells) scale ∝ f — sizing cells by
      // the GATED corpus (√(E·f)) would claw back a 1/√f factor. At
      // f = 0.01 on 1M entities each cell still holds ~1000 candidate
      // rows, ample for k ≤ 7.
      val cells =
        if (nCells > 0) nCells
        else math.max(16, math.sqrt(nEntities.toDouble).toInt)
      predictRecursiveIvf(p, timeCol, freq, lags, k, fh, cells, corpusFraction)
    }
  }

  /** One-step twin of [[predictRecursiveAuto]]: exact broadcast scan
    * under [[maxExactEntities]], the IVF cell index past it. */
  def predictOneStepAuto(p: Panel, timeCol: String, freq: String, lags: Int,
                         k: Int, nCells: Int = 0,
                         entityCountHint: Long = -1L): DataFrame = {
    val nEntities =
      if (entityCountHint >= 0) entityCountHint
      else p.df.select(p.entityCols: _*).distinct().count()
    if (nEntities <= maxExactEntities)
      predictOneStep(p, timeCol, freq, lags, k)
    else {
      val cells =
        if (nCells > 0) nCells
        else math.max(16, math.sqrt(nEntities.toDouble).toInt)
      // the fh=1 distributed roll, NOT predictOneStepIvf: past the cap
      // the query side is exactly what must not be collected and
      // broadcast through the driver
      predictRecursiveIvf(p, timeCol, freq, lags, k, fh = 1, nCells = cells)
    }
  }

  /** LSH-join variant for huge entity counts. */
  def predictOneStepLsh(p: Panel, timeCol: String, freq: String, lags: Int, k: Int,
                        bucketLength: Double = 2.0): DataFrame = {
    val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l").toArray
    val reduction = Forecasters.makeReduction(p, lags).na.drop(featureCols :+ p.value)
    val assembler = new VectorAssembler().setInputCols(featureCols).setOutputCol("__features")
    // unique row id: identical lag patterns must stay distinct rows —
    // approxSimilarityJoin dedups (rowA, rowB) pairs, which would
    // collapse repeated patterns and break k-neighbor multiplicity
    val train = assembler.transform(reduction)
      .select(col("__features").as("__tf"), col(p.value).as("__label"),
        monotonically_increasing_id().as("__rid"))
    val queries = queryTails(p, timeCol, lags)
    val queryVec = assembler.transform(queries)
      .select((p.entityCols :+ col("__cutoff") :+ col("__features").as("__tf")): _*)
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("__tf").setOutputCol("__hashes")
      .setBucketLength(bucketLength).setNumHashTables(3).setSeed(42L)
    val model = lsh.fit(train)
    val joined = model.approxSimilarityJoin(train, queryVec, Double.MaxValue, "__dist")
      .select(col("datasetB.*"), col("datasetA.__label").as("__label"), col("__dist"))
    val ranked = joined
      .withColumn("__nn", row_number().over(
        Window.partitionBy(p.entityCols: _*).orderBy(col("__dist"), col("__label"))))
      .filter(col("__nn") <= k)
    ranked.groupBy(p.entityCols: _*)
      .agg(avg(col("__label")).as(p.value), max(col("__cutoff")).as("__cutoff"))
      .withColumn("__h", lit(1))
      .withColumn(timeCol, Forecasters.futureTime(freq))
      .select((p.entityCols ++ Seq(col(timeCol), col(p.value))): _*)
  }

  /** One row per entity: the newest lag-tail as lag columns + cutoff.
    * No query id here — the broadcast path assigns one via
    * zipWithIndex after the fact; a global row_number window would
    * funnel the whole frame through a single partition, which the LSH
    * (huge-entity) path must never do. */
  /** The exact broadcast path's scale assumption, made LOUD: it
    * collects one query row per entity to the driver and scans every
    * (training row × entity) pair per pass — O(rows · entities ·
    * lags) work that is the family's scale-killer at millions of
    * entities (measured in SCALE.md). Callers cross this line
    * explicitly: raise the cap if the driver is sized for it, or
    * switch to the bucketed [[predictOneStepIvf]] /
    * [[predictOneStepLsh]] paths whose work is corpus-sized, not
    * corpus×entities. */
  @volatile private[graft] var maxExactEntities: Int = 100000

  private[operators] def guardExactEntities(n: Long, what: String): Unit =
    require(n <= maxExactEntities,
      s"$what: $n entities exceed the exact broadcast-KNN cap " +
        s"($maxExactEntities). The exact path costs O(rows x entities x lags) " +
        "per pass and collects every entity tail to the driver - use " +
        "predictOneStepIvf (IVF cells) or predictOneStepLsh (random-projection " +
        "buckets) at this scale, or raise KnnForecaster.maxExactEntities if " +
        "the driver is sized for it.")

  private[operators] def queryTails(p: Panel, timeCol: String, lags: Int): DataFrame = {
    val tail = p.df
      .withColumn("__rn_desc", row_number().over(
        Window.partitionBy(p.entityCols: _*).orderBy(p.orderCols.map(_.desc): _*)))
      .filter(col("__rn_desc") <= lags)
    val state = tail.groupBy(p.entityCols: _*).agg(
      collect_list(struct(col("__rn_desc"), p.x)).as("__s"),
      max(col(timeCol)).as("__cutoff"))
      .withColumn("__state", sort_array(col("__s")).getField(p.value))
      // a complete state also means NO null elements — collect_list
      // keeps structs whose value field is null, and a null would NPE
      // the driver-side getDouble on the collected tails
      .filter(size(col("__state")) >= lags &&
        !exists(col("__state"), x => x.isNull))
    (1 to lags).foldLeft(state) { (d, l) =>
      d.withColumn(s"${p.value}__lag_$l", element_at(col("__state"), l))
    }
  }
}