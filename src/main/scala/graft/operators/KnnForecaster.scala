package graft.operators

import graft.core.Panel
import org.apache.spark.HashPartitioner
import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, VectorAssembler}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** KNN forecaster — forecasting/knn.py:22 (sklearn KNeighborsRegressor
  * over the AR-reduction matrix), re-expressed for a cluster.
  *
  * Every exact and IVF path runs ONE top-k scan, [[nearest]]: each
  * partition of the corpus keeps a bounded (distance, label) state per
  * query and emits each query's ascending k-smallest array. Exact
  * neighbors, matching the reference's sklearn semantics.
  *
  *  - [[predictOneStep]] / [[predictOneStepMultiK]] /
  *    [[predictRecursive]]: [[topK]] — the queries (one lag state per
  *    entity) ride to every partition, and the partition states merge
  *    distributed (`reduceByKey`). The corpus and the query states come
  *    from one lag window over the panel ([[Lagged]]).
  *  - [[predictOneStepIvf]]: [[topK]] with the corpus rows grouped by
  *    their nearest centroid cell.
  *  - [[predictRecursiveIvf]]: the distributed IVF roll, for entity
  *    counts whose query side must not reach the driver — each query
  *    meets its whole cell in one partition, so nothing merges.
  *  - [[predictOneStepLsh]]: bucketed random-projection LSH, ranked by
  *    a window over MLlib's `approxSimilarityJoin` pairs.
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

  /** Exact one-step-ahead KNN prediction per entity. */
  def predictOneStep(p: Panel, timeCol: String, freq: String, lags: Int, k: Int): DataFrame =
    predictOneStepMultiK(p, timeCol, freq, lags, Seq(k))(k)

  /** One-step predictions for SEVERAL k values from ONE scan: the
    * kernel keeps max(ks) candidates per query, ascending, and each k
    * averages a prefix — the top-k by (distance, label) is a prefix of
    * the top-max(ks), so every k's result is bitwise the single-k
    * path's. Powers the auto_knn sweep. Jobs: the lag window's entity
    * shuffle, the query collect, the scan. */
  def predictOneStepMultiK(p: Panel, timeCol: String, freq: String, lags: Int,
                           ks: Seq[Int]): Map[Int, DataFrame] = {
    require(ks.nonEmpty, "predictOneStepMultiK needs at least one k")
    val lagged = new Lagged(p, lags, timeCol, lit(true))
    try {
      val (queries, _) = lagged.queries()
      guardExactEntities(queries.length.toLong, "knn predictOneStep")
      val near = topK(lagged.blocks,
        queries.zipWithIndex.map { case (q, i) => (i.toLong, 0, lagged.state(q)) },
        lags, ks.max)
      ks.map { k =>
        // a query with no corpus row (empty corpus) gets no forecast
        k -> lagged.forecast(freq, queries, queries.indices.collect {
          case i if near.containsKey(i.toLong) => (i, 1, meanLabel(near.get(i.toLong), k))
        })
      }.toMap
    } finally lagged.unpersist()
  }

  /** RECURSIVE multi-horizon KNN — the reference's knn predicts any
    * fh by rolling the state forward (forecasting/knn.py:22 via
    * base/forecaster recursion): horizon h's query vector is
    * (ŷ_{h−1}, …). The corpus is persisted once ([[Lagged]]) and
    * every step is one [[topK]] job; the per-entity means (one
    * double per entity per step) roll through the driver like the rest
    * of the exact path. [[predictOneStep]] stays the fh=1 fast path. */
  def predictRecursive(p: Panel, timeCol: String, freq: String, lags: Int,
                       k: Int, fh: Int, corpusFraction: Double = 1.0): DataFrame = {
    val lagged = new Lagged(p, lags, timeCol, corpusKeep(p.entityCols, corpusFraction))
    try {
      val (queries, nCorpus) = lagged.queries()
      require(nCorpus > 0, s"knn recursive predict has no complete training rows (lags=$lags)")
      guardExactEntities(queries.length.toLong, "knn predictRecursive")
      var states = queries.map(lagged.state)
      val preds = (1 to fh).flatMap { h =>
        val near = topK(lagged.blocks, states.zipWithIndex.map { case (s, i) => (i.toLong, 0, s) },
          lags, k)
        // one group and a non-empty corpus: every query has neighbors
        val step = states.indices.map(i => meanLabel(near.get(i.toLong), k))
        states = states.zip(step).map { case (s, pr) => pr +: s.dropRight(1) }
        step.zipWithIndex.map { case (pr, i) => (i, h, pr) }
      }
      lagged.forecast(freq, queries, preds)
    } finally lagged.unpersist()
  }

  /** One window over `p.w` that both sides of an exact KNN read, as the
    * `InternalRow`s `df.cache()` would hold
    * ([[GraftSqlBridge.cacheLayoutRows]]; building it runs the entity
    * shuffle once). Columns: lag 1…L, the value (label), a last-row
    * flag, the corpus gate `keep`, the entity and the cutoff — the max
    * time over the newest `lags` rows, as [[queryTails]] takes it.
    *  - Corpus rows: no null or NaN in lag 1…L and the label (the
    *    reduction's `na.drop` rule), and `keep` holds.
    *  - Query rows: each entity's last row, when its value and lag
    *    1…L−1 are not null (NaN passes) — [[queryTails]]' complete
    *    state (value, lag 1, …, lag L−1).
    * The rows become one [[Corpus]] per partition that also carries
    * the partition's query rows, persisted: the query job materializes
    * it and every scan reads it, so the window runs once. The caller
    * unpersists in `finally`. */
  private final class Lagged(p: Panel, lags: Int, timeCol: String, keep: Column) {
    private val frame = p.df.select(
      (1 to lags).map(l => lag(p.x, l).over(p.w).cast("double")) ++ Seq(
        p.x.cast("double"),
        lead(lit(1), 1).over(p.w).isNull,
        keep) ++
        p.entityCols :+
        max(col(timeCol)).over(p.w.rowsBetween(1 - lags, Window.currentRow))
          .as("__cutoff"): _*)
    private val meta = frame.schema.fields.toIndexedSeq.drop(lags + 3)
    val blocks: RDD[Corpus] = corpus(GraftSqlBridge.cacheLayoutRows(frame), lags,
      keep = lags + 2, last = lags + 1).persist(StorageLevel.MEMORY_AND_DISK)

    /** One job: the query rows and the number of corpus rows. */
    def queries(): (Array[InternalRow], Long) = {
      val parts = blocks.map(b => (b.queries, b.n.toLong)).collect()
      (parts.flatMap(_._1), parts.map(_._2).sum)
    }

    def unpersist(): Unit = blocks.unpersist(blocking = false)

    /** A query row's state: (value, lag 1, …, lag L−1). */
    def state(q: InternalRow): Array[Double] =
      Array.tabulate(lags)(j => q.getDouble(if (j == 0) lags else j - 1))

    /** The forecast frame of (query index, h, value) predictions. */
    def forecast(freq: String, queries: Array[InternalRow],
                 preds: Seq[(Int, Int, Double)]): DataFrame =
      forecastFrame(p, timeCol, freq, meta, queries.toIndexedSeq.map(q =>
        meta.zipWithIndex.map { case (f, j) =>
          CatalystTypeConverters.convertToScala(q.get(lags + 3 + j, f.dataType), f.dataType)
        }), preds)
  }

  /** The forecast frame: per (query index i, h, value) one row of the
    * query's entity, its cutoff advanced h steps and the value. `meta`
    * is (entity…, __cutoff) and `metaRows(i)` query i's values of it.
    * The rows are one partition of an RDD
    * ([[GraftSqlBridge.onePartitionFrame]]), not a local relation:
    * Catalyst would fold a local relation into the caller's action. */
  private[operators] def forecastFrame(p: Panel, timeCol: String, freq: String,
                                       meta: Seq[StructField], metaRows: IndexedSeq[Seq[Any]],
                                       preds: Seq[(Int, Int, Double)]): DataFrame =
    GraftSqlBridge.onePartitionFrame(p.df.sparkSession,
      preds.map { case (i, h, v) => Row.fromSeq(metaRows(i) :+ h :+ v) },
      StructType(meta :+ StructField("__h", IntegerType) :+ StructField(p.value, DoubleType)))
      .withColumn(timeCol, Forecasters.futureTime(freq))
      .select((p.entityCols ++ Seq(col(timeCol), col(p.value))): _*)

  /** A partition's corpus rows, row-major: lag j+1 of row r at
    * `feats(r * lags + j)`, its label at `labels(r)`, its query group
    * at `groups(r)` (null: every row is in group 0). Rows [0, n).
    * `queries`: the partition's query rows, when asked for. */
  private[operators] final class Corpus(val feats: Array[Double], val labels: Array[Double],
                                        val groups: Array[Int], val n: Int,
                                        val queries: Array[InternalRow])
      extends Serializable

  /** One [[Corpus]] per partition of `rows`, laid out as (lag 1, …,
    * lag L, label, …) doubles: the rows that pass [[isCorpusRow]]
    * (ordinal `keep` a boolean gate, -1 none), in row order. A row's
    * group is the int at ordinal `group`, or its nearest of the
    * centroid `cells`, or 0 when neither is given. With `last` ≥ 0
    * the block also keeps a copy of each [[Lagged]] query row: `last`
    * flags it, and its value and lag 1…L−1 are not null. */
  private[operators] def corpus(rows: RDD[InternalRow], lags: Int, keep: Int = -1,
                                group: Int = -1,
                                cells: Array[Array[Double]] = null,
                                last: Int = -1): RDD[Corpus] =
    rows.mapPartitions { it =>
      val grouped = group >= 0 || cells != null
      var cap = 1024
      var feats = new Array[Double](cap * lags)
      var labels = new Array[Double](cap)
      var groups = if (grouped) new Array[Int](cap) else null
      var n = 0
      val queries = Array.newBuilder[InternalRow]
      it.foreach { r =>
        if (last >= 0 && r.getBoolean(last) &&
            (0 until lags - 1).forall(!r.isNullAt(_)) && !r.isNullAt(lags))
          queries += r.copy()
        if (isCorpusRow(r, lags, keep)) {
          if (n == cap) {
            cap *= 2
            feats = java.util.Arrays.copyOf(feats, cap * lags)
            labels = java.util.Arrays.copyOf(labels, cap)
            if (grouped) groups = java.util.Arrays.copyOf(groups, cap)
          }
          val base = n * lags
          var j = 0
          while (j < lags) { feats(base + j) = r.getDouble(j); j += 1 }
          labels(n) = r.getDouble(lags)
          if (group >= 0) groups(n) = r.getInt(group)
          else if (cells != null) groups(n) = nearestCell(feats, cells, base)
          n += 1
        }
      }
      Iterator.single(new Corpus(feats, labels, groups, n, queries.result()))
    }

  /** No null or NaN in lag 1…L and the label (the reduction's
    * `na.drop` rule), and the boolean at `keep` holds (-1: no gate). */
  private def isCorpusRow(r: InternalRow, lags: Int, keep: Int): Boolean = {
    var j = 0
    while (j <= lags) {
      if (r.isNullAt(j) || r.getDouble(j).isNaN) return false
      j += 1
    }
    keep < 0 || r.getBoolean(keep)
  }

  /** The exact top-k kernel. `qRows` = (qid, group, state[lags]); a
    * corpus row serves only its own group's queries. Returns, per qid,
    * its k smallest (distance, label) pairs over the whole corpus,
    * ascending, interleaved [d0, l0, d1, l1, …] — fewer than k when its
    * group has fewer rows, no entry when it has none.
    *
    * Each partition runs [[nearest]] over its blocks, and a
    * `reduceByKey` merge ([[mergeTopK]]) keeps the k smallest per qid
    * executor-side, so the driver receives O(queries × k) doubles, not
    * O(partitions × queries × k). One job. */
  private[operators] def topK(corpus: RDD[Corpus], qRows: Array[(Long, Int, Array[Double])],
                              lags: Int, k: Int): java.util.HashMap[Long, Array[Double]] = {
    val merged = corpus.mapPartitions { it =>
      val qs = qRows
      nearest(it, qs, lags, k).map { case (qi, a) => (qs(qi)._1, a) }
    }.reduceByKey(mergeTopK(_, _, k)).collect()
    val out = new java.util.HashMap[Long, Array[Double]]()
    merged.foreach { case (qid, a) => out.put(qid, a) }
    out
  }

  /** One partition's share of the top-k: per index of `qRows` (qid,
    * group, state[lags]), in ascending index order, the k smallest
    * (distance, label) pairs among the rows of `blocks` in its group,
    * ascending and interleaved as [[topK]] returns them; no entry when
    * the partition holds none.
    * [[topK]] and the distributed IVF roll ([[predictRecursiveIvf]])
    * run it in every task.
    *
    * Distance is the squared L2 folded over ascending lags from 0.0.
    * Order is the total order `java.lang.Double.compare` on distance,
    * then label (NaN greatest, −0.0 below 0.0): the pairs it ranks
    * equal are identical, so the k smallest are one multiset whatever
    * the partitioning or row order. A NaN distance (a NaN query state,
    * or an infinite lag met by an infinite state) ranks last; an IEEE
    * `<` test would admit no row once a NaN holds the k-th place.
    *
    * The rows are scanned in runs of at most [[Tile]] rows of one group,
    * query-outer ([[scanRun]]): the query vector and its k-th threshold
    * stay register/L1-hot across the run (r14: −25% process-CPU on
    * fc_elite_knn against a per-row boxed heap). The query states
    * allocate lazily, so a partition that holds one group's rows
    * materializes only that group's. */
  private def nearest(blocks: Iterator[Corpus], qRows: Array[(Long, Int, Array[Double])],
                      lags: Int, k: Int): Iterator[(Int, Array[Double])] = {
    val byGrp: scala.collection.Map[Int, Array[Int]] =
      qRows.indices.toArray.groupBy(i => qRows(i)._2)
    val empty = Array.empty[Int]
    val nq = qRows.length
    val dA = new Array[Array[Double]](nq)
    val lA = new Array[Array[Double]](nq)
    val cnt = new Array[Int](nq)
    val maxI = new Array[Int](nq)
    blocks.foreach { b =>
      var s = 0
      while (s < b.n) {
        val g = if (b.groups == null) 0 else b.groups(s)
        var e = s + 1
        while (e < b.n && e - s < Tile && (b.groups == null || b.groups(e) == g)) e += 1
        val grpQs = byGrp.getOrElse(g, empty)
        var gi = 0
        while (gi < grpQs.length) {
          val qi = grpQs(gi)
          if (dA(qi) == null) { dA(qi) = new Array[Double](k); lA(qi) = new Array[Double](k) }
          val packed = scanRun(b.feats, b.labels, s, e, lags, k, qRows(qi)._3,
            dA(qi), lA(qi), cnt(qi), maxI(qi))
          cnt(qi) = (packed >>> 32).toInt; maxI(qi) = packed.toInt
          gi += 1
        }
        s = e
      }
    }
    (0 until nq).iterator.filter(dA(_) != null).map { qi =>
      val c = cnt(qi); val d0 = dA(qi); val l0 = lA(qi)
      val idx = Array.range(0, c).sortBy(j => (d0(j), l0(j)))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Double.TotalOrdering))
      val packed = new Array[Double](2 * c)
      var o = 0
      while (o < c) { packed(2 * o) = d0(idx(o)); packed(2 * o + 1) = l0(idx(o)); o += 1 }
      (qi, packed)
    }
  }

  /** Rows per query-outer run of [[nearest]]: 256 rows of 7 lags are 14 KB
    * of features, inside L1. */
  private val Tile = 256

  /** Mean of the labels of the first min(k, size) pairs of a [[topK]]
    * array, summed ascending from 0.0 — what `avg` gives over the rows
    * a `row_number() ≤ k` cut by (distance, label) keeps. */
  private[graft] def meanLabel(a: Array[Double], k: Int): Double = {
    val c = math.min(k, a.length / 2)
    var s = 0.0
    var j = 0
    while (j < c) { s += a(2 * j + 1); j += 1 }
    s / c
  }

  /** Index of the (distance, label) maximum of the k state entries
    * under [[nearest]]'s total order. Ties keep the lowest index; tied
    * entries are identical pairs, so which one a later admission
    * overwrites cannot change the surviving multiset. */
  @inline private def topKMaxIdx(d0: Array[Double], l0: Array[Double], k: Int): Int = {
    var mi = 0; var i = 1
    while (i < k) {
      val c = java.lang.Double.compare(d0(i), d0(mi))
      if (c > 0 || (c == 0 && java.lang.Double.compare(l0(i), l0(mi)) > 0)) mi = i
      i += 1
    }
    mi
  }

  /** Scan rows [s, e) of a row-major corpus for ONE query's bounded
    * top-k state (d0/l0 arrays of size k, `cnt0` entries so far,
    * `maxI0` the max index once full). A row enters a full state when
    * it ranks strictly below the current k-th entry in [[nearest]]'s
    * total order. Returns the updated (cnt << 32) | maxI. */
  @inline private def scanRun(feats: Array[Double], labels: Array[Double],
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
      while (j < lags) { val t = feats(base + j) - q(j); d += t * t; j += 1 }
      val label = labels(r)
      if (c < k) {
        d0(c) = d; l0(c) = label; c += 1
        if (c == k) {
          mi = topKMaxIdx(d0, l0, k); thrD = d0(mi); thrL = l0(mi)
        }
      } else {
        val cd = java.lang.Double.compare(d, thrD)
        if (cd < 0 || (cd == 0 && java.lang.Double.compare(label, thrL) < 0)) {
          d0(mi) = d; l0(mi) = label
          mi = topKMaxIdx(d0, l0, k); thrD = d0(mi); thrL = l0(mi)
        }
      }
      r += 1
    }
    (c.toLong << 32) | mi.toLong
  }

  /** Merge two ascending interleaved (distance, label) arrays, keeping
    * the k smallest — associative and commutative as a multiset
    * operation (ties are identical pairs), so the reduceByKey combine
    * order cannot change the result. */
  private[graft] def mergeTopK(a: Array[Double], b: Array[Double], k: Int): Array[Double] = {
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

  /** IVF-cell variant — the Spark-first analog of the reference's
    * Lance IVF ANN regressor (forecasting/lance.py:40-101): assign
    * every training row and every query tail to its nearest of
    * `nCells` sampled centroid rows (squared L2, ties → lowest cell,
    * [[ivfIndex]]), then search ONLY the query's cell.
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
    *    broadcast centroid matrix — the exact path's [[topK]] with the
    *    cell as the group. The bench/oracle path.
    *  - past the cap: delegates to [[predictRecursiveIvf]] at fh = 1
    *    — the fully distributed roll where only the nCells × lags
    *    centroid sample ever touches the driver (soak-verified at 1M
    *    entities, SCALE.md r14).
    *
    * Both strategies run [[nearest]] on the same cells, so they are
    * bit-identical — the fc_ann DuckDB oracle replicates either. */
  def predictOneStepIvf(p: Panel, timeCol: String, freq: String, lags: Int, k: Int,
                        nCells: Int, entityCountHint: Long = -1L): DataFrame = {
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
    // guard parity with the over-cap twin predictRecursiveIvf (ADVICE
    // r14): zero complete training rows must fail loud on BOTH sides
    // of the maxExactEntities boundary, not silently return an empty
    // frame here
    val (corpusRows, centMat) = ivfIndex(p, lags, nCells, lit(true), "one-step IVF")
    // within-cell search is the exact path's kernel with the cell as
    // the group (corpus rows serve only their own cell's queries) —
    // materializing the cell join + a global window sort instead was
    // 25× slower under cell skew (one popular centroid makes the join
    // quadratic-ish, while the scan stays one pass)
    val nEntity = p.entity.length
    val qRows = collected.zipWithIndex.map { case (r, i) =>
      val feats = Array.tabulate(lags)(j => r.getDouble(nEntity + 1 + j))
      (i.toLong, nearestCell(feats, centMat), feats)
    }
    val near = topK(corpus(GraftSqlBridge.cacheLayoutRows(corpusRows), lags, cells = centMat),
      qRows, lags, k)
    forecastFrame(p, timeCol, freq, queries.schema.fields.take(nEntity + 1).toIndexedSeq,
      collected.map(_.toSeq.take(nEntity + 1)).toIndexedSeq,
      collected.indices.collect {
        case i if near.containsKey(i.toLong) => (i, 1, meanLabel(near.get(i.toLong), k))
      })
  }

  /** The IVF index's inputs. Corpus: the complete reduction rows (no
    * null or NaN in lag 1…L or the value — a null would NPE the
    * centroid collect and the partition scan) that pass the gate
    * `keep`, as (lag 1…L, label) doubles. Centroids: the first `nCells`
    * corpus rows by an md5 tag of (entity, position) — a portable
    * sample the fc_ann DuckDB oracle replicates. Fails, naming `what`,
    * when no corpus row exists. Jobs: the centroid collect. */
  private def ivfIndex(p: Panel, lags: Int, nCells: Int, keep: Column,
                       what: String): (DataFrame, Array[Array[Double]]) = {
    val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l")
    val red = CrossValidation
      .withPosition(p.copy(df = Preprocess.lagKeepAll(p, 1 to lags)))
      .filter(col("__rn") > lags)
      .filter(keep)
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
    require(centMat.nonEmpty, s"knn $what has no complete training rows (lags=$lags)")
    (red.select((featureCols.map(c => col(c).cast("double")) :+
      col(p.value).cast("double")): _*), centMat)
  }

  /** RECURSIVE multi-horizon KNN over an IVF cell index — the scale
    * path for the elite zoo's knn members past [[maxExactEntities]]
    * (the exact path's O(rows × entities × lags) per pass is the KNN
    * family's scale-killer; measured 373 s of the 543 s full-zoo wall
    * at 10k entities, EliteSoak). Same cells as [[predictOneStepIvf]]
    * ([[ivfIndex]]).
    *
    * FULLY DISTRIBUTED state roll (unlike [[predictRecursive]], whose
    * driver-mediated roll is what [[maxExactEntities]] caps): only the
    * nCells × lags centroid matrix reaches the driver. The corpus rows
    * are keyed by their cell once, hash-partitioned by it and sorted by
    * it within each partition, and persisted as [[Corpus]] blocks whose
    * groups are the cells: a cell is one run of one partition. The
    * per-entity (meta, state, predictions) records live in an RDD. Each
    * horizon step keys them by their new cell under the same
    * partitioner (only this entity-sized side shuffles), zips them with
    * the blocks and runs [[nearest]]; a query's whole cell is in its
    * partition, so its top-k is complete there. The same task takes
    * the step's [[meanLabel]] and shifts the state, and fails if a
    * query's cell holds no corpus row — sampled-from-corpus centroids
    * rule that out (a state lands in cell c only under the same
    * strict-< argmin that sends c's own centroid row there). Each step
    * is persisted and the previous one released once it has
    * materialized, so memory stays flat in fh; the output is built
    * eagerly and every intermediate released. The same kernel, cells
    * and mean as [[predictOneStepIvf]]: at fh = 1 the two agree bit
    * for bit, and at nCells = 1 the roll is [[predictRecursive]].
    * Jobs: the centroid collect, the corpus and query-tail shuffles,
    * one per step and the output.
    * Reference: forecasting/knn.py:22 + base recursion _ar.py:216-270,
    * IVF analog forecasting/lance.py:40-101. */
  def predictRecursiveIvf(p: Panel, timeCol: String, freq: String, lags: Int,
                          k: Int, fh: Int, nCells: Int,
                          corpusFraction: Double = 1.0): DataFrame = {
    // the fraction gate precedes the centroid sample, preserving the
    // sampled-from-corpus invariant (queried cells stay non-empty)
    val (corpusRows, cents) = ivfIndex(p, lags, nCells,
      corpusKeep(p.entityCols, corpusFraction), "recursive IVF")
    val tails = queryTails(p, timeCol, lags).select((p.entityCols :+ col("__cutoff") :+
      slice(col("__state"), 1, lags).cast("array<double>")): _*)
    val meta = tails.schema.fields.toIndexedSeq.dropRight(1)
    // the (entity…, cutoff) values of a state record's row
    val metaOf = (m: InternalRow) => meta.indices.map(j => m.get(j, meta(j).dataType))
    var states = GraftSqlBridge.cacheLayoutRows(tails).map { r =>
      val m = r.copy()
      (m, m.getArray(meta.length).toDoubleArray(), Array.emptyDoubleArray)
    }
    val byCell = new HashPartitioner(p.df.sparkSession.sessionState.conf.numShufflePartitions)
    val blocks = corpus(GraftSqlBridge.cacheLayoutRows(corpusRows).map { r =>
      val row = Array.tabulate(lags + 1)(r.getDouble)
      (nearestCell(row, cents), row)
    }.repartitionAndSortWithinPartitions(byCell)
      .map { case (c, row) => InternalRow.fromSeq(row.toSeq :+ c) }, lags, group = lags + 1)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      (1 to fh).foreach { h =>
        val prev = states
        states = blocks.zipPartitions(
          prev.map(s => (nearestCell(s._2, cents), s)).partitionBy(byCell)) { (bs, it) =>
          val qs = it.toArray
          val near = nearest(bs, qs.map { case (c, (_, s, _)) => (0L, c, s) }, lags, k).buffered
          qs.indices.iterator.map { i =>
            val (c, (m, s, preds)) = qs(i)
            require(near.hasNext && near.head._1 == i, s"knn recursive IVF step $h: cell $c " +
              s"holds no corpus row for entity ${metaOf(m).dropRight(1).mkString(", ")}")
            val pr = meanLabel(near.next()._2, k)
            (m, pr +: s.dropRight(1), preds :+ pr)
          }
        }.persist(StorageLevel.MEMORY_AND_DISK)
        try states.count() finally prev.unpersist(blocking = false)
      }
      GraftSqlBridge.rowsFrame(p.df.sparkSession,
        states.flatMap { case (m, _, preds) =>
          preds.indices.map(i => InternalRow.fromSeq(metaOf(m) :+ (i + 1) :+ preds(i)))
        },
        StructType(meta :+ StructField("__h", IntegerType) :+ StructField(p.value, DoubleType)))
        .withColumn(timeCol, Forecasters.futureTime(freq))
        .select((p.entityCols ++ Seq(col(timeCol), col(p.value))): _*)
        .localCheckpoint(true)
    } finally {
      states.unpersist(blocking = false)
      blocks.unpersist(blocking = false)
    }
  }

  /** Strict-< ascending argmin of squared L2 between the centroids and
    * the features at `feats(off)…` (ties → lowest cell —
    * array_min(struct(d, c)) ordering; a NaN distance never wins).
    * Top-level so task closures reference it through the module's
    * static field instead of capturing an enclosing method frame. */
  private[graft] def nearestCell(feats: Array[Double], cents: Array[Array[Double]],
                                 off: Int = 0): Int = {
    var bestD = Double.PositiveInfinity; var bestC = 0
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var d = 0.0; var j = 0
      while (j < cent.length) { val t = feats(off + j) - cent(j); d += t * t; j += 1 }
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

  /** One row per entity: the newest lag-tail as lag columns + cutoff.
    * No query id here — callers index the collected rows; a global
    * row_number window would funnel the whole frame through a single
    * partition, which the LSH (huge-entity) path must never do. */
  private[operators] def queryTails(p: Panel, timeCol: String, lags: Int): DataFrame = {
    // a complete state also means NO null elements — collect_list
    // keeps structs whose value field is null, and a null would NPE
    // the driver-side getDouble on the collected tails
    val state = Forecasters.tailState(p, timeCol, lags,
      complete = !exists(col("__state"), x => x.isNull))
    (1 to lags).foldLeft(state) { (d, l) =>
      d.withColumn(s"${p.value}__lag_$l", element_at(col("__state"), l))
    }
  }
}
