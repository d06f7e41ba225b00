package graft

import graft.core.Panel
import graft.operators.{AutoForecast, CrossValidation, Forecasters, KnnForecaster, Preprocess}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Random

/** The one top-k kernel ([[KnnForecaster.topK]] and the per-partition
  * scan it shares with the distributed IVF roll) behind
  * `predictOneStep`, `predictOneStepMultiK`, `predictRecursive`,
  * `predictOneStepIvf` and `predictRecursiveIvf`, against the paths it
  * replaced (kept below as the reference: a second window for the query
  * tails, per-partition bounded heaps or k-buffers, then a
  * `row_number` rank merge, `avg` and a join back to the query meta),
  * bit for bit — on seeded panels with equal-distance ties between
  * different labels, −0.0, null and NaN values, entities shorter than
  * `lags`, k larger than the corpus, and 1, 3 and 8 partitions.
  *
  * A NaN in a query state makes every distance NaN. The old heaps and
  * k-buffers compared distances with IEEE `<`, so they stopped
  * admitting rows once full and kept whichever rows each partition met
  * first; the kernel ranks NaN last in a total order. For those queries
  * the reference is the rank over every (query, corpus row) pair, which
  * does not depend on the partitioning. */
class KnnKernelSpec extends SparkSpec {

  private val lags = 3

  /** A seeded panel: `nEnt` entities of 0–14 points (some shorter than
    * `lags`), values on a small integer grid so that distances tie
    * between different labels, plus −0.0. `holes`: some values null or
    * NaN, never among an entity's last `lags` values unless `nanTails`
    * (then some last values are NaN, and some null). */
  private def seeded(seed: Long, nEnt: Int, holes: Boolean, nanTails: Boolean = false): Panel = {
    val rnd = new Random(seed)
    val rows = (0 until nEnt).flatMap { e =>
      val n = if (e % 7 == 3) rnd.nextInt(lags) else 4 + rnd.nextInt(11)
      (0 until n).map { t =>
        val tail = t >= n - lags
        val v: java.lang.Double =
          if (nanTails && tail && rnd.nextInt(4) == 0) { if (rnd.nextBoolean()) Double.NaN else null }
          else if (holes && !tail && rnd.nextInt(9) == 0) { if (rnd.nextBoolean()) Double.NaN else null }
          else if (rnd.nextInt(10) == 0) -0.0
          else rnd.nextInt(4).toDouble
        Row(e, t, v)
      }
    }
    val schema = StructType(Seq(StructField("entity", IntegerType),
      StructField("t", IntegerType), StructField("value", DoubleType)))
    Panel(spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema),
      Seq("entity"), Seq("t"), "value")
  }

  private def atPartitions[T](n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, n.toLong)
    try f finally spark.conf.set(key, saved)
  }

  /** (entity, t, raw bits of value), sorted. */
  private def bits(df: DataFrame): Seq[(Int, Int, Long)] =
    df.collect().map(r => (r.getInt(0), r.getInt(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq.sorted

  // ── the reference: the path before the kernel ─────────────────────

  private object Old {
    def featureCols: Seq[String] = (1 to lags).map(l => s"value__lag_$l")

    /** The former `KnnForecaster.queryTails`: (entity, cutoff, state). */
    def tailFrame(p: Panel): DataFrame = {
      val tail = p.df
        .withColumn("__rn_desc", row_number().over(
          Window.partitionBy(p.entityCols: _*).orderBy(p.orderCols.map(_.desc): _*)))
        .filter(col("__rn_desc") <= lags)
      tail.groupBy(p.entityCols: _*).agg(
        collect_list(struct(col("__rn_desc"), p.x)).as("__s"), max(col("t")).as("__cutoff"))
        .withColumn("__state", sort_array(col("__s")).getField(p.value))
        .filter(size(col("__state")) >= lags && !exists(col("__state"), x => x.isNull))
        .select(col("entity"), col("__cutoff"), col("__state"))
    }

    def tails(p: Panel): Array[(Int, Int, Array[Double])] =
      tailFrame(p).collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))

    /** The former reduction: lag frame, `na.drop`, (lags…, label). */
    def reduction(p: Panel): DataFrame =
      Forecasters.makeReduction(p, lags).na.drop(featureCols :+ p.value)
        .select((featureCols.map(c => col(c).cast("double")) :+
          col(p.value).cast("double").as("__label")): _*)

    /** The former bounded heaps: per partition and query (of the row's
      * cell when `cents` is given), fill k entries, then admit a row
      * when `d < max || (d == max && label < maxLabel)`; the partial
      * rows ranked by `row_number` over (distance, label), cut at k,
      * `avg` per query. */
    def topKAvg(spark: SparkSession, corpus: DataFrame, qs: Array[(Long, Int, Array[Double])],
                k: Int, cents: Array[Array[Double]] = null): Map[Long, Double] = {
      val n = lags
      val partials = corpus.rdd.mapPartitions { it =>
        val d = Array.fill(qs.length)(Array.empty[(Double, Double)])
        it.foreach { row =>
          val f = Array.tabulate(n)(row.getDouble)
          val label = row.getDouble(n)
          val cell = if (cents == null) 0 else KnnForecaster.nearestCell(f, cents)
          qs.indices.filter(qs(_)._2 == cell).foreach { qi =>
            var dist = 0.0
            (0 until n).foreach { j => val t = f(j) - qs(qi)._3(j); dist += t * t }
            val h = d(qi)
            if (h.length < k) d(qi) = h :+ ((dist, label))
            else {
              val mi = h.indices.maxBy(h(_))(Ordering.Tuple2(
                Ordering.Double.TotalOrdering, Ordering.Double.TotalOrdering))
              val (md, ml) = h(mi)
              if (dist < md || (dist == md && label < ml)) d(qi) = h.updated(mi, (dist, label))
            }
          }
        }
        qs.indices.iterator.flatMap(qi => d(qi).map { case (x, l) => Row(qs(qi)._1, x, l) })
      }
      spark.createDataFrame(partials, StructType(Seq(StructField("__qid", LongType),
        StructField("__dist", DoubleType), StructField("__label", DoubleType))))
        .withColumn("__nn", row_number().over(
          Window.partitionBy("__qid").orderBy(col("__dist"), col("__label"))))
        .filter(col("__nn") <= k)
        .groupBy("__qid").agg(avg(col("__label")))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }

    def oneStep(p: Panel, k: Int): Seq[(Int, Int, Long)] = {
      val ts = tails(p)
      val m = topKAvg(spark, reduction(p),
        ts.zipWithIndex.map { case (q, i) => (i.toLong, 0, q._3) }, k)
      ts.indices.collect { case i if m.contains(i.toLong) =>
        (ts(i)._1, ts(i)._2 + 1, java.lang.Double.doubleToRawLongBits(m(i.toLong)))
      }.sorted
    }

    def recursive(p: Panel, k: Int, fh: Int): Seq[(Int, Int, Long)] = {
      val ts = tails(p)
      val red = reduction(p).cache()
      try {
        var states = ts.map(_._3)
        (1 to fh).flatMap { h =>
          val m = topKAvg(spark, red, states.zipWithIndex.map { case (s, i) => (i.toLong, 0, s) }, k)
          val step = states.indices.map(i => m(i.toLong))
          states = states.zip(step).map { case (s, pr) => pr +: s.dropRight(1) }
          step.zipWithIndex.map { case (pr, i) =>
            (ts(i)._1, ts(i)._2 + h, java.lang.Double.doubleToRawLongBits(pr))
          }
        }.sorted
      } finally red.unpersist(blocking = false)
    }

    /** The former IVF index: the complete reduction rows as (lag 1…L,
      * label) and the md5-tag centroid sample. */
    def ivfIndex(p: Panel, nCells: Int): (DataFrame, Array[Array[Double]]) = {
      val red = CrossValidation
        .withPosition(p.copy(df = Preprocess.lagKeepAll(p, 1 to lags)))
        .filter(col("__rn") > lags)
        .na.drop(featureCols :+ p.value)
      val tag = md5(concat_ws("_",
        (p.entityCols :+ col("__rn")).map(_.cast("string")): _*).cast("binary"))
      val cents = red
        .select((p.entityCols :+ col("__rn") :+ tag.as("__tag")) ++
          featureCols.map(c => col(c).cast("double")): _*)
        .orderBy((col("__tag") +: (p.entityCols :+ col("__rn"))): _*)
        .limit(nCells).collect()
        .map(r => Array.tabulate(lags)(j => r.getDouble(3 + j)))
      (red.select((featureCols.map(c => col(c).cast("double")) :+
        col(p.value).cast("double")): _*), cents)
    }

    /** The former `predictOneStepIvf` under the entity cap. */
    def ivf(p: Panel, k: Int, nCells: Int): Seq[(Int, Int, Long)] = {
      val (corpus, cents) = ivfIndex(p, nCells)
      val ts = tails(p)
      val m = topKAvg(spark, corpus,
        ts.zipWithIndex.map { case (q, i) =>
          (i.toLong, KnnForecaster.nearestCell(q._3, cents), q._3) }, k, cents)
      ts.indices.collect { case i if m.contains(i.toLong) =>
        (ts(i)._1, ts(i)._2 + 1, java.lang.Double.doubleToRawLongBits(m(i.toLong)))
      }.sorted
    }

    /** The former distributed `predictRecursiveIvf`: the corpus keyed by
      * cell in a cached frame hash-partitioned by it; per step each
      * state's cell by a udf, a `shuffle_hash` join of the states to the
      * corpus, per-partition [[KnnKernelSpec.kBuffer]]s per query id, a `row_number`
      * rank merge, `avg`, and a join back to shift the states; at the
      * end a join of every step to the query meta. */
    def recursiveIvf(p: Panel, k: Int, fh: Int, nCells: Int): Seq[(Int, Int, Long)] = {
      val (rows, cents) = ivfIndex(p, nCells)
      val n = lags
      val corpus = spark.createDataFrame(rows.rdd.map { r =>
          val f = Array.tabulate(n)(r.getDouble)
          Row.fromSeq(f.toSeq :+ r.getDouble(n) :+ KnnForecaster.nearestCell(f, cents))
        }, StructType((1 to lags).map(l => StructField(s"__f$l", DoubleType)) ++
          Seq(StructField("__label", DoubleType), StructField("__cell", IntegerType))))
        .repartition(spark.sessionState.conf.numShufflePartitions, col("__cell")).cache()
      try {
        val base = tailFrame(p)
          .withColumn("__state", slice(col("__state"), 1, lags))
          .withColumn("__qid", monotonically_increasing_id())
          .localCheckpoint(true)
        val cell = udf((s: Seq[Double]) => KnnForecaster.nearestCell(s.toArray, cents))
        val dist = (1 to lags).map { l =>
          val t = col(s"__f$l") - element_at(col("__state"), l); t * t
        }.reduce(_ + _)
        var states = base.select(col("__qid"), col("__state"))
        val steps = (1 to fh).map { h =>
          val pairs = corpus.join(states.withColumn("__cell", cell(col("__state")))
              .hint("shuffle_hash"), Seq("__cell"))
            .select(col("__qid"), dist.as("__d"), col("__label"))
          val partial = pairs.rdd.mapPartitions { it =>
            val acc = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Double]]
            it.foreach { r =>
              acc(r.getLong(0)) = KnnKernelSpec.kBuffer(acc.getOrElse(r.getLong(0), Array.emptyDoubleArray),
                r.getDouble(1), r.getDouble(2), k)
            }
            acc.iterator.flatMap { case (q, b) =>
              (0 until b.length / 2).map(j => Row(q, b(2 * j), b(2 * j + 1)))
            }
          }
          val sp = spark.createDataFrame(partial, StructType(Seq(StructField("__qid", LongType),
              StructField("__dist", DoubleType), StructField("__label", DoubleType))))
            .withColumn("__nn", row_number().over(
              Window.partitionBy("__qid").orderBy(col("__dist"), col("__label"))))
            .filter(col("__nn") <= k)
            .groupBy("__qid").agg(avg(col("__label")).as("__p"))
            .localCheckpoint(true)
          states = states.join(sp, "__qid")
            .select(col("__qid"),
              concat(array(col("__p")), slice(col("__state"), 1, lags - 1)).as("__state"))
            .localCheckpoint(true)
          sp.select(col("__qid"), lit(h).as("__h"), col("__p"))
        }
        base.join(steps.reduce(_ unionAll _), "__qid")
          .collect().map(r => (r.getInt(1), r.getInt(2) + r.getInt(4),
            java.lang.Double.doubleToRawLongBits(r.getDouble(5)))).toSeq.sorted
      } finally corpus.unpersist(blocking = false)
    }
  }

  /** Every (query, corpus row) pair ranked by `row_number` over
    * (distance, label), cut at k, `avg` — the full rank the DuckDB
    * oracle runs, well defined for NaN states. */
  private def pairRank(p: Panel, k: Int): Seq[(Int, Int, Long)] = {
    import spark.implicits._
    val ts = Old.tails(p)
    val q = ts.toSeq.map { case (e, c, s) => (e, c, s.toSeq) }.toDF("q", "cutoff", "s")
    val d = (1 to lags).map { l =>
      val t = col(s"value__lag_$l") - element_at(col("s"), l); t * t
    }.foldLeft(lit(0.0))(_ + _)
    q.crossJoin(Old.reduction(p))
      .withColumn("__d", d)
      .withColumn("__nn", row_number().over(
        Window.partitionBy("q").orderBy(col("__d"), col("__label"))))
      .filter(col("__nn") <= k)
      .groupBy("q", "cutoff").agg(avg(col("__label")))
      .collect().map(r => (r.getInt(0), r.getInt(1) + 1,
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq.sorted
  }

  // ── specs ─────────────────────────────────────────────────────────

  test("predictOneStep equals the heap + rank-merge path bit for bit") {
    for (seed <- Seq(1L, 2L, 3L); parts <- Seq(1, 3, 8); k <- Seq(1, 4)) atPartitions(parts) {
      val p = seeded(seed, nEnt = 23, holes = true)
      val got = bits(KnnForecaster.predictOneStep(p, "t", "1i", lags, k))
      assert(got.nonEmpty)
      assert(got == Old.oneStep(p, k), s"seed $seed, $parts partitions, k=$k")
    }
  }

  test("k larger than the corpus averages every corpus row") {
    val p = seeded(4L, nEnt = 5, holes = true)
    val n = Old.reduction(p).count().toInt
    val got = bits(KnnForecaster.predictOneStep(p, "t", "1i", lags, n + 7))
    assert(got == Old.oneStep(p, n + 7))
    assert(got == bits(KnnForecaster.predictOneStep(p, "t", "1i", lags, n)))
  }

  test("an empty corpus forecasts nothing") {
    val p = panel(Seq(1.0, 2.0, 3.0))
    assert(KnnForecaster.predictOneStep(p, "t", "1i", lags = 3, k = 2).count() == 0)
  }

  test("NaN query states rank NaN last, whatever the partitioning") {
    val p = seeded(5L, nEnt = 23, holes = true, nanTails = true)
    val nan = Old.tails(p).count(_._3.exists(_.isNaN))
    assert(nan > 0, "the panel must hold NaN query states")
    val want = pairRank(p, 4)
    Seq(1, 3, 8).foreach { parts =>
      atPartitions(parts) {
        assert(bits(KnnForecaster.predictOneStep(p, "t", "1i", lags, 4)) == want,
          s"$parts partitions")
      }
    }
    // and on the panel without NaN states, the pair rank is the old path
    val clean = seeded(5L, nEnt = 23, holes = true)
    assert(pairRank(clean, 4) == Old.oneStep(clean, 4))
  }

  test("multi-k prefixes equal the single-k results") {
    val p = seeded(6L, nEnt = 23, holes = true, nanTails = true)
    val ks = Seq(1, 2, 5, 40)
    val multi = KnnForecaster.predictOneStepMultiK(p, "t", "1i", lags, ks)
    ks.foreach { k =>
      assert(bits(multi(k)) == bits(KnnForecaster.predictOneStep(p, "t", "1i", lags, k)), s"k=$k")
    }
  }

  test("predictRecursive equals the old per-step heap + rank-merge roll") {
    for (seed <- Seq(7L, 8L); parts <- Seq(1, 3, 8)) atPartitions(parts) {
      val p = seeded(seed, nEnt = 17, holes = true)
      assert(bits(KnnForecaster.predictRecursive(p, "t", "1i", lags, k = 3, fh = 3)) ==
        Old.recursive(p, k = 3, fh = 3), s"seed $seed, $parts partitions")
    }
  }

  test("predictOneStepIvf equals the old per-row cell scan") {
    for (seed <- Seq(9L, 10L); parts <- Seq(1, 3, 8)) atPartitions(parts) {
      val p = seeded(seed, nEnt = 29, holes = true)
      assert(bits(KnnForecaster.predictOneStepIvf(p, "t", "1i", lags, k = 3, nCells = 4)) ==
        Old.ivf(p, k = 3, nCells = 4), s"seed $seed, $parts partitions")
    }
  }

  test("predictRecursiveIvf equals the old distributed roll bit for bit") {
    for (seed <- Seq(13L, 14L); parts <- Seq(1, 3, 8); nCells <- Seq(1, 4)) atPartitions(parts) {
      val p = seeded(seed, nEnt = 29, holes = true)
      val got = bits(KnnForecaster.predictRecursiveIvf(p, "t", "1i", lags, k = 3, fh = 3,
        nCells = nCells))
      assert(got.nonEmpty)
      assert(got == Old.recursiveIvf(p, k = 3, fh = 3, nCells = nCells),
        s"seed $seed, $parts partitions, $nCells cells")
    }
  }

  test("with NaN query states the IVF roll ranks NaN last like the exact paths") {
    val p = seeded(15L, nEnt = 23, holes = true, nanTails = true)
    assert(Old.tails(p).count(_._3.exists(_.isNaN)) > 0, "the panel must hold NaN query states")
    Seq(1, 3, 8).foreach { parts =>
      atPartitions(parts) {
        assert(bits(KnnForecaster.predictRecursiveIvf(p, "t", "1i", lags, k = 3, fh = 3,
          nCells = 1)) == bits(KnnForecaster.predictRecursive(p, "t", "1i", lags, k = 3, fh = 3)),
          s"nCells 1, $parts partitions")
        assert(bits(KnnForecaster.predictRecursiveIvf(p, "t", "1i", lags, k = 3, fh = 1,
          nCells = 4)) == bits(KnnForecaster.predictOneStepIvf(p, "t", "1i", lags, k = 3,
          nCells = 4)), s"fh 1, $parts partitions")
      }
    }
  }

  test("predictOneStep runs at most 5 jobs, its output action included") {
    val p = seeded(11L, nEnt = 23, holes = true)
    KnnForecaster.predictOneStep(p, "t", "1i", lags, 3).collect()
    val (jobs, rows) = jobsOf(KnnForecaster.predictOneStep(p, "t", "1i", lags, 3).collect())
    assert(rows.nonEmpty)
    assert(jobs <= 5, s"$jobs jobs")
  }

  test("predictRecursiveIvf runs at most fh + 6 jobs, its output action included") {
    val p = seeded(16L, nEnt = 23, holes = true)
    val fh = 3
    def roll() = KnnForecaster.predictRecursiveIvf(p, "t", "1i", lags, k = 3, fh = fh,
      nCells = 4).collect()
    roll()
    val (jobs, rows) = jobsOf(roll())
    assert(rows.nonEmpty)
    assert(jobs <= fh + 6, s"$jobs jobs")
  }

  test("predictRecursive and autoKnn leave nothing cached, also when they throw") {
    val p = seeded(12L, nEnt = 17, holes = true)
    noLeftovers(KnnForecaster.predictRecursive(p, "t", "1i", lags, k = 3, fh = 3).collect())
    val e = intercept[IllegalArgumentException](noLeftovers(
      KnnForecaster.predictRecursive(panel(Seq(1.0, 2.0)), "t", "1i", lags, k = 3, fh = 2)))
    assert(e.getMessage.contains("no complete training rows"), e.getMessage)
    // the IVF roll: only the returned frame's own checkpoint remains
    noLeftovers {
      val out = KnnForecaster.predictRecursiveIvf(p, "t", "1i", lags, k = 3, fh = 3, nCells = 4)
      assert(out.collect().nonEmpty)
      out.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }.foreach(_.unpersist(false))
    }
    val ivf = intercept[IllegalArgumentException](noLeftovers(KnnForecaster.predictRecursiveIvf(
      panel(Seq(1.0, 2.0)), "t", "1i", lags, k = 3, fh = 2, nCells = 4)))
    assert(ivf.getMessage.contains("knn recursive IVF has no complete training rows"),
      ivf.getMessage)
    val signal = (0 until 40).map(t => Seq(1.0, 5.0, 9.0, 5.0)(t % 4))
    noLeftovers(AutoForecast.autoKnn(panel(signal, signal.map(_ + 1)), "t", "1i", lags = 4,
      kGrid = Seq(1, 3), testSize = 2, nSplits = 2, stepSize = 2))
    val saved = KnnForecaster.maxExactEntities
    try {
      KnnForecaster.maxExactEntities = 1
      intercept[IllegalArgumentException](noLeftovers(
        KnnForecaster.predictRecursive(p, "t", "1i", lags, k = 3, fh = 2)))
      intercept[IllegalArgumentException](noLeftovers(AutoForecast.autoKnn(
        panel(signal, signal.map(_ + 1)), "t", "1i", lags = 4,
        kGrid = Seq(1, 3), testSize = 2, nSplits = 2, stepSize = 2)))
    } finally KnnForecaster.maxExactEntities = saved
  }
}

object KnnKernelSpec {
  /** The former `TopKAvgAgg.reduce`: a sorted interleaved buffer of at
    * most k (distance, label) pairs; a pair enters a full buffer when
    * it is below the k-th under IEEE `<` on (distance, label). */
  def kBuffer(b: Array[Double], d: Double, l: Double, k: Int): Array[Double] = {
    def lt(d1: Double, l1: Double, d2: Double, l2: Double) = d1 < d2 || (d1 == d2 && l1 < l2)
    def insert(b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < b.length / 2 && !lt(d, l, b(2 * i), b(2 * i + 1))) i += 1
      (b.take(2 * i) :+ d :+ l) ++ b.drop(2 * i)
    }
    if (b.length / 2 < k) insert(b)
    else if (lt(d, l, b(2 * k - 2), b(2 * k - 1))) insert(b.take(2 * (k - 1)))
    else b
  }
}
