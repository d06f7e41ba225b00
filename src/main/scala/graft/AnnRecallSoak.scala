package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measured ANN recall curves (r13 verdict #5): recall@k of the IVF
  * (nCells × nProbe, sampled vs Lloyd-refined centroids) and PQ (ADC)
  * paths against exact brute-force cosine, on a ≥1M-vector clustered
  * synthetic corpus — the reference's Lance IVF_PQ comparison point
  * (forecasting/lance.py:40-90). Uniform random vectors would make
  * every cell equidistant and recall meaningless; the corpus here is
  * a 1024-cluster mixture (85% cluster center + 15% per-vector noise,
  * both deterministic xxhash64 streams) so the recall/probe trade is
  * the one a real embedding table shows.
  *
  *   SPARK_DRIVER_MEM=16g sbt "runMain graft.AnnRecallSoak [nVecs]"
  */
object AnnRecallSoak {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toInt).getOrElse(1000000)
    val mode = if (args.length > 1) args(1) else "all" // all | pq
    val nQ = 100
    val k = 10
    val nGroups = 1024
    val spark = GraftSession.build(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")

    // group = id % nGroups → the first nQ query ids land in nQ
    // distinct clusters; center/noise are independent hash streams
    val vecs = spark.range(nVecs).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), i => (
        (pmod(xxhash64(pmod(col("id"), lit(nGroups)) * 1315423911L, i), lit(997)).cast("double") / 997) * 0.85 +
          (pmod(xxhash64(col("id"), i, lit(7L)), lit(997)).cast("double") / 997) * 0.15
        ).cast("float")).as("embedding"))
      .repartition(64).cache()
    println(s"[ann] corpus=${vecs.count()} dim=64 groups=$nGroups queries=$nQ k=$k")
    val queries = vecs.filter(col("vec_id") < nQ).cache()
    queries.count()

    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[ann] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
    }

    // ground truth: brute-force cosine top-k, cached as (q_id, n_id)
    val exact = timed("exact brute cosine") {
      val e = Similarity.cosineTopK(queries, vecs, "vec_id", "embedding", k)
        .select(col("q_id"), col("n_id")).cache()
      e.count(); e
    }

    def recall(approx: DataFrame, label: String): Unit = {
      val hit = exact.join(approx.select(col("q_id"), col("n_id")), Seq("q_id", "n_id"))
        .count()
      println(f"[ann] $label recall@$k = ${hit.toDouble / (nQ.toLong * k)}%.4f")
    }

    // IVF: nCells sweep at nProbe=1, probe sweep at nCells=1024
    if (mode == "all") {
    val cellGrid = Seq(256, 1024, 4096)
    val centsByCells = cellGrid.map { c =>
      c -> Similarity.ivfCentroids(vecs, "vec_id", "embedding", c)
    }.toMap
    for (c <- cellGrid) {
      val r = timed(s"ivf nCells=$c nProbe=1") {
        val d = Similarity.ivfTopKWith(queries, vecs, "vec_id", "embedding", k,
          centsByCells(c), nProbe = 1).cache()
        d.count(); d
      }
      recall(r, s"ivf nCells=$c nProbe=1"); r.unpersist()
    }
    for (p <- Seq(2, 4, 8)) {
      val r = timed(s"ivf nCells=1024 nProbe=$p") {
        val d = Similarity.ivfTopKWith(queries, vecs, "vec_id", "embedding", k,
          centsByCells(1024), nProbe = p).cache()
        d.count(); d
      }
      recall(r, s"ivf nCells=1024 nProbe=$p"); r.unpersist()
    }
    // Lloyd-refined centroids (spherical, 2 iterations) — the
    // recall-over-replayability option
    val refined = timed("kmeansRefine(1024 cells, 2 iters)") {
      Similarity.kmeansRefine(vecs, "embedding", centsByCells(1024), iters = 2)
    }
    for (p <- Seq(1, 4)) {
      val r = timed(s"ivf refined nProbe=$p") {
        val d = Similarity.ivfTopKWith(queries, vecs, "vec_id", "embedding", k,
          refined, nProbe = p).cache()
        d.count(); d
      }
      recall(r, s"ivf refined nCells=1024 nProbe=$p"); r.unpersist()
    }
    }
    // PQ/ADC at the registry shape (m=4, 8 centroids — 64× narrower
    // codes) and a higher-fidelity codebook
    val pqShapes =
      if (mode == "pq") Seq(("refined", 4, 64, 2), ("refined", 8, 64, 2))
      else Seq(("sampled", 4, 8, 0), ("sampled", 4, 64, 0), ("sampled", 8, 64, 0))
    for ((tag, m, kc, iters) <- pqShapes) {
      val cb = timed(s"pq codebooks $tag m=$m kCent=$kc iters=$iters") {
        if (iters > 0) Similarity.pqCodebooksRefined(vecs, "vec_id", "embedding", m, kc, iters)
        else Similarity.pqCodebooks(vecs, "vec_id", "embedding", m, kc)
      }
      val r = timed(s"pq $tag m=$m kCent=$kc") {
        val d = Similarity.pqTopKWith(queries, vecs, "vec_id", "embedding", k, cb).cache()
        d.count(); d
      }
      recall(r, s"pq $tag m=$m kCent=$kc"); r.unpersist()
    }
    // PQ as a SHORTLIST + exact re-rank (the 100-TB serving shape):
    // ADC top-S candidate ids, then exact cosine only on the S raw
    // vectors per query — the corpus-wide scan stays 64× narrower,
    // the fine ranking is exact
    if (mode == "pq") for ((m, kc, short) <- Seq((4, 64, 200), (8, 64, 200))) {
      val cb = Similarity.pqCodebooksRefined(vecs, "vec_id", "embedding", m, kc, 2)
      val r = timed(s"pq m=$m kCent=$kc shortlist=$short + exact rerank") {
        val shortlist = Similarity.pqTopKWith(queries, vecs, "vec_id", "embedding", short, cb)
          .select(col("q_id"), col("n_id"))
        val qv = queries.select(col("vec_id").as("q_id"), col("embedding").as("__qv"))
        val nv = vecs.select(col("vec_id").as("n_id"), col("embedding").as("__cv"))
        val d = shortlist.join(broadcast(qv), "q_id").join(nv, "n_id")
          .withColumn("sim", Similarity.cosine(col("__qv"), col("__cv")))
          .withColumn("rnk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
              .orderBy(col("sim").desc, col("n_id"))))
          .filter(col("rnk") <= k)
          .select("q_id", "n_id").cache()
        d.count(); d
      }
      recall(r, s"pq m=$m kCent=$kc shortlist=$short rerank"); r.unpersist()
    }
    spark.stop()
  }
}
