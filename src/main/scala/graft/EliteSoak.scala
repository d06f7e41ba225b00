package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Scale soak for the FULL 35-member EliteDeep zoo (the reference's
  * 30-model elite default, elite.py:80-164) on a synthetic panel of
  * `nEntities` × `nPoints` rows — proves the member orchestration
  * (concurrent backtest/fit futures over one shared lag cache, rank
  * window, stack pivot) holds when the entity dimension is 100× the
  * sf0.1 events table, and records the wall split between the linear
  * (moment-collect) members and the knn (broadcast-scan) members.
  *
  * Usage: runMain graft.EliteSoak [nEntities] [nPoints] [strategy] [models]
  *   [exactCap] [knnCorpusFraction]
  * `models` = "all" | "linear" (closed-form/CD members) | "knn"
  * (broadcast-scan members) | comma-separated member names — lets the
  * soak attribute wall time to member families. `knnCorpusFraction`
  * < 1 runs the knn members recall-bounded (deterministic entity-hash
  * corpus gate — the mode that lets the full zoo complete at 1M
  * entities on one box; pair work scales ∝ fraction).
  */
object EliteSoak {
  def main(args: Array[String]): Unit = {
    val nEntities = if (args.length > 0) args(0).toInt else 50000
    val nPoints = if (args.length > 1) args(1).toInt else 100
    val strategy = if (args.length > 2) args(2) else "lasso"
    val models: Seq[String] = (if (args.length > 3) args(3) else "all") match {
      case "all" => EliteDeep.allModels
      case "linear" => EliteDeep.allModels.filterNot(_.startsWith("knn"))
      case "knn" => "naive" +: EliteDeep.allModels.filter(_.startsWith("knn"))
      case csv => csv.split(",").toSeq
    }
    val cpus = GraftSession.cpus
    val spark = GraftSession.build(cpus,
      // big-heap soak JVMs can pause for tens of seconds under full
      // GCs; don't let a pause masquerade as a dead executor (the
      // default 120 s heartbeat timeout killed the r11 1M run)
      "spark.network.timeout" -> "600s",
      "spark.executor.heartbeatInterval" -> "60s",
      // cached/checkpointed blocks written to disk are UNCOMPRESSED by
      // default — on the zoo's numeric frames lz4 is worth 3-5× of
      // scratch (the soak host's effective scratch is ~80 GB); pay the
      // codec CPU, the soak is disk-bound not CPU-bound
      "spark.rdd.compress" -> "true")
    spark.sparkContext.setLogLevel("WARN")
    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[elite-soak] $tag: ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    // deterministic mixed-process panel: trend + weekly seasonality +
    // entity-hashed phase noise — every member family has signal to fit
    val df = spark.range(nEntities.toLong * nPoints).select(
      (col("id") % nEntities).as("user_id"),
      expr("timestampadd(DAY, CAST(id / " + nEntities +
        " AS INT), timestamp'2020-01-01 00:00:00')").as("ts"),
      col("id").as("event_id"),
      (col("id") / nEntities).cast("double").as("t"))
      .withColumn("value",
        lit(10.0) + col("t") * (pmod(col("user_id"), lit(5)) * 0.1) +
          sin(col("t") * (2 * math.Pi / 7) + pmod(col("user_id"), lit(11))) * 3.0 +
          pmod(hash(col("user_id"), col("t").cast("long")), lit(100)).cast("double") / 50.0)
      .drop("t")
      .repartition(cpus, col("user_id"))
    val p = graft.core.Panel(df, Seq("user_id"), Seq("ts", "event_id"), "value")
    val rows = time("materialize panel")(p.df.cache().count())
    println(s"[elite-soak] $nEntities entities x $nPoints points = $rows rows")
    // the zoo's knn members auto-route: exact broadcast scan under
    // KnnForecaster.maxExactEntities, IVF cell index past it. An
    // optional 5th arg lowers the cap so the IVF path can be A/B'd
    // against the exact path at the SAME entity count.
    if (args.length > 4) {
      KnnForecaster.maxExactEntities = args(4).toInt
      println(s"[elite-soak] exact-KNN cap overridden to ${args(4).toInt} " +
        s"(knn members route ${if (nEntities > args(4).toInt) "IVF" else "exact"})")
    }
    val knnFraction = if (args.length > 5) args(5).toDouble else 1.0
    if (knnFraction < 1.0)
      println(s"[elite-soak] knn members recall-bounded at corpusFraction=$knnFraction")
    val out = time(s"EliteDeep.run(${models.length} members, strategy=$strategy)") {
      EliteDeep.run(p, "ts", "1d", fh = 3, topK = math.min(12, models.length),
        strategy = strategy, testSize = 5, nSplits = 2, cdSweeps = 8,
        models = models, knnCorpusFraction = knnFraction)
    }
    val n = time("materialize forecasts")(out.rdd.count())
    println(s"[elite-soak] forecast rows: $n (expect ${nEntities * 3L})")
    spark.stop()
  }
}
