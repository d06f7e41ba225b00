package graft

import graft.streaming.StreamingPanel
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Sustained-throughput soak for the heaviest stateful streaming gates
  * (r13 verdict #6): StreamingSpec proves stream==batch semantics;
  * this main measures the gates under sustained load — events/s,
  * state rows + bytes over time, trigger-latency percentiles — and
  * checks the state stays FLAT (the bounded-state design claim) over
  * a ≥30-minute run.
  *
  * Sources are the built-in `rate` stream (no driver-side buffering,
  * steady row production) mapped to each gate's input shape:
  *  - weighted-quantile: entity = value % E → bounded ≤ ~2δ centroids
  *    per entity; state must plateau at E entities and stay there.
  *  - MinHash-LSH near-dup candidates: synthetic 12-word docs from a
  *    bounded vocab → bucket state is O(maxBucket) per occupied
  *    bucket; the bucket count must plateau as the key space fills.
  *  - SemDedup gate: stateless per-row filter against a broadcast
  *    reference — throughput only.
  *
  *   SPARK_DRIVER_MEM=12g sbt "runMain graft.StreamingSoak [wqSec] [lshSec] [semSec]"
  */
object StreamingSoak {
  def main(args: Array[String]): Unit = {
    val wqSec = args.headOption.map(_.toInt).getOrElse(1500)
    val lshSec = if (args.length > 1) args(1).toInt else 600
    val semSec = if (args.length > 2) args(2).toInt else 120
    val lshTtlMs = if (args.length > 3) args(3).toLong else 0L
    val spark = GraftSession.build(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    final case class Probe(label: String) {
      val durs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var rows = 0L
      var lastStateRows = -1L
      var lastStateMem = -1L
      val stateTrace = scala.collection.mutable.ArrayBuffer.empty[(Double, Long, Long)]
      def pct(p: Double): Double = {
        if (durs.isEmpty) return Double.NaN
        val s = durs.sorted
        s(math.min(s.length - 1, (p * s.length).toInt))
      }
    }

    def soak(label: String, seconds: Int, start: () => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val probe = Probe(label)
      val q = start()
      val t0 = System.nanoTime()
      var lastBatch = -1L
      var nextLog = 30.0
      while ((System.nanoTime() - t0) / 1e9 < seconds) {
        Thread.sleep(2000)
        val p = q.lastProgress
        if (p != null && p.batchId != lastBatch) {
          lastBatch = p.batchId
          val el = (System.nanoTime() - t0) / 1e9
          val dur = Option(p.durationMs.get("triggerExecution")).map(_.toDouble / 1000).getOrElse(0.0)
          probe.durs += dur
          probe.rows += p.numInputRows
          if (p.stateOperators.nonEmpty) {
            probe.lastStateRows = p.stateOperators.map(_.numRowsTotal).sum
            probe.lastStateMem = p.stateOperators.map(_.memoryUsedBytes).sum
          }
          probe.stateTrace += ((el, probe.lastStateRows, probe.lastStateMem))
          if (el >= nextLog) {
            nextLog += 30.0
            println(f"[soak] $label t=$el%.0fs rows=${probe.rows} " +
              f"rate=${probe.rows / el}%.0f/s stateRows=${probe.lastStateRows} " +
              f"stateMB=${probe.lastStateMem / 1e6}%.1f lastTrigger=$dur%.1fs")
          }
        }
      }
      q.stop()
      val el = (System.nanoTime() - t0) / 1e9
      // flatness: state rows in the final quarter vs the second quarter
      val trace = probe.stateTrace.filter(_._2 >= 0)
      val flat =
        if (trace.size >= 8) {
          val q2 = trace.slice(trace.size / 4, trace.size / 2).map(_._2.toDouble)
          val q4 = trace.slice(3 * trace.size / 4, trace.size).map(_._2.toDouble)
          val (m2, m4) = (q2.sum / q2.size, q4.sum / q4.size)
          f"stateRows q2-mean=$m2%.0f q4-mean=$m4%.0f ratio=${m4 / math.max(m2, 1.0)}%.3f"
        } else "trace too short for flatness check"
      println(f"[soak] $label DONE: ${probe.rows} rows in $el%.0f s " +
        f"(${probe.rows / el}%.0f events/s), triggers=${probe.durs.size}, " +
        f"trigger p50=${probe.pct(0.5)}%.1fs p95=${probe.pct(0.95)}%.1fs, " +
        f"final stateRows=${probe.lastStateRows} stateMB=${probe.lastStateMem / 1e6}%.1f; $flat")
    }

    // ── 1. streaming weighted quantile: 10k entities, δ=2000 ──
    if (wqSec > 0) soak("weighted-quantile", wqSec, () => {
      val nEnt = 10000
      val in = spark.readStream.format("rate")
        .option("rowsPerSecond", "30000").option("numPartitions", "8").load()
        .select(
          pmod(col("value"), lit(nEnt.toLong)).as("entity"),
          col("timestamp").as("eventTime"),
          (pmod(xxhash64(col("value")), lit(100000)).cast("double") / 100).as("value"),
          (pmod(xxhash64(col("value"), lit(7)), lit(9)).cast("double") + 1).as("weight"))
        .as[StreamingPanel.WeightedIn]
      StreamingPanel.streamingWeightedQuantile(in, alpha = 0.5, delta = 2000)
        .writeStream.format("noop").outputMode("append")
        .trigger(Trigger.ProcessingTime("5 seconds"))
        .option("checkpointLocation", s"/tmp/soak_wq_${System.nanoTime()}")
        .start()
    })

    // ── 2. streaming MinHash-LSH near-dup candidates ──
    if (lshSec > 0) soak(s"lsh-neardup ttl=${lshTtlMs}ms", lshSec, () => {
      // 12-word docs over a 2000-word vocab; ~1/50 docs reuse one of
      // 40 boilerplate templates so buckets genuinely collide
      val vocabWord = (c: org.apache.spark.sql.Column) =>
        concat(lit("w"), pmod(c, lit(2000)).cast("string"))
      val words = (0 until 12).map(i =>
        vocabWord(xxhash64(col("value"), lit(i))))
      val tmplWords = (0 until 12).map(i =>
        vocabWord(xxhash64(pmod(col("value"), lit(40)), lit(i), lit(99))))
      val in = spark.readStream.format("rate")
        .option("rowsPerSecond", "3000").option("numPartitions", "8").load()
        .select(col("value").as("docId"),
          when(pmod(col("value"), lit(50)) === 0, concat_ws(" ", tmplWords: _*))
            .otherwise(concat_ws(" ", words: _*)).as("text"))
        .as[StreamingPanel.DocIn]
      StreamingPanel.streamingNearDupCandidates(in, shingleSize = 3,
        numHashes = 32, rowsPerBand = 4, maxBucket = 64, stateTtlMs = lshTtlMs)
        .writeStream.format("noop").outputMode("append")
        .trigger(Trigger.ProcessingTime("5 seconds"))
        .option("checkpointLocation", s"/tmp/soak_lsh_${System.nanoTime()}")
        .start()
    })

    // ── 3. SemDedup gate (stateless filter; throughput only) ──
    if (semSec > 0) soak("semdedup-gate", semSec, () => {
      val ref = spark.range(20000).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)), i =>
          (pmod(xxhash64(pmod(col("id"), lit(256)) * 31L, i), lit(997)).cast("double") / 997)
            .cast("float")).as("embedding"))
      val in = spark.readStream.format("rate")
        .option("rowsPerSecond", "20000").option("numPartitions", "8").load()
        .select(col("value").as("vec_id"),
          transform(sequence(lit(1), lit(64)), i =>
            (pmod(xxhash64(pmod(col("value"), lit(256)) * 31L, i, lit(5)), lit(997))
              .cast("double") / 997).cast("float")).as("embedding"))
      StreamingPanel.streamingSemDedupGate(in, ref, "vec_id", "embedding",
        nClusters = 64, tau = 0.99)
        .writeStream.format("noop").outputMode("append")
        .trigger(Trigger.ProcessingTime("5 seconds"))
        .option("checkpointLocation", s"/tmp/soak_sem_${System.nanoTime()}")
        .start()
    })

    spark.stop()
  }
}
