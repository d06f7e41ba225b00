package perfbench

import graft.BenchWarmup
import graft.core.Tables
import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit, max}

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** One timed operation as the client saw it. */
final case class OpRun(name: String, pass: Int, buildS: Double, materializeS: Double,
                       digest: String, status: String, layers: Map[String, Double]) {
  def wallS: Double = buildS + materializeS
  def ok: Boolean = status == "ok"
}

final case class PassRun(pass: Int, traced: Boolean, wallS: Double, cpuS: Double,
                         gcS: Double, stealS: Double, load1: Double, ops: Seq[OpRun])

/** The benchmark client: one closed-loop thread in one JVM, one session.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --data DIR --work DIR --out FILE [--expected FILE]
  *                  [--mode run|pin|dump] [--check-dir DIR]
  *
  * `run` writes a result file with the run stamp, the end-to-end figures
  * (untraced passes) and, with --trace 1, the per-layer figures of the
  * traced passes; `pin` writes the expected digests of a fixed-op
  * workload from its warm pass; `dump` writes the warm pass's frames in
  * the Verify layout (one parquet directory per op plus
  * oracle_sql.json) for tools/check.py. */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String, expected: Option[String],
                        mode: String, checkDir: Option[String])

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("data"), kv("work"), kv("out"), kv.get("expected"),
      kv.getOrElse("mode", "run"), kv.get("check-dir"))
  }

  /** The graded bench configuration (graft.Bench), with local dirs kept
    * inside the benchmark's work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.codegen.maxFields", "1024")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Keys shifted per replica by ScaleGen's disjoint-replica rule
    * (offset = max + 1), so each replica is a disjoint copy. */
  val replicaKeys: Map[String, Seq[String]] =
    Map("events" -> Seq("event_id", "user_id"), "embeddings" -> Seq("vec_id"))

  def replicate(spark: SparkSession, src: String, dst: String, tables: Seq[String],
                factor: Int): String = {
    if (factor == 1) return src
    tables.foreach { name =>
      val df = spark.read.parquet(s"$src/$name.parquet")
      val keys = replicaKeys(name)
      val offs = keys.zip(df.agg(max(col(keys.head)), keys.tail.map(k => max(col(k))): _*)
        .collect()(0).toSeq.map(_.asInstanceOf[Number].longValue() + 1L)).toMap
      (0 until factor).map { i =>
        keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * offs(k))))
      }.reduce(_ unionAll _).write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }
    dst
  }

  private def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Total compile ms recorded so far. The histogram keeps every sample
    * up to its reservoir size (1028); beyond that the mean stands in. */
  private def compileMsTotal: Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    if (h.getCount <= snap.size) snap.getValues.sum.toDouble else snap.getMean * h.getCount
  }

  private def cleanup(spark: SparkSession): Int = {
    val blocks = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    blocks
  }

  final class Client(spark: SparkSession, val dir: String, cores: Int,
                     expected: Option[Map[String, String]]) {
    private var nextSpanId = 0L
    private def newId(): Long = { nextSpanId += 1; nextSpanId }
    val spans = scala.collection.mutable.ArrayBuffer[Span]()

    def runOp(op: Op, pass: Int, rec: Option[Recorder]): OpRun = {
      rec.foreach { r => ListenerBusAccess.drain(spark.sparkContext); r.take() }
      val (c0, m0) = if (rec.isDefined) (compileCount, compileMsTotal) else (0L, 0.0)
      val t0 = Host.nowMs
      var t1 = t0
      var df: DataFrame = null
      var act: DataFrame = null
      val (digest, error) =
        try {
          df = op.build(spark, dir)
          t1 = Host.nowMs
          act = Digest.action(df)
          (Digest.value(act), None)
        } catch { case e: Throwable => ("", Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))) }
      val t2 = Host.nowMs
      val (c2, m2) = if (rec.isDefined) (compileCount, compileMsTotal) else (0L, 0.0)
      if (error.isDefined && t1 == t0) t1 = t2
      val missing = if (error.isEmpty) Digest.missingColumns(df, act) else Nil
      val status = error.map("error: " + _)
        .orElse(if (missing.nonEmpty) Some(s"guard: action no longer computes ${missing.mkString(",")}") else None)
        .orElse(expected.map(_.get(op.name) match {
          case None => "unpinned: no expected digest"
          case Some(want) if want != digest => s"wrong: digest $digest, expected $want"
          case _ => "ok"
        })).getOrElse("ok")
      val blocks = cleanup(spark)
      val layers = rec.map { r =>
        ListenerBusAccess.drain(spark.sparkContext)
        val analysisMs = Option(df).flatMap(_.queryExecution.tracker.phases.get("analysis"))
          .map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
        val (l, s) = Layers.attribute(newId(), op.name,
          OpWindow(t0, t1, t2, c2 - c0, m2 - m0, analysisMs, blocks), r.take(), cores, () => newId())
        spans ++= s
        l
      }.getOrElse(Map.empty)
      if (status != "ok") System.err.println(s"[perfbench] ${op.name} pass $pass: $status")
      OpRun(op.name, pass, (t1 - t0) / 1000.0, (t2 - t1) / 1000.0, digest, status, layers)
    }

    def runPass(ops: Seq[Op], pass: Int, traced: Boolean): PassRun = {
      val rec = if (traced) Some(new Recorder) else None
      rec.foreach { r =>
        spark.sparkContext.addSparkListener(r)
        spark.listenerManager.register(r)
      }
      val (cpu0, gc0, st0, w0) = (Host.processCpuS, Host.gcS, Host.stealS, Host.nowMs)
      val runs = ops.map(runOp(_, pass, rec))
      val pr = PassRun(pass, traced, (Host.nowMs - w0) / 1000.0, Host.processCpuS - cpu0,
        Host.gcS - gc0, Host.stealS - st0, Host.load1, runs)
      rec.foreach { r =>
        spark.sparkContext.removeSparkListener(r)
        spark.listenerManager.unregister(r)
      }
      pr
    }
  }

  /** Per-layer figures of one traced pass: op figures summed, utilization
    * recomputed from the sums, plus the pass's JVM and host counters. */
  def passLayers(p: PassRun, cores: Int): Map[String, Double] = {
    val sum = p.ops.flatMap(_.layers.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    val busy = sum.getOrElse("scheduler.busy_s", 0.0)
    sum ++ Map(
      "executor.util" -> (if (busy > 0) sum("executor.task_s") / (busy * cores) else 0.0),
      "jvm.gc_s" -> p.gcS, "host.steal_s" -> p.stealS, "host.load1" -> p.load1)
  }

  /** Writes each op's frame in the Verify layout (parquet per op plus
    * oracle_sql.json) and checks that the frame read back from parquet
    * has the digest the timed action returned. Returns failures. */
  def dump(spark: SparkSession, dataDir: String, ops: Seq[Op], digests: Map[String, String],
           out: String): Seq[String] = {
    Files.createDirectories(Paths.get(out))
    val failures = ops.flatMap { op =>
      val path = s"$out/${dirName(op.name)}"
      try {
        op.build(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(path)
        val back = Digest.value(Digest.action(spark.read.parquet(path)))
        digests.get(op.name).filter(_ != back).map(d => s"${op.name}: dumped digest $back, timed $d")
      } catch { case e: Throwable => Some(s"${op.name}: dump failed: ${e.getMessage}".take(300)) }
    }
    val oracle = ListMap(ops.flatMap(op => op.oracle.map(dirName(op.name) -> _)): _*)
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json(oracle))
    Files.writeString(Paths.get(s"$out/manifest.json"), Json(ListMap(ops.map(op => dirName(op.name) -> op.name): _*)))
    failures
  }

  /** Per-op medians on stderr, slowest first, for sizing a workload. */
  def report(runs: Seq[OpRun]): Unit =
    runs.groupBy(_.name).toSeq.map { case (n, rs) =>
      (n, Stats.median(rs.map(_.buildS)), Stats.median(rs.map(_.materializeS)), rs.size)
    }.sortBy(r => -(r._2 + r._3)).foreach { case (n, b, m, k) =>
      System.err.println(f"[perfbench] op $n%-48s build $b%7.3f s  materialize $m%7.3f s  (n=$k)")
    }

  /** Verify-layout directory name: parameter points get a hashed suffix. */
  def dirName(opName: String): String =
    if (opName.matches("[A-Za-z0-9_]+")) opName
    else opName.takeWhile(_ != '{') + "_" + f"${opName.hashCode}%08x"

  def readExpected(path: String): Map[String, String] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File(path), classOf[java.util.Map[String, String]])
    m.asScala.toMap
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val w = Workloads.all(conf.workload)
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val stampStart = ListMap("steal_s" -> Host.stealS, "load1" -> Host.load1)
    val g0 = Host.nowMs
    val (gateWait, gateLoad) = BenchWarmup.preflightLoadGate()
    val gateMs = Host.nowMs - g0
    val expected = if (w.pinned && conf.mode != "pin") Some(conf.expected.map(readExpected).getOrElse(Map.empty)) else None

    // set-up, repeated: session, replica, table handles, warm pass
    var spark: SparkSession = null
    var client: Client = null
    var warm: PassRun = null
    val reps = if (conf.mode == "run") SetupReps else 1
    val setupS = (1 to reps).map { rep =>
      val t0 = if (rep == 1) jvmStartMs + gateMs else Host.nowMs
      if (spark != null) spark.stop()
      spark = session(cores, conf.work)
      val dir = replicate(spark, conf.data, s"${conf.work}/replica-$rep", w.tables, w.replicas)
      w.tables.foreach(Tables(spark, dir, _))
      client = new Client(spark, dir, cores, expected)
      warm = client.runPass(w.pass(conf.seed, -1), -1, traced = false)
      (Host.nowMs - t0) / 1000.0
    }

    System.err.println(f"[perfbench] set-up ${setupS.mkString(", ")} s; warm pass ${warm.wallS}%.3f s")
    report(warm.ops)
    conf.mode match {
      case "pin" =>
        val bad = warm.ops.filter(o => o.status != "ok")
        bad.foreach(o => System.err.println(s"[perfbench] cannot pin ${o.name}: ${o.status}"))
        Files.writeString(Paths.get(conf.out),
          Json(ListMap(warm.ops.sortBy(_.name).map(o => o.name -> o.digest): _*)) + "\n")
        spark.stop()
        sys.exit(if (bad.isEmpty) 0 else 1)
      case "dump" =>
        val fails = warm.ops.filter(!_.ok).map(o => s"${o.name}: ${o.status}") ++
          dump(spark, client.dir, w.pass(conf.seed, -1),
            warm.ops.filter(_.ok).map(o => o.name -> o.digest).toMap, conf.out)
        fails.foreach(f => System.err.println(s"[perfbench] $f"))
        spark.stop()
        sys.exit(if (fails.isEmpty) 0 else 1)
      case _ =>
    }

    // timed region: whole passes until --seconds have elapsed, and never
    // fewer than two, so a slow host does not drop a run to one (still
    // warming) pass; a trace run alternates untraced and traced passes
    val passes = scala.collection.mutable.ArrayBuffer[PassRun]()
    val tStart = Host.nowMs
    var p = 0
    while ((Host.nowMs - tStart) / 1000.0 < conf.seconds || p < 2) {
      passes += client.runPass(w.pass(conf.seed, p), p, traced = conf.trace && p % 2 == 1)
      p += 1
    }
    val timedS = (Host.nowMs - tStart) / 1000.0
    val untraced = passes.filter(!_.traced).toSeq
    val traced = passes.filter(_.traced).toSeq
    val allOps = (warm +: passes.toSeq).flatMap(_.ops)

    // the same parameter point must give the same digest wherever it recurs
    val inconsistent = allOps.filter(_.ok).groupBy(_.name).collect {
      case (n, rs) if rs.map(_.digest).distinct.size > 1 => n
    }.toSeq.sorted
    inconsistent.foreach(n => System.err.println(s"[perfbench] $n: digest differs between passes"))

    // param_sweep: every drawn point goes to a Verify-layout dump for the
    // oracle check, outside the timed region
    val dumpFailures = conf.checkDir.toSeq.flatMap { dir =>
      val points = (warm +: passes.toSeq).flatMap(pr => w.pass(conf.seed, pr.pass))
        .groupBy(_.name).map(_._2.head).toSeq.sortBy(_.name)
      dump(spark, client.dir, points, allOps.filter(_.ok).map(o => o.name -> o.digest).toMap, dir)
    }
    dumpFailures.foreach(f => System.err.println(s"[perfbench] $f"))

    report(passes.toSeq.flatMap(_.ops))
    val opLat = untraced.flatMap(_.ops).map(_.wallS)
    val (tailP, tailV, tailN) = Stats.tail(opLat)
    val e2e = ListMap(
      "setup_s" -> Stats.median(setupS),
      "pass_s" -> Stats.median(untraced.map(_.wallS)),
      "cpu_s" -> Stats.median(untraced.map(_.cpuS)),
      "op_p50_s" -> Stats.median(opLat),
      "op_tail_s" -> tailV,
      "rss_peak_mb" -> Host.rssPeakMb)
    val layer: Map[String, Double] =
      if (traced.isEmpty) Map.empty
      else {
        val per = traced.map(passLayers(_, cores))
        per.head.keys.map(k => k -> Stats.median(per.map(_(k)))).toMap ++ Map(
          "trace.pass_s" -> Stats.median(traced.map(_.wallS)),
          "trace.overhead_s" -> (Stats.median(traced.map(_.wallS)) - Stats.median(untraced.map(_.wallS))))
      }
    val failedOps = allOps.count(!_.ok) + inconsistent.size + dumpFailures.size
    val stamp = ListMap(
      "workload" -> w.name, "seed" -> conf.seed, "trace" -> conf.trace, "nproc" -> cores,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> spark.version,
      "spark_conf" -> ListMap(spark.conf.getAll.toSeq.sortBy(_._1): _*),
      "host_start" -> stampStart,
      "host_end" -> ListMap("steal_s" -> Host.stealS, "load1" -> Host.load1),
      "preflight" -> ListMap("wait_s" -> gateMs / 1000.0, "stamped_wait_s" -> gateWait, "load1" -> gateLoad),
      "setup_reps_s" -> setupS, "timed_s" -> timedS, "passes" -> untraced.size,
      "pass_walls_s" -> passes.map(_.wallS), "pass_cpu_s" -> passes.map(_.cpuS),
      "traced_passes" -> traced.size, "ops_per_pass" -> warm.ops.size,
      "op_samples" -> opLat.size, "op_tail" -> ListMap("percentile" -> tailP, "beyond" -> tailN))
    val perOp = allOps.map(o => ListMap("op" -> o.name, "pass" -> o.pass, "build_s" -> o.buildS,
      "materialize_s" -> o.materializeS, "digest" -> o.digest, "status" -> o.status) ++
      ListMap(o.layers.toSeq.sortBy(_._1): _*))
    val result = ListMap(
      "stamp" -> stamp,
      "attempted" -> (allOps.size + dumpFailures.size),
      "failed" -> failedOps,
      "failures" -> (allOps.filter(!_.ok).map(o => s"${o.name}: ${o.status}") ++ inconsistent ++ dumpFailures),
      "end_to_end" -> e2e,
      "per_layer" -> ListMap(layer.toSeq.sortBy(_._1): _*),
      "ops" -> perOp)
    Files.writeString(Paths.get(conf.out), Json(result) + "\n")
    if (traced.nonEmpty) {
      val self = Spans.selfTimes(client.spans.toSeq)
      Files.writeString(Paths.get(conf.out.stripSuffix(".json") + ".spans.json"), Json(client.spans.map(s =>
        ListMap("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self(s.id)))) + "\n")
    }
    spark.stop()
  }
}
