package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    // pre-flight: refuse to start timing on a loaded host (r10/r11/r12
    // graded benches were all inflated by builder-side load — prevent
    // in code, not discipline). The wait is stamped into the JSON.
    val (preflightWait, loadAtGate) = BenchWarmup.preflightLoadGate()
    val spark = GraftSession.build(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: tables + every heavy family's codegen shapes
    BenchWarmup.run(spark, sfDir)
    // per-query telemetry (VERDICT r11 "What's wrong" #2): the graded
    // bench has repeatedly been inflated by HOST contention with
    // nothing in the artifact to prove it. JVM GC-time delta + the
    // 1-min host load average per query make a contaminated read
    // attributable from the bench JSON alone: a loaded host shows
    // load ≫ cpus and/or GC-dominated spikes on trivial queries.
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMillis: Long = {
      var s = 0L
      gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
      s
    }
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = osBean.getSystemLoadAverage
    // hypervisor STEAL time per query (r14): load average only sees
    // guest-visible runnable threads, but this box's timings are also
    // inflated by NEIGHBOR VMs (observed 10-16% steal while the guest
    // sat near-idle — wall reps swinging 2-5x on identical code).
    // /proc/stat's cpu steal ticks make that attributable per query:
    // a spike with near-zero gc and high st is the hypervisor, not a
    // plan regression. Seconds are host-wide (sum over all vCPUs).
    def stealSec: Double = try {
      // Files.readAllLines closes the fd (ADVICE r14: the Source-based
      // read leaked one fd per call — twice per query — until GC)
      import scala.jdk.CollectionConverters._
      val cpuLine = java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = cpuLine.trim.split("\\s+")
      // fields: cpu user nice system idle iowait irq softirq steal ...
      if (f.length > 8) f(8).toDouble / 100.0 else Double.NaN
    } catch { case _: Throwable => Double.NaN }
    val stealStart = stealSec
    // name-sorted: Map iteration order shifts as the registry grows,
    // which reorders warmup/JIT effects between rounds — a fixed order
    // keeps per-query timings comparable round-to-round
    var nFailed = 0
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val g0 = gcMillis
      val st0 = stealSec
      val t0 = System.nanoTime()
      // a failed query must be LOUD: in round 4 a schema change made
      // 164 events-based queries throw at plan time — each "ran" in
      // ~50 ms and the total silently dropped by half
      try { fn(spark, sfDir).count() } catch { case e: Throwable =>
        nFailed += 1
        System.err.println(s"[bench] $name FAILED: ${e.getMessage.take(200)}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val gcDt = (gcMillis - g0) / 1000.0
      val stDt = stealSec - st0
      val load = osBean.getSystemLoadAverage
      // drop persists a query left behind (several pipelines persist a
      // shared intermediate and cannot unpersist before returning):
      // 178 queries of leaked cache blocks otherwise squeeze the
      // storage pool and perturb later timings
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      // ...and localCheckpoint blocks: clearCache only covers catalog-
      // cached plans, while the elite family materializes member frames
      // via localCheckpoint (RDD-persisted, lineage-truncated). Those
      // blocks are only freed when the ContextCleaner GCs the RDD — in
      // a 245-query session they accumulate and squeeze the unified
      // memory pool for every later query (r7: fc_ensemble 11.6 s vs
      // 1.9 budget, alphabetically after the six elite queries). The
      // result has been counted; the data is never re-read.
      try spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      catch { case _: Throwable => () }
      (name, dt, gcDt, load, stDt)
    }
    val timings = results.map(r => (r._1, r._2))
    val total = timings.map(_._2).sum
    val gcTotal = results.map(_._3).sum
    val stealTotal = stealSec - stealStart
    // regression guard: compare against the frozen per-query budgets
    // (tools/bench_budget.json). Any query beyond 2x its EFFECTIVE
    // budget gets a stderr warning — catches the next fc_elite-style
    // silent drift locally before the driver grades it. Warnings only
    // (host timing noise is +-30% on small queries); sub-second
    // budgets are floored at 0.5 s so scheduler jitter on trivial
    // queries stops flagging (r12: f_first_location_of_minimum tripped
    // 2.16x on a 0.44 s read against a 0.20 s budget).
    try {
      val budgetPath = java.nio.file.Paths.get("tools/bench_budget.json")
      if (java.nio.file.Files.exists(budgetPath)) {
        val txt = new String(java.nio.file.Files.readAllBytes(budgetPath), "UTF-8")
        val qpart = txt.substring(txt.indexOf("\"queries\""))
        val budget = "\"([A-Za-z0-9_]+)\":\\s*([0-9.]+)".r.findAllMatchIn(qpart)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        val over = timings.filter { case (name, dt) =>
          budget.get(name).exists(b => dt > 2.0 * math.max(b, 0.5))
        }
        over.foreach { case (name, dt) =>
          System.err.println(
            f"[bench-budget] $name: $dt%.2f s > 2x budget ${math.max(budget(name), 0.5)}%.2f s")
        }
        if (over.nonEmpty)
          System.err.println(s"[bench-budget] ${over.size} queries over 2x budget")
      }
    } catch { case e: Throwable =>
      // the guard must never fail the bench, but a broken guard that
      // says nothing is a no-op net — surface the symptom
      System.err.println(s"[bench-budget] guard failed: ${e.getMessage}")
    }
    // full per-query timings to a side file; STDOUT gets one COMPACT
    // line (top-20 slowest only) so the driver's captured output tail
    // always contains a complete, parseable JSON object — round 1's
    // 157-entry map overflowed the tail and the driver recorded
    // "parsed": null
    def fmt(kvs: Iterable[(String, Double)]) = kvs
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    // load_avg_gate = 1-min load BEFORE the session/warmup (the host-
    // cleanliness signal); load_avg_start is post-warmup and includes
    // the bench's own warmup work
    // NaN gate = MXBean had no load reading (unsupported platform) —
    // serialize as null so the artifact can't be misread as near-idle
    val gateStr = if (loadAtGate.isNaN) "null" else f"$loadAtGate%.2f"
    val stealStr = if (stealTotal.isNaN) "null" else f"$stealTotal%.1f"
    val scalars = s""""gc_sec_total":${f"$gcTotal%.3f"},"steal_sec_total":$stealStr,"load_avg_gate":$gateStr,"load_avg_start":${f"$loadStart%.2f"},"load_avg_end":${f"${osBean.getSystemLoadAverage}%.2f"},"preflight_wait_sec":${f"$preflightWait%.0f"},"cpus":"$cpus""""
    try {
      // full map carries the telemetry: per-query seconds, GC seconds
      // inside the query, and the host 1-min load average at query end
      val fullQ = results
        .map { case (k, s, gc, ld, st) =>
          val stS = if (st.isNaN) "null" else f"$st%.2f"
          "\"" + k + f"""\":{"s":$s%.3f,"gc":$gc%.3f,"load":$ld%.2f,"st":$stS}""" }
        .mkString("{", ",", "}")
      val full = s"""{"metric":"total","value":$total,"unit":"sec",$scalars,"queries":$fullQ,"sf":"$sfDir"}"""
      java.nio.file.Files.write(java.nio.file.Paths.get("target/bench_full.json"),
        full.getBytes("UTF-8"))
      // versioned at the repo root (the r10 protocol's literal ask):
      // regression triage needs per-round history, and target/ is
      // gitignored/ephemeral. N = max committed BENCH_r{N} + 1 — the
      // round currently being graded. `_latest` kept as a stable name.
      val roundN = (java.nio.file.Files.list(java.nio.file.Paths.get("."))
        .toArray.map(_.toString)
        .flatMap("BENCH_r(\\d+)\\.json$".r.findFirstMatchIn(_))
        .map(_.group(1).toInt) :+ 0).max + 1
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"BENCH_full_r$roundN%02d.json"),
        full.getBytes("UTF-8"))
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_full_latest.json"),
        full.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    if (nFailed > 0)
      System.err.println(s"[bench] $nFailed of ${results.size} queries FAILED — total is meaningless")
    val top = timings.sortBy(-_._2).take(20)
    spark.stop()
    // stdout stays one COMPACT parseable line; the scalar telemetry
    // fields make a contaminated total self-evident even when only
    // the stdout tail survives
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.size},"n_failed":$nFailed,$scalars,"queries":${fmt(top)},"sf":"$sfDir"}""")
  }
}
