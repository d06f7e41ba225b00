package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Every main and the test fixture build
  * through [[build]], so they all run the graded bench's config — the
  * codegen regime decides which aggregates run compiled, and every
  * bitwise claim is made under it. */
object GraftSession {
  /** Local cores: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The graded config on `local[cpus]`, `extra` overriding same-key
    * values. */
  def conf(cpus: Int, extra: (String, String)*): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // 4 MB Tungsten pages: the default scales to 64 MB at large
    // heaps, exceeding half of G1's 32 MB max region size — every
    // page then allocates as G1-humongous and GC time explodes
    // (observed 10-20x slowdowns at 64g heaps)
    "spark.buffer.pageSize" -> "4m",
    // events.parquet holds TIMESTAMP(NANOS); the reader only sees
    // this at builder time (graft.core.Tables converts the long)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    // the default 100-entry codegen class cache cannot hold a
    // 233-query session: by the time the alphabetical run reaches
    // fc_*, every class the bench warmup compiled has been evicted
    // and fc_gbt re-pays ~9 s of Janino cold-compile (BENCH_r06's
    // one budget breach). 4000 entries (static conf, set before the
    // session exists) keeps warmup + cross-query shapes resident.
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    // r14: wide conditional aggregates (TreeBoost pass A/B at 102/196
    // output fields, the lags=14 OLS moment aggregates at ~137) were
    // silently ejected from whole-stage codegen by the default
    // spark.sql.codegen.maxFields=100 and ran interpreted — measured
    // 2.5x on fc_gbt's pass B (1.25 s -> 0.5 s). Width-, not
    // scale-dependent: the same aggregates exceed 100 fields at any
    // data size, so the raise is equally right at 100 TB. Results are
    // bitwise unchanged (same per-partition fold order either way).
    "spark.sql.codegen.maxFields" -> "1024",
    "spark.ui.enabled" -> "false") ++ extra

  /** `getOrCreate` a session on [[conf]]`(cpus, extra*)`. */
  def build(cpus: Int, extra: (String, String)*): SparkSession =
    SparkSession.builder().config(conf(cpus, extra: _*)).getOrCreate()
}
