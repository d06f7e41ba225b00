package graft

/** Time a single registered query N times (local profiling aid), in
  * Bench's session ([[GraftSession]]) after Bench's warmup. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    // run the SAME untimed warmup as Bench (SPARK_GRAFT_WARMUP=0 to
    // skip for cold profiling): BenchOne is the adjudication tool for
    // in-suite budget flags, so its reps must measure the same warm
    // codegen state the graded bench does — r12: fc_elite_stack rep1
    // paid 22.4 s unwarmed vs 6.2 s warm, which reads as a flag
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0")
      BenchWarmup.run(spark, sfDir)
    val fn = SparkEntry.queries(name)
    // process-CPU seconds per rep alongside wall: on a steal-noisy
    // shared host (10%+ hypervisor steal observed) wall reps swing
    // 2-5x, while the JVM's actual on-CPU work is stable — the
    // adjudication metric for compute-kernel changes (guide §1)
    // pattern-match, don't cast (ADVICE r14): a JVM without the
    // com.sun interface should omit the cpu metric, not fail the run
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
    def cpuTime: Long = osBean.map(_.getProcessCpuTime).getOrElse(-1L)
    (1 to reps).foreach { i =>
      val c0 = cpuTime
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = if (c0 < 0) Double.NaN else (cpuTime - c0) / 1e9
      println(f"[benchone] $name rep$i: $wall%.3f s cpu=$cpu%.1f s rows=$n")
      // match Bench semantics: every timed run starts cache-cold (Bench
      // clears the cache after each query), otherwise reps 2+ reuse the
      // previous rep's persisted intermediates via plan-equality and
      // report flattered numbers
      try spark.catalog.clearCache() catch { case _: Throwable => () }
    }
    spark.stop()
  }
}
