package graft

import graft.functions.FitBlocks

/** Times registered queries with [[FitBlocks.driverCap]] at 0 (every
  * pass one job) and unlimited (every pass after the first on the
  * driver), reps interleaved in one warm session, and prints each
  * query's medians and how many pairs the driver path won. The
  * measurement behind the cap's value (SCALE.md, "the driver cap").
  *
  * Usage: `sbt "Test/runMain graft.DriverCapSweep <sfDir> <reps> <q1,q2,...>"`
  */
object DriverCapSweep {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, repsArg, qsArg) = args
    val reps = repsArg.toInt
    val qs = qsArg.split(",").toSeq
    val spark = GraftSession.build(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    val caps = Seq(0L, Long.MaxValue)
    def run(q: String, cap: Long): Double = {
      FitBlocks.driverCap = cap
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, sfDir).count()
      val s = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      s
    }
    qs.foreach(q => caps.foreach { c => run(q, c); run(q, c) }) // warm-up
    val times = qs.map(q => q -> caps.map(c => c -> Seq.newBuilder[Double]).toMap).toMap
    (1 to reps).foreach { r =>
      qs.foreach { q =>
        (if (r % 2 == 0) caps else caps.reverse).foreach(c => times(q)(c) += run(q, c))
      }
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    qs.foreach { q =>
      val jobs = times(q)(0L).result()
      val driver = times(q)(Long.MaxValue).result()
      val wins = jobs.zip(driver).count { case (j, d) => d < j }
      println(f"[capsweep] $q reps=$reps cap0_med=${med(jobs)}%.3f s " +
        f"nocap_med=${med(driver)}%.3f s driver_wins=$wins/$reps")
    }
    spark.stop()
  }
}
