package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-query job/stage/task accounting (r15 — VERDICT's ask: attribute
  * query wall to distributed execution vs driver-side gaps).
  *
  * For each named query (or all, name-sorted), runs it once in a warm
  * session with a listener and prints: wall, process CPU, number of
  * Spark jobs/stages/tasks, summed task time, the wall covered by the
  * UNION of job intervals (concurrent jobs merged), and the remainder
  * ("gap" — time with NO job in flight: planning, analysis, driver
  * collects, scheduling latency between sequential jobs).
  *
  * Usage: sbt "runMain graft.JobProfile [query ...]"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")

    val jobDump = sys.env.get("SPARK_GRAFT_JOBDUMP").exists(_ != "0")
    object L extends SparkListener {
      private val open = mutable.Map[Int, Long]()
      private val intervals = mutable.ArrayBuffer[(Long, Long)]()
      val sites = mutable.ArrayBuffer[(String, Long)]() // (callSite, ms)
      private val openSite = mutable.Map[Int, String]()
      var nJobs = 0; var nStages = 0; var nTasks = 0L; var taskMs = 0L
      override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
        open(js.jobId) = js.time; nJobs += 1; nStages += js.stageInfos.size
        if (jobDump)
          openSite(js.jobId) = js.stageInfos.lastOption.map(_.name)
            .getOrElse("?").takeWhile(_ != '\n')
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
        open.remove(je.jobId).foreach { s =>
          intervals += ((s, je.time))
          if (jobDump) sites += ((openSite.remove(je.jobId).getOrElse("?"), je.time - s))
        }
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
        nTasks += 1
        if (te.taskInfo != null) taskMs += te.taskInfo.duration
      }
      def reset(): Unit = synchronized {
        open.clear(); intervals.clear(); sites.clear(); openSite.clear()
        nJobs = 0; nStages = 0; nTasks = 0; taskMs = 0
      }
      /** Union length (ms) of the recorded job intervals. */
      def coveredMs: Long = synchronized {
        val s = intervals.sortBy(_._1)
        var cov = 0L; var curS = Long.MinValue; var curE = Long.MinValue
        s.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) cov += curE - curS; curS = a; curE = b }
          else if (b > curE) curE = b
        }
        if (curE > curS) cov += curE - curS
        cov
      }
    }
    spark.sparkContext.addSparkListener(L)
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0")
      BenchWarmup.run(spark, sfDir)
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val names: Seq[String] =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    println("[jobprofile] name wall cpu nJobs nStages nTasks taskSec jobCovSec gapSec")
    // janino compile telemetry (VERDICT r14 #6: adjudicate whether the
    // maxFields=1024 raise spends compile time on the sweep families)
    val compHist = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      L.reset()
      val comp0 = compHist.getCount
      val c0 = osBean match {
        case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
        case _ => -1L
      }
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        System.err.println(s"[jobprofile] $name FAILED: ${e.getMessage.take(160)}")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = osBean match {
        case b: com.sun.management.OperatingSystemMXBean if c0 >= 0 =>
          (b.getProcessCpuTime - c0) / 1e9
        case _ => Double.NaN
      }
      // listener delivery is async — give the bus a moment to drain
      Thread.sleep(300)
      val cov = L.coveredMs / 1000.0
      val nComp = compHist.getCount - comp0
      val compMeanMs = compHist.getSnapshot.getMean / 1e6
      println(f"[jobprofile] $name $wall%.3f $cpu%.1f ${L.nJobs} ${L.nStages} " +
        f"${L.nTasks} ${L.taskMs / 1000.0}%.1f $cov%.3f ${math.max(0, wall - cov)}%.3f " +
        f"ncomp=$nComp compMeanMs=$compMeanMs%.1f")
      if (jobDump) L.synchronized {
        L.sites.groupBy(_._1).toSeq
          .map { case (s, xs) => (s, xs.size, xs.map(_._2).sum) }
          .sortBy(-_._3)
          .foreach { case (s, n, ms) =>
            println(f"[jobsite] $name n=$n%3d total=${ms / 1000.0}%7.3f s  $s")
          }
      }
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      try spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      catch { case _: Throwable => () }
    }
    spark.stop()
  }
}
