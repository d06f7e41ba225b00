package graft

import java.nio.file.{Files, Paths}

/** Dump `explain("formatted")` for named registry queries to files —
  * the optimization rounds' plan-evidence artifact
  * (`plans/r{N}/<query>_{before,after}.txt`).
  *
  * Usage: `runMain graft.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]`
  * writes `<outDir>/<query>_<suffix>.txt` per query. The session is
  * Bench's ([[GraftSession]]), so the dumped initial plans are the
  * bench's at the same SPARK_GRAFT_CPUS. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = GraftSession.build(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
