package graft

import graft.core.Panel
import org.apache.spark.sql.functions._

/** Measures the exact broadcast-KNN's O(rows × entities) scale wall
  * against the IVF path as the ENTITY count grows (the family's
  * documented scale assumption — KnnForecaster.maxExactEntities).
  * Synthesizes E entities × 40 rows, times one-step exact vs IVF. */
object KnnEntitySoak {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    def mkPanel(entities: Int, len: Int): Panel = {
      val df = spark.range(entities.toLong * len).select(
        (col("id") / len).cast("long").as("entity"),
        (col("id") % len).cast("int").as("t"),
        (sin(col("id") * 0.37) * 5 + (col("id") % 11)).cast("double").as("value"))
      Panel(df, Seq("entity"), Seq("t"), "value")
    }
    def t[A](l: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[knnsoak] $l: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    // times `f` and prints the peak JVM heap seen while it runs. Local
    // mode shares one JVM between driver and executors, so the peak is
    // the whole pipeline's working set, an upper bound on any driver
    // share.
    def peakHeap(l: String)(f: => Any): Unit = {
      val rt = Runtime.getRuntime
      @volatile var peak = 0L
      @volatile var done = false
      val sampler = new Thread(() => while (!done) {
        peak = math.max(peak, rt.totalMemory - rt.freeMemory); Thread.sleep(200)
      })
      sampler.setDaemon(true); sampler.start()
      try t(l)(f) finally done = true
      println(f"[knnsoak] peak JVM heap ${peak / 1e9}%.2f GB (driver+executors share it in local mode)")
    }
    graft.operators.KnnForecaster.maxExactEntities = Int.MaxValue
    val skipExact = args.contains("--ivf-only") || args.contains("--recursive-only") ||
      args.contains("--onestep-1m")
    val exactEs = if (skipExact) Nil else Seq(1000, 5000, 20000)
    exactEs.foreach { e =>
      val p = mkPanel(e, 40)
      p.df.cache().count()
      t(s"exact one-step E=$e (rows=${e * 40})") {
        graft.operators.KnnForecaster.predictOneStep(p, "t", "1i", lags = 7, k = 5)
          .rdd.count()
      }
      p.df.unpersist(blocking = true)
    }
    // per-row IVF work = nCells·lags (assignment) + (E/nCells)·lags
    // (within-cell distances) — minimized at nCells ≈ √E, which the
    // in-scan broadcast assignment makes reachable (the former
    // literal-inlined projection walled out past ~100 cells)
    val ivfEs = if (args.contains("--recursive-only") || args.contains("--onestep-1m")) Nil
      else Seq((20000, 64), (200000, 64), (200000, 448))
    ivfEs.foreach { case (e, cells) =>
      val p = mkPanel(e, 40)
      p.df.cache().count()
      t(s"ivf one-step E=$e (rows=${e * 40}, cells=$cells)") {
        graft.operators.KnnForecaster.predictOneStepIvf(p, "t", "1i", lags = 7,
          k = 5, nCells = cells).rdd.count()
      }
      p.df.unpersist(blocking = true)
    }
    // the distributed recursive roll at 1M entities: the point is the
    // STRUCTURE — no entity-scale collect or broadcast anywhere in the
    // per-step plan (the states live in a persisted RDD keyed by cell;
    // only the nCells×lags centroid matrix crosses the driver), so
    // heap stays flat in fh
    if (args.contains("--recursive") || args.contains("--recursive-only")) {
      val e = 1000000; val len = 12; val fh = 3; val cells = 3162
      val p = mkPanel(e, len)
      p.df.cache().count()
      peakHeap(s"ivf recursive E=$e fh=$fh (rows=${e * len}, cells=$cells)") {
        graft.operators.KnnForecaster.predictRecursiveIvf(p, "t", "1i", lags = 7,
          k = 5, fh = fh, nCells = cells).rdd.count()
      }
      p.df.unpersist(blocking = true)
    }
    // one-step IVF at 1M entities (r14: predictOneStepIvf now delegates
    // to the distributed fh=1 roll — the former implementation collected
    // every entity tail to the driver and could not run here at all)
    if (args.contains("--onestep-1m")) {
      val e = 1000000; val len = 12; val cells = 3162
      val p = mkPanel(e, len)
      p.df.cache().count()
      peakHeap(s"ivf ONE-STEP E=$e (rows=${e * len}, cells=$cells)") {
        graft.operators.KnnForecaster.predictOneStepIvf(p, "t", "1i", lags = 7,
          k = 5, nCells = cells).rdd.count()
      }
      p.df.unpersist(blocking = true)
    }
    spark.stop()
  }
}
