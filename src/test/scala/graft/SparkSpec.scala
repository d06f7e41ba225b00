package graft

import graft.core.Panel
import graft.functions.FitBlocks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + panel fixtures for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** One entity per series, time = 0..n-1. */
  def panel(series: Seq[Double]*): Panel = {
    import spark.implicits._
    val rows = series.zipWithIndex.flatMap { case (s, e) =>
      s.zipWithIndex.map { case (v, t) => (e, t, v) }
    }
    Panel(rows.toDF("entity", "t", "value"), Seq("entity"), Seq("t"), "value")
  }

  /** Single scalar feature value for entity 0 from a (entity, feature) frame. */
  def featVal(df: DataFrame, name: String): Double = {
    val r = df.filter(df("entity") === 0).select(name).collect()(0)
    if (r.isNullAt(0)) Double.NaN
    else r.get(0) match {
      case d: Double => d
      case l: Long => l.toDouble
      case i: Int => i.toDouble
      case b: Boolean => if (b) 1.0 else 0.0
      case x => x.toString.toDouble
    }
  }

  def assertClose(got: Double, want: Double, tol: Double = 1e-6): Unit = {
    if (want.isNaN) assert(got.isNaN, s"expected NaN, got $got")
    else if (want.isInfinite) assert(got == want, s"expected $want, got $got")
    else assert(math.abs(got - want) <= tol, s"expected $want, got $got")
  }

  /** `f` must leave no persisted RDD and no cached frame behind. */
  def noLeftovers[T](f: => T): T = {
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val wasEmpty = cacheManager.isEmpty
    try f
    finally {
      assert(spark.sparkContext.getPersistentRDDs.keySet == before, "leftover blocks")
      assert(cacheManager.isEmpty == wasEmpty, "leftover cached frame")
    }
  }

  /** The jobs `body` starts on this thread, and its result. */
  def jobsOf[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try {
      val r = body
      org.apache.spark.ListenerDrain(sc)
      (n.get, r)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }

  /** `f` with [[FitBlocks.driverCap]] at `cap` bytes. */
  def withDriverCap[T](cap: Long)(f: => T): T = {
    val saved = FitBlocks.driverCap
    FitBlocks.driverCap = cap
    try f finally FitBlocks.driverCap = saved
  }

  /** `f` at driver cap 0 (every pass one job) and at an unlimited cap
    * (the passes after the first on the driver), labelled. */
  def atBothCaps[T](f: => T): Seq[(String, T)] =
    Seq("cap 0" -> 0L, "no cap" -> Long.MaxValue).map { case (name, cap) =>
      name -> withDriverCap(cap)(f)
    }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the graded config (GraftSession) at a fixed 4 cores, so tests
    // run the same codegen regime as Bench and Verify
    val s = GraftSession.build(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
