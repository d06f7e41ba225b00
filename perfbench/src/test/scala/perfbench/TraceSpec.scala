package perfbench

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  test("covered length merges overlaps and clips to the window") {
    assert(Spans.covered(Seq((1.0, 3.0), (2.0, 5.0), (8.0, 12.0)), 0.0, 10.0) == 6.0)
    assert(Spans.covered(Seq((4.0, 5.0), (1.0, 2.0), (1.5, 2.5)), 0.0, 10.0) == 2.5)
    assert(Spans.covered(Nil, 0.0, 10.0) == 0.0)
    assert(Spans.covered(Seq((11.0, 12.0)), 0.0, 10.0) == 0.0)
  }

  test("self time is duration minus the union of the children") {
    val spans = Seq(
      Span(1, 0, 1, "op", "op", 0, 10),
      Span(2, 1, 1, "build", "op", 0, 6),
      Span(3, 1, 1, "materialize", "op", 6, 10),
      Span(4, 2, 1, "job", "j1", 1, 3),
      Span(5, 2, 1, "job", "j2", 2, 5), // overlaps j1: counted once
      Span(6, 3, 1, "job", "j3", 7, 12)) // runs past its parent: clipped
    val self = Spans.selfTimes(spans)
    assert(self(1) == 0.0)
    assert(self(2) == 2.0)
    assert(self(3) == 1.0)
    assert(self(4) == 2.0 && self(6) == 5.0)
  }

  test("build + materialize and busy + gap each account for the op wall") {
    val w = OpWindow(t0 = 1000, t1 = 1400, t2 = 2000, compiles = 3, compileMs = 50,
      analysisMs = 5, leftoverBlocks = 0)
    val events = Seq(
      SparkListenerJobStart(1, 1100L, Nil), SparkListenerJobEnd(1, 1300L, JobSucceeded),
      SparkListenerJobStart(2, 1250L, Nil), SparkListenerJobEnd(2, 1350L, JobSucceeded),
      SparkListenerJobStart(3, 1500L, Nil), SparkListenerJobEnd(3, 1900L, JobSucceeded))
    var id = 100L
    val (l, spans) = Layers.attribute(1L, "op", w, events, cores = 4, () => { id += 1; id })
    assert(l("queries.build_s") + l("queries.materialize_s") == 1.0)
    assert(math.abs(l("scheduler.busy_s") - 0.65) < 1e-9)
    assert(math.abs(l("scheduler.busy_s") + l("scheduler.gap_s") - 1.0) < 1e-12)
    assert(l("scheduler.jobs") == 3 && l("operators.fit_jobs") == 2)
    assert(spans.count(_.kind == "job") == 3 && spans.head.kind == "op")
    val self = Spans.selfTimes(spans)
    assert(math.abs(self(spans.find(_.kind == "build").get.id) - 150.0) < 1e-9)
  }

  test("the tail percentile keeps at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == ((90, 90.0, 10)))
    assert(Stats.tail((1 to 45).map(_.toDouble))._3 >= 10)
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ((50, 2.0, 1)))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
