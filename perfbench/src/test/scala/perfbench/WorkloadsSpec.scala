package perfbench

import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {
  private val fixed = Workloads.registryOps(Workloads.forecastFitOps ++ Workloads.panelKernelsOps)

  test("every listed op is a registry query") {
    (Workloads.forecastFitOps ++ Workloads.panelKernelsOps)
      .foreach(n => assert(graft.SparkEntry.registry.contains(n), n))
  }

  test("seeded op order is deterministic, a permutation, and varies by seed and pass") {
    val a = Workloads.ordered(fixed, 7L, 0).map(_.name)
    assert(a == Workloads.ordered(fixed, 7L, 0).map(_.name))
    assert(a.sorted == fixed.map(_.name).sorted)
    assert(a != Workloads.ordered(fixed, 8L, 0).map(_.name))
    assert(a != Workloads.ordered(fixed, 7L, 1).map(_.name))
  }

  test("parameter draws are deterministic per (seed, pass) and fresh across passes") {
    val p0 = Workloads.sweep(3L, 0).map(_.name)
    assert(p0 == Workloads.sweep(3L, 0).map(_.name))
    assert(p0.size == graft.OracleFuzz.families.size)
    assert(p0.map(_.takeWhile(_ != '{')).toSet == graft.OracleFuzz.families.map(_.name).toSet)
    val p1 = Workloads.sweep(3L, 1).map(_.name)
    assert((p1.toSet -- p0.toSet).size > p0.size / 2)
    assert(Workloads.sweep(4L, 0).map(_.name).toSet != p0.toSet)
  }

  test("every drawn point carries its oracle SQL") {
    assert(Workloads.sweep(5L, 0).forall(_.oracle.isDefined))
  }
}
