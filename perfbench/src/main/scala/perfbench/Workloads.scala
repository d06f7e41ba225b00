package perfbench

import graft.{OracleFuzz, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.Random

/** One operation: a registry or builder call that returns the op's frame,
  * plus the DuckDB oracle SQL when the builder has one. */
final case class Op(name: String, build: (SparkSession, String) => DataFrame,
                    oracle: Option[String])

/** A workload: the tables its ops read, how many disjoint replicas of the
  * base panel it runs on, whether its outputs are checked against pinned
  * digests (fixed ops) or the oracle (drawn points), and the ops of pass
  * `p` for a seed (pass -1 is the untimed warm pass of set-up). */
final case class Workload(name: String, tables: Seq[String], replicas: Int,
                          pinned: Boolean, pass: (Long, Int) => Seq[Op])

object Workloads {
  /** Driver-bound: sequential job chains (boosting passes, IRLS
    * iterations, Ols fits), one op per fit mechanism that fits the run's
    * time budget (NOTES.md has the sizing probe). Both fixed lists have an
    * odd length so the median op latency falls on one op, not on the gap
    * between two. */
  val forecastFitOps: Seq[String] = Seq("fc_gbt_stump", "fc_censored", "fc_linear_direct")

  /** Executor-side: typed-Aggregator feature kernels (FFT, CWT peaks), one
    * SQL-composed feature (the `count()` pruning trap), Theil-Sen
    * detrending and pair-quadratic KNN. */
  val panelKernelsOps: Seq[String] = Seq(
    "f_fft_coefficients", "f_number_cwt_peaks", "f_benford_correlation",
    "p_detrend_theilsen", "fc_knn")

  def registryOps(names: Seq[String]): Seq[Op] = names.map { n =>
    val q = SparkEntry.registry(n)
    Op(n, q.fn, q.oracle)
  }

  /** Per-pass RNG: decorrelated across seeds, passes and streams. */
  def rng(seed: Long, pass: Int, stream: String): Random =
    new Random(seed * 1000003L + pass * 7919L + stream.hashCode.toLong * 104729L)

  /** The fixed ops in a seeded order; every pass gets its own order. */
  def ordered(ops: Seq[Op], seed: Long, pass: Int): Seq[Op] =
    rng(seed, pass, "order").shuffle(ops)

  /** A fresh parameter point from every OracleFuzz family, seeded by
    * (seed, pass, family), in a seeded order. */
  def sweep(seed: Long, pass: Int): Seq[Op] = {
    val ops = OracleFuzz.families.map { fam =>
      val (desc, q) = fam.gen(rng(seed, pass, fam.name))
      Op(s"${fam.name}{$desc}", q.fn, q.oracle)
    }
    ordered(ops, seed, pass)
  }

  val all: Map[String, Workload] = Seq(
    Workload("forecast_fit", Seq("events"), replicas = 1, pinned = true,
      (s, p) => ordered(registryOps(forecastFitOps), s, p)),
    Workload("panel_kernels", Seq("events"), replicas = 2, pinned = true,
      (s, p) => ordered(registryOps(panelKernelsOps), s, p)),
    Workload("param_sweep", Seq("events", "embeddings"), replicas = 1, pinned = false,
      (s, p) => sweep(s, p))
  ).map(w => w.name -> w).toMap
}
