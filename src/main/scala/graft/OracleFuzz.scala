package graft

import graft.queries.{FuzzBuilders, Q}

import java.nio.file.{Files, Paths}
import scala.util.Random

/** Parameter-fuzz harness for the oracle surface (r13 verdict #1).
  *
  * Every registry query pins ONE parameter point (lags, α, threshold,
  * window, sp, K…), so a param-dependent divergence — the M5 64-lag
  * Janino overflow was exactly this class — passes the pinned gate
  * silently. This main sweeps each parameterized family over seeded
  * random points, generating the Spark query AND its DuckDB oracle
  * from the SAME parameter-generic builder ([[FuzzBuilders]], which
  * also serves the pinned registry entries), dumps results in the
  * Verify layout, and leaves the bitwise compare to tools/check.py:
  *
  *   sbt "runMain graft.OracleFuzz /root/testdata/sf0.001 /tmp/fuzz_out [n] [seed]"
  *   python3 tools/check.py /tmp/fuzz_out /root/testdata/sf0.001
  *
  * Params come from short-decimal grids (exact DECIMAL parse in
  * DuckDB); each point's parameters derive deterministically from
  * (baseSeed, family, point index), so a committed (seed, n) pair
  * reproduces the exact sweep. */
object OracleFuzz {

  /** One fuzz family: picks params from `rng`, returns (description,
    * query). Drawing ONLY via rng keeps the sweep reproducible. */
  final case class Family(name: String, maxPoints: Int = Int.MaxValue,
                          gen: Random => (String, Q))

  private def pick[A](rng: Random, xs: Seq[A]): A = xs(rng.nextInt(xs.size))
  private def range(lo: Int, hi: Int): Seq[Int] = lo to hi
  private def grid(lo: Double, hi: Double, step: Double): Seq[Double] = {
    // multiples of `step` with short decimal repr: derive from ints
    val n = math.round((hi - lo) / step).toInt
    (0 to n).map(i => math.rint((lo + i * step) / step) * step)
  }

  val families: Seq[Family] = Seq(
    Family("f_count_above", gen = { r =>
      val t = pick(r, grid(-100, 300, 25)); (s"t=$t", FuzzBuilders.countAbove(t))
    }),
    Family("f_count_below", gen = { r =>
      val t = pick(r, grid(-100, 300, 25)); (s"t=$t", FuzzBuilders.countBelow(t))
    }),
    Family("f_large_standard_deviation", gen = { r =>
      val x = pick(r, grid(0.05, 0.95, 0.05)); (s"r=$x", FuzzBuilders.largeStandardDeviation(x))
    }),
    Family("f_range_count", gen = { r =>
      val lo = pick(r, grid(-100, 100, 25)); val w = pick(r, grid(25, 250, 25))
      (s"lo=$lo hi=${lo + w}", FuzzBuilders.rangeCount(lo, lo + w))
    }),
    Family("f_symmetry_looking", gen = { r =>
      val x = pick(r, grid(0.05, 0.5, 0.05)); (s"r=$x", FuzzBuilders.symmetryLooking(x))
    }),
    Family("f_mean_n_absolute_max", gen = { r =>
      val k = pick(r, range(1, 12)); (s"k=$k", FuzzBuilders.meanNAbsoluteMax(k))
    }),
    Family("f_autocorrelation", gen = { r =>
      val l = pick(r, range(1, 12)); (s"l=$l", FuzzBuilders.autocorrelation(l))
    }),
    Family("f_c3", gen = { r =>
      val l = pick(r, range(1, 8)); (s"l=$l", FuzzBuilders.c3(l))
    }),
    Family("f_cid_ce", maxPoints = 2, gen = { r =>
      val n = r.nextBoolean(); (s"normalize=$n", FuzzBuilders.cidCe(n))
    }),
    Family("f_index_mass_quantile", gen = { r =>
      val q = pick(r, grid(0.05, 0.95, 0.05)); (s"q=$q", FuzzBuilders.indexMassQuantile(q))
    }),
    Family("f_number_peaks", gen = { r =>
      val n = pick(r, range(1, 6)); (s"n=$n", FuzzBuilders.numberPeaks(n))
    }),
    Family("f_ratio_beyond_r_sigma", gen = { r =>
      val x = pick(r, grid(0.25, 3.0, 0.25)); (s"r=$x", FuzzBuilders.ratioBeyondRSigma(x))
    }),
    Family("f_time_reversal_asymmetry_statistic", gen = { r =>
      val l = pick(r, range(1, 8)); (s"l=$l", FuzzBuilders.timeReversalAsymmetryStatistic(l))
    }),
    Family("f_energy_ratios", gen = { r =>
      val k = pick(r, range(2, 10)); (s"k=$k", FuzzBuilders.energyRatios(k))
    }),
    Family("f_binned_entropy", gen = { r =>
      val k = pick(r, range(3, 24)); (s"bins=$k", FuzzBuilders.binnedEntropy(k))
    }),
    Family("f_number_crossings", gen = { r =>
      val m = pick(r, grid(-50, 250, 25)); (s"m=$m", FuzzBuilders.numberCrossings(m))
    }),
    Family("f_change_quantiles", gen = { r =>
      val ql = pick(r, grid(0.05, 0.45, 0.05)); val qh = pick(r, grid(0.55, 0.95, 0.05))
      (s"ql=$ql qh=$qh", FuzzBuilders.changeQuantilesMean(ql, qh))
    }),
    Family("f_streak_length_stats", gen = { r =>
      val above = r.nextBoolean(); val t = pick(r, grid(-2.0, 2.0, 0.5))
      (s"above=$above t=$t", FuzzBuilders.streakLengthStats(above, t))
    }),
    Family("f_longest_diff_streak", gen = { r =>
      val above = r.nextBoolean(); val t = pick(r, grid(-2.0, 2.0, 0.5))
      (s"above=$above t=$t", FuzzBuilders.longestDiffStreak(above, t))
    }),
    Family("f_approximate_entropy", gen = { r =>
      val m = pick(r, range(1, 3)); val ratio = pick(r, grid(0.1, 0.9, 0.1))
      (s"m=$m ratio=$ratio", FuzzBuilders.approximateEntropy(m, ratio))
    }),
    Family("f_sample_entropy", gen = { r =>
      val m = pick(r, range(1, 3)); val ratio = pick(r, grid(0.1, 0.9, 0.1))
      (s"m=$m ratio=$ratio", FuzzBuilders.sampleEntropy(m, ratio))
    }),
    Family("p_lag", gen = { r =>
      val k = pick(r, range(1, 4))
      val lags = r.shuffle((1 to 14).toList).take(k).sorted
      (s"lags=${lags.mkString("/")}", FuzzBuilders.lagTransform(lags))
    }),
    Family("p_roll", gen = { r =>
      val w = pick(r, range(2, 24)); (s"window=$w", FuzzBuilders.rollTransform(w))
    }),
    Family("p_diff", gen = { r =>
      val order = pick(r, range(1, 3)); val sp = pick(r, range(1, 7))
      (s"order=$order sp=$sp", FuzzBuilders.diffTransform(order, sp))
    }),
    Family("p_boxcox", gen = { r =>
      val l = pick(r, Seq(0.25, 0.5, 0.75, 1.25, 1.5, 2.0, 2.5, 3.0))
      (s"lambda=$l", FuzzBuilders.boxcox(l))
    }),
    Family("p_yeojohnson", gen = { r =>
      val l = pick(r, Seq(0.25, 0.5, 0.75, 1.0, 1.25, 1.5, 1.75))
      (s"lambda=$l", FuzzBuilders.yeojohnson(l))
    }),
    Family("p_fracdiff", gen = { r =>
      val dOrd = pick(r, grid(0.1, 0.9, 0.1)); val w = pick(r, range(5, 20))
      (s"d=$dOrd window=$w", FuzzBuilders.fracDiff(dOrd, w))
    }),
    Family("p_fourier_terms", gen = { r =>
      val sp = pick(r, Seq(4, 6, 8, 12, 24, 52)); val k = pick(r, range(1, 4))
      (s"sp=$sp k=$k", FuzzBuilders.fourierTerms(sp, k))
    }),
    Family("m_mase", gen = { r =>
      val sp = pick(r, range(1, 14)); (s"sp=$sp", FuzzBuilders.mase(sp))
    }),
    Family("m_rmsse", gen = { r =>
      val sp = pick(r, range(1, 14)); (s"sp=$sp", FuzzBuilders.rmsse(sp))
    }),
    Family("cv_train_test_split", gen = { r =>
      val t = pick(r, range(2, 40)); (s"testSize=$t", FuzzBuilders.cvTrainTestSplit(t))
    }),
    Family("cv_expanding_window", gen = { r =>
      val n = pick(r, range(2, 5)); val t = pick(r, range(3, 15)); val st = pick(r, range(2, 8))
      (s"nSplits=$n testSize=$t step=$st", FuzzBuilders.cvExpandingWindow(n, t, st))
    }),
    Family("cv_sliding_window", gen = { r =>
      val w = pick(r, range(5, 30)); val n = pick(r, range(2, 5))
      val t = pick(r, range(3, 15)); val st = pick(r, range(2, 8))
      (s"window=$w nSplits=$n testSize=$t step=$st", FuzzBuilders.cvSlidingWindow(w, n, t, st))
    }),
    Family("fc_naive", gen = { r =>
      val fh = pick(r, range(1, 10)); (s"fh=$fh", FuzzBuilders.fcNaive(fh))
    }),
    Family("fc_snaive", gen = { r =>
      val sp = pick(r, range(2, 14)); val fh = pick(r, range(1, 10))
      (s"sp=$sp fh=$fh", FuzzBuilders.fcSnaive(sp, fh))
    }),
    Family("fc_linear", gen = { r =>
      val lags = pick(r, range(2, 14)); val fh = pick(r, range(1, 3))
      val ridge = pick(r, Seq(0.0, 0.1, 0.5, 1.0, 5.0))
      (s"lags=$lags fh=$fh ridge=$ridge", FuzzBuilders.fcLinear(lags, fh, ridge))
    }),
    Family("fc_elastic_net", gen = { r =>
      val lags = pick(r, range(3, 10)); val fh = pick(r, range(1, 3))
      val alpha = pick(r, Seq(0.1, 0.25, 0.5, 1.0, 2.0))
      val l1 = pick(r, Seq(0.25, 0.5, 0.75, 1.0))
      val sweeps = pick(r, Seq(10, 20, 40))
      (s"lags=$lags fh=$fh alpha=$alpha l1=$l1 sweeps=$sweeps",
        FuzzBuilders.fcElasticNet(lags, fh, alpha, l1, sweeps))
    }),
    Family("s_cosine_topk", gen = { r =>
      val nq = pick(r, range(2, 20)); val k = pick(r, range(1, 10))
      (s"nQueries=$nq k=$k", FuzzBuilders.cosineTopK(nq, k))
    })
  )

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val nPerFamily = if (args.length > 2) args(2).toInt else 9
    val baseSeed = if (args.length > 3) args(3).toLong else 14L
    val spark = GraftSession.build(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    var oracle = List.empty[(String, String)]
    var manifest = List.empty[(String, String)]
    var nFail = 0
    families.foreach { fam =>
      val n = math.min(nPerFamily, fam.maxPoints)
      (0 until n).foreach { i =>
        // (seed, family, i) → params; family hash decorrelates streams
        val rng = new Random(baseSeed * 1000003L + fam.name.hashCode.toLong * 7919L + i)
        val (desc, q) = fam.gen(rng)
        val name = s"fz_${fam.name}_$i"
        try {
          q.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          q.oracle.foreach(sql => oracle ::= name -> sql)
          manifest ::= name -> desc
        } catch {
          case e: Throwable =>
            nFail += 1
            System.err.println(s"[fuzz] $name ($desc) failed: ${e.getMessage}")
        }
      }
    }

    def esc(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def j(kvs: List[(String, String)]): String =
      kvs.reverse.map { case (k, v) => s"${esc(k)}: ${esc(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), j(oracle))
    Files.writeString(Paths.get(s"$outDir/fuzz_manifest.json"), j(manifest))
    println(s"[fuzz] dumped ${manifest.size} points over ${families.size} families " +
      s"(seed=$baseSeed, n=$nPerFamily, failures=$nFail)")
    spark.stop()
    if (nFail > 0) sys.exit(1)
  }
}
