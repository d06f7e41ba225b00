package graft

import graft.core.Panel
import graft.operators.Evaluation
import graft.queries.Q
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** D'Agostino-Pearson normality test + Bartlett ACF bounds. */
class EvaluationSpec extends SparkSpec {

  test("normality test accepts Gaussian, rejects skewed data (normaltest semantics)") {
    val rng = new scala.util.Random(42)
    val gaussian = Seq.fill(500)(rng.nextGaussian())
    // heavily right-skewed: exp of gaussian (lognormal)
    val skewed = Seq.fill(500)(math.exp(rng.nextGaussian() * 1.5))
    val out = Evaluation.normalityTest(panel(gaussian, skewed)).collect()
      .map(r => r.getInt(0) -> r).toMap
    val pGauss = out(0).getAs[Double]("p_value")
    val pSkew = out(1).getAs[Double]("p_value")
    assert(pGauss > 0.01, s"gaussian rejected: p=$pGauss")
    assert(pSkew < 1e-6, s"lognormal accepted: p=$pSkew")
    // k2 nonnegative, p in [0,1]
    out.values.foreach { r =>
      assert(r.getAs[Double]("k2_stat") >= 0)
      val p = r.getAs[Double]("p_value"); assert(p >= 0 && p <= 1)
    }
  }

  /** The former `Evaluation.normalityTest`: the whole test as one
    * projection over the moment aggregate, which Catalyst fuses into the
    * aggregate's output method (past 64 KB, so that stage runs
    * interpreted). */
  private def refNormality(p: Panel): DataFrame = {
    val d = p.df.withColumn("__mu", avg(p.x).over(p.we))
    val m = d.groupBy(p.entityCols: _*).agg(
      count(p.x).cast("double").as("n"),
      avg(pow(p.x - col("__mu"), 2)).as("m2"),
      avg(pow(p.x - col("__mu"), 3)).as("m3"),
      avg(pow(p.x - col("__mu"), 4)).as("m4"))
    val n = col("n")
    val skew = try_divide(col("m3"), pow(col("m2"), 1.5))
    val kurt = try_divide(col("m4"), pow(col("m2"), 2))
    val y = skew * sqrt((n + 1) * (n + 3) / (lit(6.0) * (n - 2)))
    val beta2 = lit(3.0) * (n * n + lit(27.0) * n - 70) * (n + 1) * (n + 3) /
      ((n - 2) * (n + 5) * (n + 7) * (n + 9))
    val w2 = sqrt(lit(2.0) * (beta2 - 1)) - 1
    val delta = lit(1.0) / sqrt(lit(0.5) * log(w2))
    val alpha = sqrt(lit(2.0) / (w2 - 1))
    val ya = try_divide(y, alpha)
    val z1 = delta * log(ya + sqrt(ya * ya + 1))
    val e = lit(3.0) * (n - 1) / (n + 1)
    val varb2 = lit(24.0) * n * (n - 2) * (n - 3) / ((n + 1) * (n + 1) * (n + 3) * (n + 5))
    val x = (kurt - e) / sqrt(varb2)
    val sqrtbeta1 = lit(6.0) * (n * n - lit(5.0) * n + 2) / ((n + 7) * (n + 9)) *
      sqrt(lit(6.0) * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3)))
    val aa = lit(6.0) + lit(8.0) / sqrtbeta1 *
      (lit(2.0) / sqrtbeta1 + sqrt(lit(1.0) + lit(4.0) / (sqrtbeta1 * sqrtbeta1)))
    val term = (lit(1.0) - lit(2.0) / aa) /
      (lit(1.0) + x * sqrt(lit(2.0) / (aa - 4)))
    val z2 = ((lit(1.0) - lit(2.0) / (lit(9.0) * aa)) -
      signum(term) * pow(abs(term), lit(1.0) / 3)) / sqrt(lit(2.0) / (lit(9.0) * aa))
    val k2 = z1 * z1 + z2 * z2
    val nOk = n >= 8.0
    m.select((p.entityCols ++ Seq(
      skew.as("skew"), (kurt - 3).as("kurtosis"),
      when(nOk, k2).as("k2_stat"),
      when(nOk, exp(k2 * -0.5)).as("p_value"))): _*)
  }

  test("normality test: staged selects compile whole-stage, same bits as the fused form") {
    val rng = new scala.util.Random(5)
    // Gaussian, lognormal, heavy-tailed, a constant series (m2 = 0), the
    // n = 8 edge and two entities short of it (null stats, no ANSI
    // divide-by-zero)
    val p = panel(Seq.fill(300)(rng.nextGaussian()),
      Seq.fill(300)(math.exp(rng.nextGaussian() * 1.5)),
      Seq.fill(200)(rng.nextGaussian() / (rng.nextDouble() + 1e-3)),
      Seq.fill(20)(3.25),
      Seq.fill(8)(rng.nextGaussian()),
      Seq.fill(7)(rng.nextGaussian()),
      Seq(1.0, 2.0))
    def rows(df: DataFrame): Map[Int, Seq[Option[Long]]] = df.collect().map { r =>
      r.getInt(0) -> (1 until r.length).map(i =>
        if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i))))
    }.toMap
    val want = rows(refNormality(p))
    val wantR6 = rows(Q.r6(refNormality(p)))
    // with codegen fallback off, a stage past the JVM method limit
    // throws instead of running interpreted
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val (got, gotR6) =
      try (rows(Evaluation.normalityTest(p)), rows(Q.r6(Evaluation.normalityTest(p))))
      finally spark.conf.unset("spark.sql.codegen.fallback")
    assert(got.size == 7 && got == want, s"$got vs $want")
    assert(gotR6 == wantR6, s"$gotR6 vs $wantR6")
    assert(Seq(0, 1, 2, 4).forall(got(_)(2).isDefined) && Seq(3, 5, 6).forall(got(_)(2).isEmpty))
  }

  test("acf with Bartlett bounds: white noise inside, AR(1) lag-1 outside") {
    val rng = new scala.util.Random(7)
    val noise = Seq.fill(400)(rng.nextGaussian())
    val ar = noise.scanLeft(0.0)((prev, e) => 0.9 * prev + e).tail
    val out = Evaluation.acf(panel(noise, ar), maxLags = 2).collect()
      .map(r => r.getInt(0) -> r).toMap
    // white noise: |acf_1| within the CI band
    assert(math.abs(out(0).getAs[Double]("acf_1")) < out(0).getAs[Double]("ci_1"))
    // AR(0.9): lag-1 autocorrelation far outside the band
    assert(out(1).getAs[Double]("acf_1") > 0.8)
    assert(out(1).getAs[Double]("acf_1") > out(1).getAs[Double]("ci_1"))
    // Bartlett bound grows with lag (ci_2 >= ci_1)
    assert(out(1).getAs[Double]("ci_2") > out(1).getAs[Double]("ci_1"))
  }
}