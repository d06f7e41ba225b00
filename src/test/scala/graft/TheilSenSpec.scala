package graft

import graft.core.Panel
import graft.functions.TheilSen
import graft.operators.Preprocess
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The per-entity Theil–Sen kernel against the pair self-join + Spark
  * `percentile` formulation it replaced (kept below as the reference),
  * bit for bit on seeded panels with slope ties, null gaps, NaN, ±Inf,
  * ±0.0 and degenerate entities. */
class TheilSenSpec extends SparkSpec {

  /** The former operator: pair rows from a per-entity self-join, both
    * medians by Spark's exact `percentile`. */
  private def reference(p: Panel): (DataFrame, DataFrame) = {
    val pr = p.withRowIdx("__i")
    val base = pr.df.select((p.entityCols :+ col("__i").cast("double").as("__i") :+
      p.x.as("__y")): _*)
    val a = base.select((p.entityCols :+ col("__i").as("__ia") :+ col("__y").as("__ya")): _*)
    val b = base.select((p.entityCols :+ col("__i").as("__ib") :+ col("__y").as("__yb")): _*)
    val slopes = a.join(b, p.entity).filter(col("__ib") > col("__ia"))
      .select((p.entityCols :+
        ((col("__yb") - col("__ya")) / (col("__ib") - col("__ia"))).as("__s")): _*)
    val betas = slopes.groupBy(p.entityCols: _*)
      .agg(expr("percentile(__s, 0.5)").as("__beta"))
    val art = base.join(broadcast(betas), p.entity)
      .groupBy(p.entityCols: _*)
      .agg(first(col("__beta")).as("__beta"),
        expr("percentile(__y - __beta * __i, 0.5)").as("__alpha"))
    val out = pr.df.join(broadcast(art), p.entity, "left")
      .withColumn(p.value, p.x - (col("__beta") * col("__i").cast("double") + col("__alpha")))
      .drop("__beta", "__alpha")
    (out, art)
  }

  /** Same bits, or zeros of either sign: Spark's percentile orders and
    * ties −0.0 with 0.0, so which sign lands at a position is open. */
  private def same(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (Some(x), Some(y)) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y) ||
        (x == 0.0 && y == 0.0)
    case _ => a == b
  }

  private def opt(r: org.apache.spark.sql.Row, k: Int): Option[Double] =
    if (r.isNullAt(k)) None else Some(r.getDouble(k))

  /** Seeded panel: random lengths 1..14, values drawn from small
    * integers (slope ties), nulls, NaN, ±Inf, ±0.0 and Gaussians, plus
    * fixed 1-point, 2-point, 2-point-one-null and all-null entities. */
  private def randomPanel(seed: Long, entities: Int): Panel = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def draw(): Option[Double] = rnd.nextInt(20) match {
      case 0 => None
      case 1 => Some(Double.NaN)
      case 2 => Some(if (rnd.nextBoolean()) Double.PositiveInfinity else Double.NegativeInfinity)
      case 3 => Some(0.0)
      case 4 => Some(-0.0)
      case k if k < 12 => Some(rnd.nextInt(5).toDouble)
      case _ => Some(rnd.nextGaussian() * 10)
    }
    val fixed = Seq(Seq(Some(3.0)), Seq(Some(1.0), Some(4.0)), Seq(Some(1.0), None),
      Seq(None, None, None), Seq(Some(-0.0), Some(0.0), Some(-0.0)))
    val series = fixed ++ Seq.fill(entities)(Seq.fill(1 + rnd.nextInt(14))(draw()))
    val rows = series.zipWithIndex.flatMap { case (s, e) =>
      s.zipWithIndex.map { case (v, t) => (e, t, v) }
    }
    Panel(rows.toDF("entity", "t", "value").repartition(3), Seq("entity"), Seq("t"), "value")
  }

  test("kernel matches the self-join + percentile reference bitwise on seeded panels") {
    Seq(11L, 12L, 13L).foreach { seed =>
      val p = randomPanel(seed, 60)
      val nEntities = p.df.select("entity").distinct().count()
      val (out, art) = Preprocess.detrendTheilSen(p)
      val (refOut, refArt) = reference(p)

      val got = art.collect().map(r => r.getInt(0) -> (opt(r, 1), opt(r, 2))).toMap
      val want = refArt.collect().map(r => r.getInt(0) -> (opt(r, 1), opt(r, 2))).toMap
      assert(got.size == nEntities, s"seed $seed: one artifact row per entity")
      got.foreach { case (e, (beta, alpha)) =>
        want.get(e) match {
          case Some((rb, ra)) =>
            assert(same(beta, rb), s"seed $seed entity $e beta $beta vs $rb")
            assert(same(alpha, ra), s"seed $seed entity $e alpha $alpha vs $ra")
          case None => // the reference drops 1-row entities from its frame
            assert(beta.isEmpty && alpha.isEmpty, s"seed $seed entity $e")
        }
      }
      // the sample must exercise the odd and even pair-count branches
      val nonNull = p.df.filter(col("value").isNotNull).groupBy("entity").count()
        .collect().map(_.getLong(1)).filter(_ >= 2)
      assert(nonNull.exists(n => n * (n - 1) / 2 % 2 == 1) &&
        nonNull.exists(n => n * (n - 1) / 2 % 2 == 0))

      val key = Seq("entity", "t")
      val resid = out.select(col("entity"), col("t"), col("value").as("got"))
        .join(refOut.select(col("entity"), col("t"), col("value").as("want")), key)
        .collect()
      assert(resid.length == p.df.count())
      resid.foreach { r =>
        assert(same(opt(r, 2), opt(r, 3)),
          s"seed $seed entity ${r.getInt(0)} t ${r.getInt(1)}: ${opt(r, 2)} vs ${opt(r, 3)}")
      }
    }
  }

  test("median equals Spark percentile(x, 0.5) on small arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val pool = Array(0.0, -0.0, 1.0, -1.0, 2.5, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1e308, -1e308)
    // near-max and subnormal pairs catch a (lo + hi) / 2 shortcut, which
    // overflows or rounds where Spark's weighted sum does not
    val edges = Seq(Array(1e308, 1.7e308), Array(-1.7e308, -1e308),
      Array(Double.MinPositiveValue, 5 * Double.MinPositiveValue))
    val arrays = edges ++ (0 until 400).map(_ => Array.fill(1 + rnd.nextInt(8))(
      if (rnd.nextInt(3) == 0) rnd.nextGaussian() else pool(rnd.nextInt(pool.length))))
    val rows = arrays.zipWithIndex.flatMap { case (xs, k) => xs.map(x => (k, x)) }
    val spark50 = rows.toDF("k", "x").groupBy("k").agg(expr("percentile(x, 0.5)"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    arrays.zipWithIndex.foreach { case (xs, k) =>
      val sorted = xs.clone()
      java.util.Arrays.sort(sorted)
      val got = TheilSen.median(sorted)
      assert(same(Some(got), Some(spark50(k))),
        s"${xs.mkString("[", ", ", "]")}: $got vs ${spark50(k)}")
    }
  }

  test("an entity past the pair ceiling fails with a named error before allocating") {
    val n = TheilSen.MaxPoints + 1
    val e = intercept[IllegalArgumentException](
      TheilSen.fit(Array.tabulate(n)(_.toLong), new Array[Double](n)))
    assert(e.getMessage.contains("detrendTheilSen") && e.getMessage.contains(s"n = $n"),
      e.getMessage)
  }
}
