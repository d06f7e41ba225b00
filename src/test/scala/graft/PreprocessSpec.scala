package graft

import graft.core.Panel
import graft.operators.Preprocess
import org.apache.spark.sql.functions._

/** Transform correctness + invert round-trips (the reference's key
  * invariant — tests/test_preprocessing.py:192-331). */
class PreprocessSpec extends SparkSpec {

  private def values(df: org.apache.spark.sql.DataFrame, p: Panel): Seq[Double] =
    df.orderBy("entity", "t").select(p.value).collect().map(r =>
      if (r.isNullAt(0)) Double.NaN else r.getDouble(0)).toSeq

  test("scale → invert round-trips") {
    val p = panel(Seq(1, 2, 3, 4, 5), Seq(10, 20, 30, 40, 50))
    val (scaled, art) = Preprocess.scale(p)
    val back = Preprocess.scaleInvert(scaled, art, p.entity, p.value)
    values(back, p).zip(values(p.df, p)).foreach { case (g, w) => assertClose(g, w, 1e-9) }
  }

  test("scale standardizes per entity") {
    val p = panel(Seq(2, 4, 6, 8))
    val (scaled, _) = Preprocess.scale(p)
    val vs = values(scaled, p)
    assertClose(vs.sum, 0.0, 1e-9)
    // ddof=1 std → values / samp-std
    assertClose(vs.max, 3.0 / math.sqrt(20.0 / 3), 1e-9)
  }

  test("diff sp=1 order=1 → invert round-trips") {
    val p = panel(Seq(3, 1, 4, 1, 5, 9, 2, 6))
    val (diffed, heads) = Preprocess.diff(p, order = 1, sp = 1)
    val back = Preprocess.diffInvert(diffed, heads, p.entity, p.order, p.value, sp = 1)
    values(back, p).zip(values(p.df, p)).foreach { case (g, w) => assertClose(g, w, 1e-9) }
  }

  test("diff sp=3 order=2 → invert round-trips") {
    val s = Seq(3.0, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8)
    val p = panel(s)
    val (diffed, heads) = Preprocess.diff(p, order = 2, sp = 3)
    val back = Preprocess.diffInvert(diffed, heads, p.entity, p.order, p.value, sp = 3)
    values(back, p).zip(s).foreach { case (g, w) => assertClose(g, w, 1e-9) }
  }

  test("boxcox/yeojohnson invert round-trips") {
    val xs = Seq(0.5, 1.0, 2.5, 7.0)
    val p = panel(xs)
    val bc = p.df.withColumn("value", Preprocess.boxcox(col("value"), lit(0.3)))
    val back = bc.withColumn("value", Preprocess.boxcoxInvert(col("value"), lit(0.3)))
    values(back, p).zip(xs).foreach { case (g, w) => assertClose(g, w, 1e-9) }
    // λ=0 branch
    val bc0 = p.df.withColumn("value", Preprocess.boxcox(col("value"), lit(0.0)))
    val back0 = bc0.withColumn("value", Preprocess.boxcoxInvert(col("value"), lit(0.0)))
    values(back0, p).zip(xs).foreach { case (g, w) => assertClose(g, w, 1e-9) }
  }

  test("detrend removes a perfect linear trend") {
    val p = panel((0 until 20).map(i => 3.0 + 2.0 * i))
    val (resid, art) = Preprocess.detrendLinear(p)
    values(resid, p).foreach(v => assertClose(v, 0.0, 1e-9))
    val a = art.collect()(0)
    assertClose(a.getAs[Double]("__beta"), 2.0, 1e-9)
    assertClose(a.getAs[Double]("__alpha"), 3.0, 1e-9)
  }

  test("Theil-Sen detrend is robust to outliers where OLS is not") {
    // clean slope 2, but 3 of 30 points blown up by +500: the median
    // pairwise slope ignores them, the least-squares slope does not
    val xs = (0 until 30).map(i => 3.0 + 2.0 * i +
      (if (i >= 27) 500.0 else 0.0))
    val p = panel(xs)
    val (_, tsArt) = Preprocess.detrendTheilSen(p)
    val ts = tsArt.collect()(0)
    assertClose(ts.getAs[Double]("__beta"), 2.0, 0.1)
    assertClose(ts.getAs[Double]("__alpha"), 3.0, 1.5)
    val (_, olsArt) = Preprocess.detrendLinear(p)
    val beta = olsArt.collect()(0).getAs[Double]("__beta")
    assert(math.abs(beta - 2.0) > 0.5, s"OLS slope $beta should be pulled by outliers")
  }

  test("Theil-Sen artifacts: one row per entity, null below two non-null points") {
    import spark.implicits._
    val df = Seq(
      (0, 0, Some(5.0)),                                   // one row
      (1, 0, Some(1.0)), (1, 1, None),                     // one non-null point
      (2, 0, None), (2, 1, None),                          // all null
      (3, 0, Some(1.0)), (3, 1, None), (3, 2, Some(5.0))   // a null keeps its index
    ).toDF("entity", "t", "value")
    val p = Panel(df, Seq("entity"), Seq("t"), "value")
    val (out, art) = Preprocess.detrendTheilSen(p)
    val arts = art.collect().map(r =>
      r.getInt(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(art.count() == 4 && arts.keySet == Set(0, 1, 2, 3))
    Seq(0, 1, 2).foreach(e => assert(arts(e) == ((None, None)), s"entity $e"))
    // slope (5 − 1)/(2 − 0) = 2 across the gap, intercept median(1, 5 − 4) = 1
    assert(arts(3) == ((Some(2.0), Some(1.0))))
    val resid = out.orderBy("entity", "t").select("value").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(resid == Seq(None, None, None, None, None, Some(0.0), None, Some(0.0)))
  }

  test("impute mean / ffill / interpolate") {
    import spark.implicits._
    val df = Seq((0, 0, Some(1.0)), (0, 1, None), (0, 2, Some(3.0)), (0, 3, None), (0, 4, None), (0, 5, Some(9.0)))
      .toDF("entity", "t", "value")
    val p = Panel(df, Seq("entity"), Seq("t"), "value")
    val mean = values(Preprocess.impute(p, Preprocess.ImputeMean), p)
    assertClose(mean(1), (1 + 3 + 9) / 3.0)
    val ff = values(Preprocess.impute(p, Preprocess.ImputeForward), p)
    assertClose(ff(1), 1.0); assertClose(ff(3), 3.0); assertClose(ff(4), 3.0)
    val li = values(Preprocess.interpolate(p), p)
    assertClose(li(1), 2.0); assertClose(li(3), 5.0); assertClose(li(4), 7.0)
  }

  test("lag drops maxLag warmup rows and shifts correctly") {
    val p = panel(Seq(1, 2, 3, 4, 5))
    val out = Preprocess.lag(p, Seq(1, 2)).orderBy("t").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Double]("value__lag_1") == 2.0)
    assert(out(0).getAs[Double]("value__lag_2") == 1.0)
  }

  test("roll window excludes current row (leakage shift)") {
    val p = panel(Seq(1, 2, 3, 4, 5))
    val out = Preprocess.roll(p, Seq(2), Seq("mean")).orderBy("t").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("value__rolling_mean_2")))
    assertClose(out(2).getAs[Double]("value__rolling_mean_2"), 1.5) // rows 0,1
  }

  test("fracDiff weights match binomial recursion (fractional_differencing.rs:7-21)") {
    val w = Preprocess.fracDiffWeights(0.5, 1e-5, 100)
    assertClose(w(0), 1.0); assertClose(w(1), -0.5); assertClose(w(2), -0.125)
    assertClose(w(3), -0.0625)
  }

  test("reindex fills the full grid") {
    import spark.implicits._
    val df = Seq((0, 0, 1.0), (0, 2, 3.0), (1, 1, 5.0)).toDF("entity", "t", "value")
    val p = Panel(df, Seq("entity"), Seq("t"), "value")
    val out = Preprocess.reindex(p, "t")
    assert(out.count() == 6) // 2 entities × 3 times
    assert(out.filter(col("value").isNull).count() == 3)
  }

  test("trim clips to common window") {
    import spark.implicits._
    val df = Seq((0, 0, 1.0), (0, 1, 1.0), (0, 2, 1.0), (1, 1, 2.0), (1, 2, 2.0), (1, 3, 2.0))
      .toDF("entity", "t", "value")
    val p = Panel(df, Seq("entity"), Seq("t"), "value")
    val out = Preprocess.trim(p, "t")
    assert(out.count() == 4) // t ∈ [1, 2] for both entities
  }

  test("one-hot transform_new: unseen categories get columns, missing fitted categories raise") {
    import spark.implicits._
    val fitDf = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "cat")
    val fitted = Preprocess.oneHotCategories(fitDf, "cat")
    assert(fitted == Seq("a", "b"))
    // new data has both fitted categories plus an unseen one → ok,
    // re-dummied on its own categories (preprocessing.py:243-251)
    val newDf = Seq((4L, "a"), (5L, "b"), (6L, "c")).toDF("id", "cat")
    val out = Preprocess.oneHotTransformNew(newDf, "cat", fitted)
    assert(out.columns.toSeq == Seq("id", "cat__a", "cat__b", "cat__c"))
    assert(out.orderBy("id").collect().map(_.getInt(3)).toSeq == Seq(0, 0, 1))
    // a fitted category absent from the new data must raise
    val missingDf = Seq((7L, "a"), (8L, "c")).toDF("id", "cat")
    val e = intercept[IllegalArgumentException] {
      Preprocess.oneHotTransformNew(missingDf, "cat", fitted)
    }
    assert(e.getMessage.contains("Missing categories"))
    assert(e.getMessage.contains("b"))
  }
}
