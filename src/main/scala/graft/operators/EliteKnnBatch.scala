package graft.operators

import graft.core.Panel
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batched exact-path recursive-KNN runner for the elite zoo's knn
  * family (elite.py:83-88 — knn / knn_scaled / knn_detrend_linear).
  *
  * The per-member path costs members × (nSplits · testSize + fh)
  * corpus scans (each CV slice's recursive roll re-scans its
  * reduction per horizon step — 39 scan jobs for the 3-member
  * default). The scan is corpus-bound, not query-bound: one pass
  * serves any number of query groups at ~the same cost. So this
  * runner unions every (member × CV-slice) context's transformed
  * reduction into ONE cached frame tagged `__grp`, and each horizon
  * step advances ALL active contexts with one [[KnnForecaster.topK]]
  * job (the group is `__grp`; the per-query top-k arrays merge
  * distributed) — max(testSize, fh) scan jobs total.
  *
  * Semantics are exactly the per-member exact path's
  * ([[KnnForecaster.predictRecursive]] under [[Conformal.backtest]]
  * and [[ForecastPipeline]]): same slice construction
  * (expandingWindowSplit over one positioned frame), same per-slice
  * transform fit/invert artifacts, same corpus rule (`na.drop`) and
  * query-state rule per context, same kernel, same pred↔actual
  * __h-join alignment. Only the JOB STRUCTURE changes.
  *
  * Exact-path only: the driver-mediated state roll is what
  * [[KnnForecaster.maxExactEntities]] caps — callers must dispatch to
  * the distributed IVF roll past the cap (EliteDeep does).
  */
object EliteKnnBatch {

  /** One elite knn family member: recursive KNN at (lags, k),
    * optionally behind a per-slice-refit target transform. */
  final case class MemberSpec(name: String, k: Int, lags: Int,
                              xform: Option[ForecastPipeline.Step])

  /** One (member × CV-slice) roll context. split = -1 is the
    * full-panel fit; `inverts` are the slice-fitted transform
    * inverts (reverse-application order handled at use site). */
  private final case class Ctx(m: MemberSpec, split: Int, steps: Int,
                               pT: Panel,
                               inverts: Seq[DataFrame => DataFrame],
                               cachedT: Option[DataFrame])

  /** Compute every member's backtest frame (entity…, timeCol, split,
    * actual, pred — [[Conformal.backtest]]'s contract) and full
    * prediction frame (entity…, timeCol, value) in one batched run.
    * Returned frames are eagerly materialized (localCheckpoint); each
    * is also appended to `releases` so the caller can free the
    * checkpoint blocks once its own copies are materialized. */
  def backtestAndFull(p: Panel, timeCol: String, freq: String,
                      members: Seq[MemberSpec], testSize: Int, nSplits: Int,
                      stepSize: Int, fh: Int,
                      releases: scala.collection.mutable.Buffer[DataFrame],
                      corpusFraction: Double = 1.0)
      : Map[String, (DataFrame, DataFrame)] = {
    if (members.isEmpty) return Map.empty
    // one positioned frame for every member's splits (Conformal
    // .backtest does the same per member)
    val positioned = CrossValidation.withPosition(p).localCheckpoint(true)
    releases += positioned
    val splits = CrossValidation.expandingWindowSplit(p, testSize, nSplits,
      stepSize, Some(positioned))
    // the kernel's inner fold is lags-wide and its states k-deep —
    // members sharing (lags, k) share one scan; mixed-depth zoos run
    // one sub-batch per depth (each still collapses its own
    // nSplits·testSize + fh per-slice scans to max(testSize, fh))
    members.groupBy(m => (m.lags, m.k)).toSeq.flatMap { case ((lags, k), ms) =>
      runBatch(p, timeCol, freq, ms, splits, testSize, fh, lags, k, releases,
        corpusFraction)
    }.toMap
  }

  private def runBatch(p: Panel, timeCol: String, freq: String,
                       ms: Seq[MemberSpec],
                       splits: Seq[(DataFrame, DataFrame)],
                       testSize: Int, fh: Int, lags: Int, k: Int,
                       releases: scala.collection.mutable.Buffer[DataFrame],
                       corpusFraction: Double = 1.0)
      : Seq[(String, (DataFrame, DataFrame))] = {
    val spark = p.df.sparkSession
    val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l")
    val nEntity = p.entityCols.length
    // fit each context's transform on ITS slice (the per-split refit
    // the reference's target_transform wrapping implies); cache the
    // transformed core columns like ForecastPipeline.fit — both the
    // reduction union and the query tails read it
    val ctxs: Seq[Ctx] = ms.flatMap { m =>
      val slices = splits.zipWithIndex.map { case ((tr, _), i) =>
        (p.copy(df = tr), i, testSize)
      } :+ ((p, -1, fh))
      slices.map { case (slice, i, steps) =>
        m.xform match {
          case Some(step) =>
            val fs = step(slice, timeCol)
            val core = (p.entity ++ p.order ++ Seq(p.value)).distinct
            val cached = fs.out.df.select(core.map(col): _*).cache()
            Ctx(m, i, steps, slice.copy(df = cached), Seq(fs.invert), Some(cached))
          case None => Ctx(m, i, steps, slice, Nil, None)
        }
      }
    }
    val withGrp = ctxs.zipWithIndex
    // coalesce the union: each branch's lag window leaves
    // numShufflePartitions partitions, so the raw union would carry
    // contexts × that many — hundreds of per-step scan tasks whose
    // fixed cost (broadcast handling, top-k state bookkeeping, partial
    // arrays ∝ partitions) dwarfs the distance arithmetic at bench
    // scale. coalesce merges WITHIN branches first (group-locality
    // kept, no shuffle), bounding both the task count and the partial
    // arrays the merge shuffles at partitions × queries × k.
    val nPart = spark.sessionState.conf.numShufflePartitions
    val redUnion = withGrp.map { case (c, g) =>
      Forecasters.makeReduction(c.pT, lags)
        .filter(KnnForecaster.corpusKeep(p.entityCols, corpusFraction))
        .na.drop(featureCols :+ p.value)
        .select((featureCols.map(cn => col(cn).cast("double")) :+
          col(p.value).cast("double").as("__label") :+
          lit(g).as("__grp")): _*)
    }.reduce(_ unionAll _).coalesce(nPart).cache()
    try {
      // one job: materializes the cached union AND yields the
      // per-context non-empty check predictRecursive makes per roll
      val grpCounts = redUnion.groupBy("__grp").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      withGrp.foreach { case (c, g) =>
        require(grpCounts.getOrElse(g, 0L) > 0L,
          s"knn batch: member ${c.m.name}, split ${c.split} has no " +
            s"complete training rows (lags=$lags" +
            (if (corpusFraction < 1.0)
              s"; corpusFraction=$corpusFraction may have gated out every " +
                "corpus entity — raise the fraction"
            else "") + ")")
      }
      // per-context query tails, collected (entity-sized — the exact
      // path's standing assumption, guarded per context); independent
      // jobs, overlapped like the zoo's member futures
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val tails: Seq[(Int, StructType, Array[Row])] =
        Await.result(Future.sequence(withGrp.map { case (c, g) => Future {
          val keep = p.entityCols ++ (col("__cutoff") +:
            (1 to lags).map(l => col(s"${p.value}__lag_$l").cast("double")))
          val sel = KnnForecaster.queryTails(c.pT, timeCol, lags).select(keep: _*)
          val collected = sel.collect()
          KnnForecaster.guardExactEntities(collected.length.toLong,
            s"elite knn batch (${c.m.name}, split ${c.split})")
          (g, sel.schema, collected)
        } }), Duration.Inf)
      // transform caches served both reads (union materialized above,
      // tails collected) — release before the roll
      ctxs.foreach(_.cachedT.foreach(_.unpersist(false)))
      // globally unique qids: per-group offsets over the tail counts
      val counts = tails.map(_._3.length)
      val offsets = counts.scanLeft(0L)(_ + _).toArray
      var states: Array[Array[Array[Double]]] = tails.map { case (_, _, coll) =>
        coll.map(r => Array.tabulate(lags)(j => r.getDouble(nEntity + 1 + j)))
      }.toArray
      val preds: Array[Array[Array[Double]]] =
        withGrp.map { case (c, g) => Array.ofDim[Double](c.steps, counts(g)) }.toArray
      val maxSteps = ctxs.map(_.steps).max
      (1 to maxSteps).foreach { h =>
        val active = withGrp.filter(_._1.steps >= h).map(_._2)
        val qRows = active.flatMap { g =>
          states(g).zipWithIndex.map { case (s, i) => (offsets(g) + i, g, s) }
        }.toArray
        // skip finished groups' rows at the cache scan (codegen'd
        // filter over the columnar cache — no Row conversion for them)
        val scan = if (active.length == ctxs.length) redUnion
                   else redUnion.filter(col("__grp").isin(active.map(Integer.valueOf): _*))
        val near = KnnForecaster.topK(KnnForecaster.corpus(
          GraftSqlBridge.cacheLayoutRows(scan), lags, group = lags + 1), qRows, lags, k)
        active.foreach { g =>
          states(g) = states(g).zipWithIndex.map { case (s, i) =>
            // every query MUST predict (its group is non-empty by the
            // count check above) — fail loud, never roll a silent hole
            // forward
            val qid = offsets(g) + i
            require(near.containsKey(qid), s"knn batch step $h: query $qid " +
              s"(${ctxs(g).m.name}, split ${ctxs(g).split}) produced no prediction")
            val pr = KnnForecaster.meanLabel(near.get(qid), k)
            preds(g)(h - 1)(i) = pr
            pr +: s.dropRight(1)
          }
        }
      }
      // each context's prediction frame as predictRecursive builds it
      // (local 0-based query index within the group), then the
      // slice-fitted inverts in reverse order
      def predFrame(c: Ctx, g: Int): DataFrame = {
        val (_, schema, collected) = tails(g)
        val out = KnnForecaster.forecastFrame(p, timeCol, freq,
          schema.fields.take(nEntity + 1).toIndexedSeq,
          collected.map(_.toSeq.take(nEntity + 1)).toIndexedSeq,
          for { h <- 1 to c.steps; i <- collected.indices } yield (i, h, preds(g)(h - 1)(i)))
        c.inverts.reverse.foldLeft(out)((df, inv) => inv(df))
      }
      Await.result(Future.sequence(ms.map { m => Future {
        val mCtxs = withGrp.filter(_._1.m eq m)
        // Conformal.backtest's pred↔actual alignment, per split
        val btParts = mCtxs.filter(_._1.split >= 0).map { case (c, g) =>
          val pred = predFrame(c, g)
            .withColumn("__h", row_number().over(
              Window.partitionBy(p.entityCols: _*).orderBy(col(timeCol))))
            .select((p.entityCols :+ col("__h") :+ col(p.value).as("__pred")): _*)
          val actual = splits(c.split)._2
            .withColumn("__h", row_number().over(
              Window.partitionBy(p.entityCols: _*).orderBy(p.orderCols: _*)))
            .select((p.entityCols ++ Seq(col("__h"), col(timeCol),
              p.x.as("__actual"))): _*)
          actual.join(pred, p.entity :+ "__h", "inner")
            .withColumn("split", lit(c.split))
        }
        val bt = btParts.reduce(_ unionByName _)
          .select((p.entityCols ++ Seq(col(timeCol), col("split"),
            col("__actual").as("actual"), col("__pred").as("pred"))): _*)
          .localCheckpoint(true)
        val (fullCtx, fullG) = mCtxs.find(_._1.split < 0).get
        val full = predFrame(fullCtx, fullG).localCheckpoint(true)
        // member futures append concurrently — synchronize the buffer
        releases.synchronized { releases += bt; releases += full }
        m.name -> (bt, full)
      } }), Duration.Inf)
    } finally redUnion.unpersist(blocking = false)
  }
}
