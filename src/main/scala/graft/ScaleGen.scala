package graft

import org.apache.spark.sql.functions._

/** Synthesize an sf1-SHAPED dataset from sf0.1 for the r15 scaling
  * table (VERDICT r14 #8): every table is replicated `factor` times
  * with ID-key offsets so each replica is a disjoint, referentially
  * consistent copy — 10× the entities with the same per-entity series
  * lengths, which is exactly the axis the bench families scale on.
  * Value/time columns are untouched, so distributions match sf0.1.
  * Writes to `outDir` (default /tmp/sf1graft); NEVER touches
  * /root/testdata (read-only, driver-generated).
  *
  * Usage: runMain graft.ScaleGen [outDir] [factor]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "/tmp/sf1graft"
    val factor = if (args.length > 1) args(1).toInt else 10
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    // per-table ID columns to shift per replica (offset = max+1, so
    // replicas are disjoint); every other column is copied verbatim
    val keyCols: Map[String, Seq[String]] = Map(
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "customer" -> Seq("c_custkey"),
      "part" -> Seq("p_partkey"),
      "supplier" -> Seq("s_suppkey"),
      "nation" -> Nil, // small dims: single copy keeps FK targets valid
      "region" -> Nil)
    keyCols.foreach { case (name, keys) =>
      val df = spark.read.parquet(s"$srcDir/$name.parquet")
      val out =
        if (keys.isEmpty) df
        else {
          val offs = keys.map { k =>
            k -> (df.agg(max(col(k))).collect()(0).getAs[Number](0).longValue() + 1L)
          }.toMap
          (0 until factor).map { i =>
            keys.foldLeft(df) { (d, k) =>
              d.withColumn(k, (col(k) + lit(i.toLong * offs(k))).cast(df.schema(k).dataType))
            }
          }.reduce(_ unionAll _)
        }
      out.repartition(16).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[scalegen] $name x${if (keys.isEmpty) 1 else factor} -> $outDir/$name.parquet")
    }
    spark.stop()
  }
}
