package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Soak for nearDupGroups on both sides of the driver-union-find
  * threshold: the same synthetic edge graph (chain components force
  * multiple label-propagation rounds; one giant star stresses the
  * skew side) is resolved with the threshold forced above (driver
  * union-find) and below (distributed min-label propagation with
  * pointer jumping), timing each and asserting identical component
  * structure.
  *
  * Usage: runMain graft.SoakUnionFind [nChains] [chainLen] [starSize]
  */
object SoakUnionFind {
  def main(args: Array[String]): Unit = {
    val nChains = args.headOption.map(_.toInt).getOrElse(200000)
    val chainLen = args.drop(1).headOption.map(_.toInt).getOrElse(16)
    val starSize = args.drop(2).headOption.map(_.toInt).getOrElse(500000)
    val spark = GraftSession.build(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    // chains: node ids [c*chainLen, (c+1)*chainLen), edges i->i+1
    val chainEdges = spark.range(nChains.toLong * (chainLen - 1)).select(
      (expr(s"id div ${chainLen - 1}") * chainLen + col("id") % (chainLen - 1)).as("a"),
      (expr(s"id div ${chainLen - 1}") * chainLen + col("id") % (chainLen - 1) + 1).as("b"))
    // star: hub = -1 joined to starSize spokes in their own id space
    val base = nChains.toLong * chainLen
    val starEdges = spark.range(starSize).select(
      lit(-1L).as("a"), (col("id") + base).as("b"))
    val edges = chainEdges.unionAll(starEdges)
      .select(col("a").cast("string"), col("b").cast("string"))
      .repartition(64).persist()
    val nEdges = edges.count()
    println(s"[soak-uf] edges=$nEdges chains=$nChains x$chainLen star=$starSize")
    def run(label: String, threshold: Long): Long = {
      val t0 = System.nanoTime()
      val g = Dedup.nearDupGroups(edges, driverUnionFindThreshold = threshold)
      val nGroups = g.agg(count_distinct(col("group"))).head().getLong(0)
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[soak-uf] $label: $s%.1f s, groups=$nGroups")
      nGroups
    }
    val gDriver = run("driver union-find (threshold=max)", Long.MaxValue)
    val gDist = run("distributed label-prop (threshold=0)", 0L)
    assert(gDriver == gDist && gDriver == nChains + 1,
      s"component counts disagree: driver=$gDriver dist=$gDist expected=${nChains + 1}")
    println("[soak-uf] component structures agree")
    spark.stop()
  }
}
