package org.apache.spark.rdd

import org.apache.spark.{Partition, SparkEnv}
import org.apache.spark.storage.RDDBlockId

import scala.reflect.ClassTag

/** Access bridge for the package-private default partition coalescer. */
object GraftRddBridge {

  /** `rdd.coalesce(parts)` of a persisted, materialized RDD, grouped as
    * the DataFrame `coalesce` over a cached relation groups it: the
    * default coalescer, fed each partition's block locations straight
    * from the block manager. The scheduler's location memo can still
    * hold the empty locations it saw while the blocks were being
    * computed; the default coalescer would then fall back to contiguous
    * ranges, a different grouping and so a different fold order. */
  def coalesceCached[T: ClassTag](rdd: RDD[T], parts: Int): RDD[T] =
    rdd.coalesce(parts, shuffle = false, Some(new CachedLocsCoalescer))

  /** The parent partition indices of each partition of
    * [[coalesceCached]]`(rdd, parts)`, in the order its tasks read
    * them. */
  def coalesceGroups[T: ClassTag](rdd: RDD[T], parts: Int): Array[Array[Int]] =
    coalesceCached(rdd, parts).partitions
      .map(_.asInstanceOf[CoalescedRDDPartition].parentsIndices)

  // runs on the driver only, but rides along when the RDD is serialized
  private final class CachedLocsCoalescer extends PartitionCoalescer with Serializable {
    override def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] =
      new DefaultPartitionCoalescer() {
        override def currPrefLocs(part: Partition, prev: RDD[_]): Seq[String] =
          SparkEnv.get.blockManager.master.getLocations(RDDBlockId(prev.id, part.index))
            .map(_.host)
      }.coalesce(maxPartitions, parent)
  }
}
