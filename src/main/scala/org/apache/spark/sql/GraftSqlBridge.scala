package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Access bridge for `private[sql]` classic-API internals: the
  * Column↔Expression conversion — the standard pattern for Spark
  * extension libraries that define custom Catalyst expressions — and
  * planning a frame the way its cache would. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The rows of `df` exactly as `df.cache()` would materialize them:
    * the same executed plan, hence the same partitions and the same row
    * order within each. Like `CacheManager`, it plans in a session with
    * AQE's final-stage shuffle optimizations off (unless
    * `canChangeCachedPlanOutputPartitioning` is set), so the last stage
    * is not coalesced. `toRdd` runs the plan's shuffle stages (and the
    * build of any cached input) at once; they run as the caller's
    * artifact session, because under the clone's every call would be a
    * new session on the executors, whose class loader misses the
    * codegen cache. */
  def cacheLayoutRows(df: DataFrame): RDD[InternalRow] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val session = ds.sparkSession
    val off =
      if (session.sessionState.conf.getConf(SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING))
        Seq(SQLConf.AUTO_BUCKETED_SCAN_ENABLED)
      else Seq(SQLConf.AUTO_BUCKETED_SCAN_ENABLED,
        SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS)
    val s = classic.SparkSession.getOrCloneSessionWithConfigsOff(session, off)
    session.artifactManager.withResources(
      s.withActive(s.sessionState.executePlan(ds.logicalPlan).toRdd))
  }

  /** Driver rows as a frame over one partition whose plan says so
    * (`SinglePartition`): a global aggregate or a per-key window over
    * it needs no exchange. A plain `createDataFrame` over the same RDD
    * reports an unknown partitioning, so a hash of its rows costs a
    * shuffle and a second job. */
  def onePartitionFrame(session: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    val s = session.asInstanceOf[classic.SparkSession]
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val internal = rows.map(r => toCatalyst(r).asInstanceOf[InternalRow])
    classic.Dataset.ofRows(s, LogicalRDD(DataTypeUtils.toAttributes(schema),
      s.sparkContext.parallelize(internal, 1), SinglePartition)(s))
  }
}
