package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Package-access shim (the Register/Columns seam pattern): build
  * DataFrames the public API cannot. [[ofInternal]] rebuilds one from an
  * already-computed InternalRow RDD. `internalCreateDataFrame`
  * is `private[sql]`; routing through it gives iterative loops a
  * LogicalRDD-rooted plan — i.e. real logical-plan truncation — without
  * the double-compute + disk round-trip of Dataset.checkpoint or the
  * cluster-unsafe block lifetime of localCheckpoint (the backing RDD here
  * is persist()ed with intact lineage, so lost blocks recompute). */
object Frames {
  def ofInternal(spark: SparkSession, rdd: RDD[InternalRow],
                 schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** A DataFrame over a rewritten logical plan (`Dataset.ofRows` is
    * `private[sql]`); `graft.core.Par.fan` uses it to move its exchange
    * down to the scan. */
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A clone of `spark` with one SQL setting changed (`cloneSession` is
    * `private[sql]`). The clone shares `spark`'s context and cached data;
    * the setting leaves `spark` itself unchanged. */
  def withConf(spark: SparkSession, key: String, value: String): SparkSession = {
    val clone = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    clone.sessionState.conf.setConfString(key, value)
    clone
  }

  /** The relation `Dataset.persist` would register for `df` at `level`,
    * planned as `CacheManager.cacheQuery` plans it (in a session with the
    * same configs off), but registered nowhere. Building it runs no job. */
  def inMemoryRelation(df: DataFrame, level: StorageLevel): InMemoryRelation = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val off = SQLConf.AUTO_BUCKETED_SCAN_ENABLED +:
      (if (session.sessionState.conf.getConf(SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING)) Nil
       else Seq(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS))
    val planner = org.apache.spark.sql.classic.SparkSession
      .getOrCloneSessionWithConfigsOff(session, off)
    planner.withActive {
      InMemoryRelation(level, planner.sessionState.executePlan(df.queryExecution.analyzed), None)
    }
  }
}
