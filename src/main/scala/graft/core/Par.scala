package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LeafNode, LogicalPlan,
  Project, Repartition, SubqueryAlias}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.graftshim.Frames
import org.apache.spark.sql.internal.SQLConf
import graft.io.CatalogIO

/** Scan-parallelism repair (OPTIMIZATION r6; guide §2.5 "input skew —
  * one huge unsplittable file" and §6 input-split sizing).
  *
  * A small input is read in fewer splits than the cluster has cores: Spark
  * packs files under `openCostInBytes` (4 MB) into one split, and a parquet
  * scan cannot split below row-group granularity (every sf table is one
  * row group in one file). All map-side work before the first exchange
  * (cell encodes, WKT parses, n-gram explodes, JTS probes under a
  * broadcast join) would then run on one core. `fan` widens such a plan
  * to the cluster's default parallelism p in one of two ways, both placed
  * AT THE SCAN: when every node between `df` and its only leaf is a
  * deterministic Project, Filter, Generate or SubqueryAlias, the caller's
  * explodes and parses run in p tasks (Catalyst still prunes columns and
  * pushes filters into the scan).
  *
  *  - SPLIT the scan, when the leaf is a parquet relation with no
  *    partition columns and no buckets whose files hold at least p row
  *    groups (the layout, not a shuffle, sets the unit of parallel work —
  *    as GDAL reads a dataset by its own blocks). The relation is re-bound
  *    to a clone of ITS session whose `maxPartitionBytes` is
  *    ceil(bytes / p), so the scan itself runs in p tasks and nothing is
  *    shuffled. The row-group count comes from the files' footers, read on
  *    the driver.
  *  - Otherwise put a round-robin EXCHANGE directly above the leaf. A
  *    cached input is an InMemoryRelation leaf there, so it is never
  *    re-read. Any other plan (a non-deterministic column, a union of
  *    scans) is repartitioned on top.
  *
  * The decision reads the plan and the footers and runs no job: a chain
  * without an exchange has its leaf's split count; a plan holding an
  * exchange (an aggregate, a join) is returned as it is — its width is the
  * shuffle's, and asking for it would run that shuffle. `fan` is the
  * IDENTITY whenever the plan already has at least p partitions, so at
  * real scale (thousands of splits) nothing changes. Partition count
  * derives from the cluster, never a constant. Output row SETS are
  * unchanged (both ways only move rows between tasks; every consumer is
  * order-insensitive and the verify gate sorts). */
object Par {
  def fan(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.executedPlan
    // without an exchange the lazily built RDD has the scan's split count
    if (exchanges(plan) || plan.execute().getNumPartitions >= p) df
    else atLeaf(df.queryExecution.withCachedData)(leaf =>
        splitScan(leaf, p).getOrElse(Repartition(p, shuffle = true, leaf)))
      .fold(df.repartition(p))(Frames.ofPlan(df.sparkSession, _))
  }

  /** Whether an exchange or a subquery decides the plan's width: reading
    * it would run them. A cache not yet materialized counts by its plan. */
  private def exchanges(plan: SparkPlan): Boolean = plan.exists {
    case _: Exchange | _: AdaptiveSparkPlanExec => true
    case s: InMemoryTableScanExec =>
      !s.relation.cacheBuilder.isCachedColumnBuffersLoaded &&
        exchanges(s.relation.cacheBuilder.cachedPlan)
    case n => n.subqueries.nonEmpty
  }

  /** `plan` with its only leaf replaced by `widen(leaf)`; None unless
    * every node on the way is a deterministic map. */
  private def atLeaf(plan: LogicalPlan)(widen: LeafNode => LogicalPlan): Option[LogicalPlan] =
    plan match {
      case leaf: LeafNode => Some(widen(leaf))
      case n @ (_: Project | _: Filter | _: Generate | _: SubqueryAlias)
          if n.expressions.forall(_.deterministic) =>
        atLeaf(n.children.head)(widen).map(c => n.withNewChildren(Seq(c)))
      case _ => None
    }

  /** Names the split count in a re-bound relation's options. A
    * `HadoopFsRelation`'s equality ignores its session, so without a
    * differing field `withNewChildren` would keep the old leaf. */
  private[graft] val SplitsOption = "graft.fan.splits"

  /** `leaf` read in about p splits, if it is a batch parquet relation with
    * no partition columns and no buckets whose files hold at least p row
    * groups; None otherwise. `FileSourceScanExec` sizes its splits from the
    * relation's own session when it executes, so the clone is that
    * session's, and the caller's listeners still see the query. */
  private def splitScan(leaf: LeafNode, p: Int): Option[LogicalPlan] = leaf match {
    case l @ LogicalRelation(fs: HadoopFsRelation, _, _, false, _)
        if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
          fs.partitionSchema.isEmpty && fs.bucketSpec.isEmpty =>
      val files = fs.location.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus)
      val conf = fs.sparkSession.sessionState.newHadoopConf()
      if (files.iterator.map(CatalogIO.footer(_, conf).rowGroups).sum < p) None
      else {
        val split = (files.map(_.getLen).sum + p - 1) / p
        val session = Frames.withConf(fs.sparkSession,
          SQLConf.FILES_MAX_PARTITION_BYTES.key, split.toString)
        Some(l.copy(relation = fs.copy(options = fs.options + (SplitsOption -> p.toString))(session)))
      }
    case _ => None
  }

  /** Streaming variant: a streaming DataFrame cannot report partition
    * counts at plan time, so fan unconditionally to cluster parallelism.
    * Used on file-stream sources that mirror the single-row-group batch
    * inputs; at scale the repartition is ~neutral (the micro-batch scan's
    * splits are re-spread across the same executors). */
  def fanStream(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}
