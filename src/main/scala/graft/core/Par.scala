package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LeafNode, LogicalPlan,
  Project, Repartition, SubqueryAlias}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.graftshim.Frames

/** Scan-parallelism repair (OPTIMIZATION r6; guide §2.5 "input skew —
  * one huge unsplittable file" and §6 input-split sizing).
  *
  * The driver's sf inputs are SINGLE-ROW-GROUP parquet files (verified:
  * every table 1 row group), and parquet scans cannot split below
  * row-group granularity — so every scan is ONE split, and all map-side
  * work before the first exchange (cell encodes, WKT parses, n-gram
  * explodes, JTS probes under a broadcast join) runs on ONE core of the
  * cluster. `fan` round-robin-repartitions up to the cluster's default
  * parallelism — one cheap narrow-row exchange buys full-width map stages.
  *
  * The exchange sits AT THE SCAN: when every node between `df` and its
  * only leaf is a deterministic Project, Filter, Generate or
  * SubqueryAlias, the repartition goes directly above that leaf, so the
  * caller's explodes and parses already run in p tasks (Catalyst still
  * prunes columns and pushes filters below it). A cached input is an
  * InMemoryRelation leaf there, so it is never re-read. Any other plan
  * (a non-deterministic column, a union of scans) is repartitioned on top.
  *
  * The decision reads the plan and runs no job: a chain without an
  * exchange has its leaf's split count; a plan holding an exchange (an
  * aggregate, a join) is returned as it is — its width is the shuffle's,
  * and asking for it would run that shuffle. `fan` is the IDENTITY
  * whenever the plan already has at least p partitions, so at real scale
  * (thousands of splits) no shuffle is added. Partition count derives from
  * the cluster, never a constant. Output row SETS are unchanged
  * (round-robin only moves rows; every consumer is order-insensitive and
  * the verify gate sorts). */
object Par {
  def fan(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.executedPlan
    // without an exchange the lazily built RDD has the scan's split count
    if (exchanges(plan) || plan.execute().getNumPartitions >= p) df
    else atScan(df.queryExecution.withCachedData, p)
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

  /** `plan` with a p-way round-robin exchange directly above its only
    * leaf; None unless every node on the way is a deterministic map. */
  private def atScan(plan: LogicalPlan, p: Int): Option[LogicalPlan] = plan match {
    case leaf: LeafNode => Some(Repartition(p, shuffle = true, leaf))
    case n @ (_: Project | _: Filter | _: Generate | _: SubqueryAlias)
        if n.expressions.forall(_.deterministic) =>
      atScan(n.children.head, p).map(c => n.withNewChildren(Seq(c)))
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
