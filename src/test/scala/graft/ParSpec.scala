package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.TestBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, Repartition}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import graft.core.Par
import graft.functions.F

/** `Par.fan` on the doc→point parse chain: the round-robin exchange sits
  * directly above the single-split scan, so the explode and the WKT parse
  * run full-width; the decision runs no job. */
class ParSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // one small parquet file = one scan split
  private lazy val docsDir: String = {
    val dir = Files.createTempDirectory("parspec").resolve("docs.parquet").toString
    (1 to 60).map { d =>
      (d.toLong, Seq(
        ("text", 0, f"POINT(${d * 0.5 - 15}%.3f ${d * 0.25 - 7}%.3f)"),
        ("media", 1, s"tile://$d"),
        ("text", 2, f"POINT(${-d * 0.75}%.3f ${d * 0.125}%.3f)")))
    }.toDF("doc_id", "spans")
      .select(col("doc_id"), transform(col("spans"), s => struct(
        s("_1").as("kind"), s("_2").as("offset"), s("_3").as("text"))).as("spans"))
      .coalesce(1).write.parquet(dir)
    dir
  }

  private def chain: DataFrame = {
    F.ensureRegistered(spark)
    spark.read.parquet(docsDir)
      .select(col("doc_id"), explode(col("spans")).as("span"))
      .where(col("span.kind") === "text")
      .select(col("doc_id"), col("span.offset").as("offset"),
        F.st_geomfromwkt(col("span.text")).as("g"))
      .select(col("doc_id"), col("offset"), F.st_x(col("g")).as("lon"), F.st_y(col("g")).as("lat"))
  }

  private def fanJobs(df: DataFrame): (DataFrame, Int) =
    TestBus.countJobs(spark.sparkContext)(Par.fan(df))

  private def repartitionChild(df: DataFrame): LogicalPlan = {
    val reps = df.queryExecution.optimizedPlan.collect { case r: Repartition => r }
    assert(reps.size == 1, df.queryExecution.optimizedPlan)
    reps.head.child
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("fan puts the exchange directly above a single-split scan; rows unchanged") {
    val p = spark.sparkContext.defaultParallelism
    assert(chain.rdd.getNumPartitions == 1)
    val (fanned, jobs) = fanJobs(chain)
    assert(jobs == 0)
    val below = repartitionChild(fanned)
    // only the scan (and its pruning projection) sits under the exchange:
    // the explode and the parse run above it, in p tasks
    assert(below.collectLeaves().forall(_.isInstanceOf[LogicalRelation]), below)
    assert(below.collectFirst { case g: Generate => g }.isEmpty, below)
    assert(fanned.queryExecution.optimizedPlan.collectFirst { case g: Generate => g }
      .exists(_.exists(_.isInstanceOf[Repartition])))
    assert(fanned.rdd.getNumPartitions == p)
    assert(rows(fanned) == rows(chain))
    assert(rows(fanned).size == 120)
  }

  test("a non-deterministic column keeps the exchange on top") {
    val r = chain.withColumn("r", rand(7))
    val (fanned, jobs) = fanJobs(r)
    assert(jobs == 0)
    assert(repartitionChild(fanned).collectFirst { case g: Generate => g }.isDefined)
    // rand() still draws in the scan's single partition: same values
    assert(rows(fanned) == rows(r))
  }

  test("a persisted input is fanned above its InMemoryRelation, never re-read") {
    val cached = chain.persist()
    try {
      val (fanned, jobs) = fanJobs(cached.where(col("offset") === 0).select("doc_id", "lon"))
      assert(jobs == 0)
      val below = repartitionChild(fanned)
      assert(below.collectLeaves().forall(_.isInstanceOf[InMemoryRelation]), below)
      assert(rows(fanned) == rows(chain.where(col("offset") === 0).select("doc_id", "lon")))
      // materialized, the decision reads the cached partition count
      val (again, jobs2) = fanJobs(cached.select("doc_id"))
      assert(jobs2 == 0)
      assert(repartitionChild(again).collectLeaves().forall(_.isInstanceOf[InMemoryRelation]))
    } finally cached.unpersist(true)
  }

  test("fan on an aggregate runs no job and leaves the plan as it is") {
    val agg = chain.groupBy("doc_id").count()
    val (out, jobs) = fanJobs(agg)
    assert(jobs == 0)
    assert(out eq agg)
    // persisted but not yet materialized: reading its width would run it
    val cachedAgg = agg.persist()
    try {
      val projected = cachedAgg.select("doc_id")
      val (out2, jobs2) = fanJobs(projected)
      assert(jobs2 == 0)
      assert(out2 eq projected)
    } finally cachedAgg.unpersist(true)
  }
}
