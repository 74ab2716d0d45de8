package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.TestBus
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, Repartition}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import graft.core.Par
import graft.functions.F
import graft.io.CatalogIO

/** `Par.fan` on the doc→point parse chain: a parquet scan of at least p
  * row groups is read in p splits with no exchange; any other single-split
  * scan gets a round-robin exchange directly above it. Either way the
  * explode and the WKT parse run full-width, and the decision runs no job. */
class ParSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val p = spark.sparkContext.defaultParallelism

  private def docs: DataFrame =
    (1 to 60).map { d =>
      (d.toLong, Seq(
        ("text", 0, f"POINT(${d * 0.5 - 15}%.3f ${d * 0.25 - 7}%.3f)"),
        ("media", 1, s"tile://$d/" + new scala.util.Random(d).alphanumeric.take(1000).mkString),
        ("text", 2, f"POINT(${-d * 0.75}%.3f ${d * 0.125}%.3f)")))
    }.toDF("doc_id", "spans")
      .select(col("doc_id"), transform(col("spans"), s => struct(
        s("_1").as("kind"), s("_2").as("offset"), s("_3").as("text"))).as("spans"))

  private def tempDir(name: String): String =
    Files.createTempDirectory("parspec").resolve(name).toString

  /** The docs as one parquet file of ceil(60 / rowsPerGroup) row groups: with
    * a 1-byte block size the writer closes a row group at every size
    * check, and the check runs every `rowsPerGroup` rows. */
  private def writeGroups(w: DataFrameWriter[Row], rowsPerGroup: Int): DataFrameWriter[Row] =
    w.option("parquet.block.size", "1")
      .option("parquet.page.size.row.check.min", rowsPerGroup.toString)
      .option("parquet.page.size.row.check.max", rowsPerGroup.toString)

  // one small parquet file of one row group = one scan split
  private lazy val docsDir: String = {
    val dir = tempDir("docs.parquet")
    docs.coalesce(1).write.parquet(dir)
    dir
  }

  private def groupedDocs(rowsPerGroup: Int): String = {
    val dir = tempDir(s"docs-$rowsPerGroup.parquet")
    writeGroups(docs.coalesce(1).write, rowsPerGroup).parquet(dir)
    dir
  }

  // 2p row groups in one file: the scan can be read in p splits
  private lazy val manyGroupsDir: String = groupedDocs(60 / (2 * p))
  // two row groups: fewer than p, so splitting would leave tasks empty
  private lazy val twoGroupsDir: String = groupedDocs(30)

  private def footers(dir: String): Seq[CatalogIO.Footer] = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new HPath(dir)
    path.getFileSystem(conf).listStatus(path).toSeq
      .filter(_.getPath.getName.endsWith(".parquet")).map(CatalogIO.footer(_, conf))
  }

  private def chain: DataFrame = chainOf(docsDir)

  private def chainOf(dir: String): DataFrame = {
    spark.read.parquet(dir)
      .select(col("doc_id"), explode(col("spans")).as("span"))
      .where(col("span.kind") === "text")
      .select(col("doc_id"), col("span.offset").as("offset"),
        F.st_geomfromwkt(col("span.text")).as("g"))
      .select(col("doc_id"), col("offset"), F.st_x(col("g")).as("lon"), F.st_y(col("g")).as("lat"))
  }

  private def fanJobs(df: DataFrame): (DataFrame, Int) =
    TestBus.countJobs(spark.sparkContext)(Par.fan(df))

  private def repartitions(df: DataFrame): Seq[Repartition] =
    df.queryExecution.optimizedPlan.collect { case r: Repartition => r }

  private def repartitionChild(df: DataFrame): LogicalPlan = {
    val reps = repartitions(df)
    assert(reps.size == 1, df.queryExecution.optimizedPlan)
    reps.head.child
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("fan puts the exchange directly above a single-split scan; rows unchanged") {
    assert(footers(docsDir).map(_.rowGroups) == Seq(1))
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

  private def fsRelation(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
    }.get

  test("a scan of at least p row groups is read in p splits, with no exchange") {
    val groups = footers(manyGroupsDir)
    assert(groups.map(_.rowGroups).sum >= p, groups)
    assert(groups.map(_.rows).sum == 60)
    val before = chainOf(manyGroupsDir)
    assert(before.rdd.getNumPartitions == 1)
    val (fanned, jobs) = fanJobs(before)
    assert(jobs == 0)
    assert(repartitions(fanned).isEmpty, fanned.queryExecution.optimizedPlan)
    assert(fanned.rdd.getNumPartitions == p)
    assert(rows(fanned) == rows(before))
    assert(rows(fanned).size == 120)
    // every split reads rows: the media text makes the footer small next
    // to the row groups, so no split holds only the footer
    assert(fanned.rdd.glom().map(_.length).collect().forall(_ > 0))
  }

  test("fewer row groups than p, or a partitioned parquet leaf, keep the exchange") {
    assume(p > 2)
    assert(footers(twoGroupsDir).map(_.rowGroups) == Seq(2))
    val partitioned = tempDir("docs-by-part.parquet")
    writeGroups(docs.withColumn("part", col("doc_id") % 2).repartition(1).write, 3)
      .partitionBy("part").parquet(partitioned)
    for (dir <- Seq(twoGroupsDir, partitioned)) {
      val df = chainOf(dir)
      assert(df.rdd.getNumPartitions < p, dir)
      val (fanned, jobs) = fanJobs(df)
      assert(jobs == 0)
      assert(repartitionChild(fanned).collectLeaves().forall(_.isInstanceOf[LogicalRelation]), dir)
      assert(fsRelation(fanned).options.get(Par.SplitsOption).isEmpty)
      assert(fanned.rdd.getNumPartitions == p)
      assert(rows(fanned) == rows(df))
    }
  }

  test("the re-bound scan is not dropped on the way up the chain") {
    val df = chainOf(manyGroupsDir)
    val (fanned, _) = fanJobs(df)
    val (before, after) = (fsRelation(df), fsRelation(fanned))
    // a relation's equality ignores its session: without the split count
    // in its options the re-bound leaf would equal the old one, and
    // withNewChildren would keep the old one above the explode
    assert(before == before.copy()(after.sparkSession))
    assert(after != before)
    assert(after.options(Par.SplitsOption) == p.toString)
    // the split size is set in a clone of the relation's session only
    val bytes = before.location.sizeInBytes
    val key = "spark.sql.files.maxPartitionBytes"
    assert(after.sparkSession ne before.sparkSession)
    assert(after.sparkSession.conf.get(key) == ((bytes + p - 1) / p).toString)
    assert(spark.conf.get(key) != after.sparkSession.conf.get(key))
    assert(fanned.sparkSession eq spark)
    // the executed scan reads through the re-bound relation
    val scan = fanned.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }
    assert(scan.exists(_.relation.sparkSession eq after.sparkSession), fanned.queryExecution.executedPlan)
  }
}
