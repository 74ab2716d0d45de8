package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Expand
import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round diagnostic (guide §1.3/§7.2): dump
  * `.explain("formatted")` for the named queries to one file each, so plan
  * claims in OPTIMIZATION_r*.md are checkable without running Spark.
  * Per-run tokens (expression, plan and RDD ids, identity hashes, source
  * lines, temp-dir suffixes) are written as `_`, so dumps of one query
  * from two runs or commits diff cleanly: `diff -r <dumpA> <dumpB>`.
  * A query with two or more distinct aggregates is rebuilt until its
  * rewrite's projections come out in one fixed order (see [[stable]]).
  * Usage: runMain graft.PlanDump <outDir> <q1,q2,...> [sfDir]
  * Not part of the bench/verify surface; never run by the driver. */
object PlanDump {
  def normalize(txt: String): String =
    txt.replaceAll("#\\d+", "#_")
      .replaceAll("plan_id=\\d+", "plan_id=_")
      .replaceAll("RDD\\[\\d+\\]", "RDD[_]")
      .replaceAll("\\.scala:\\d+", ".scala:_")
      .replaceAll("\\$Lambda[$/0-9a-fx]*@", "\\$Lambda@")
      .replaceAll("(?<=[\\w$\\[])@[0-9a-f]{1,8}\\b", "@_")
      .replaceAll("(graft-(?:scratch|ckpt))\\d+", "$1_")
      .replaceAll("(graft-scratch_/[A-Za-z0-9]*[A-Za-z])\\d+", "$1_")

  /** The distinct-group projections (`gid` > 0) of each
    * distinct-aggregate `Expand`, as SQL. */
  private def distinctGroups(df: DataFrame): Seq[Seq[String]] =
    df.queryExecution.optimizedPlan.collect {
      case e: Expand if e.output.exists(_.name == "gid") =>
        val gid = e.output.indexWhere(_.name == "gid")
        e.projections.filter(_(gid).eval() != 0)
          .map(_.filterNot(_.foldable).map(_.sql).mkString(", "))
    }

  /** `build()` in a plan whose distinct-aggregate groups are in sorted
    * order. Spark's rewrite numbers the groups in the iteration order of a
    * hash map keyed by expressions whose hash includes the JVM's random
    * id, so the order (and every column list and `gid` test after it)
    * flips between runs. Each rebuild draws new expression ids, hence a
    * new order; a query without such an `Expand` is built once. */
  private def stable(build: () => DataFrame): DataFrame = {
    var df = build()
    var tries = 1
    while (tries < 32 && distinctGroups(df).exists(g => g != g.sorted)) {
      df = build()
      tries += 1
    }
    df
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = stable(() => SparkEntry.queries(n)(spark, sfDir))
      val txt = normalize(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/$n.txt"), txt)
      println(s"[plandump] wrote $outDir/$n.txt")
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
