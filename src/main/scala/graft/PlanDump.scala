package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round diagnostic (guide §1.3/§7.2): dump
  * `.explain("formatted")` for the named queries to one file each, so plan
  * claims in OPTIMIZATION_r*.md are checkable without running Spark.
  * Expression ids (`#123`) are written as `#_`, so dumps of the same
  * query from two commits diff cleanly.
  * Usage: runMain graft.PlanDump <outDir> <q1,q2,...> [sfDir]
  * Not part of the bench/verify surface; never run by the driver. */
object PlanDump {
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
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        .replaceAll("#\\d+", "#_")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/$n.txt"), txt)
      println(s"[plandump] wrote $outDir/$n.txt")
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
