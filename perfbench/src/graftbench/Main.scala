package graftbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.functions.F
import graft.io.CatalogIO
import graft.operators.SpatialJoin

/** The benchmark's JVM side. Reads a job spec written by run.py, runs one
  * workload in one session for the measured window, and writes what it
  * did (timings, outputs to check, trace spans) as JSON:
  *
  *   Main <spec.json> <result.json>
  *
  * Output correctness is judged by run.py against DuckDB oracles. */
object Main {
  final case class Job(name: String, wallS: Double, ok: Boolean, rows: Long,
                       error: String, extra: Map[String, Any], span: Int)

  def main(args: Array[String]): Unit = {
    val spec = new ObjectMapper().readTree(new File(args(0)))
    val slots = spec.get("slots").asInt
    val work = spec.get("work_dir").asText
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - Host.jvmStartMs()) / 1000.0
    val tracer = new Tracer(spark, spec.get("trace").asInt == 1)
    val wl: Workload = spec.get("workload").asText match {
      case "query_mix" => new Mix(spark, spec, tracer)
      case _ => new Pip(spark, spec, tracer)
    }
    val tw = System.nanoTime()
    wl.warmup()
    val warmupS = (System.nanoTime() - tw) / 1e9

    val calib = Host.calibNs()
    val seconds = spec.get("seconds").asDouble
    val minPasses = spec.get("min_passes").asInt
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val j0 = Host.cpuJiffies()
    val w0 = System.nanoTime()
    while (passes.length < minPasses || (System.nanoTime() - w0) / 1e9 < seconds) {
      val cpu0 = Host.processCpuNs()
      val (jobs, pass) = tracer.span("pass")(wl.pass(passes.length))
      val cpuS = (Host.processCpuNs() - cpu0) / 1e9
      passes += Map("wall_s" -> tracer.wallS(pass), "cpu_s" -> cpuS, "span" -> pass,
        "jobs" -> jobs.map(j => Map("name" -> j.name, "wall_s" -> j.wallS, "ok" -> j.ok,
          "rows" -> j.rows, "error" -> j.error, "span" -> j.span) ++ j.extra))
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val retained = Host.retainedHeapMb()
    val steal = Host.stealFrac(j0, Host.cpuJiffies())

    val result = mutable.LinkedHashMap[String, Any](
      "session_s" -> sessionS, "warmup_s" -> warmupS, "window_s" -> windowS,
      "slots" -> slots, "passes" -> passes.toSeq, "retained_heap_mb" -> retained,
      "host" -> Map("calib_ns" -> calib, "steal_frac" -> steal))
    if (tracer.traced) {
      val kdir = spec.get("kernel_dir").asText
      result("kernels") = Kernels.run(spark, kdir, spec.path("zoom").asInt(8))
      result("spans") = tracer.spans.toSeq.map(s => Map("name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "counters" -> s.counters))
    }
    result("vmhwm_mb") = Host.vmHwmMb()
    Files.writeString(Paths.get(args(1)), new ObjectMapper().writeValueAsString(toJava(result)))
    spark.stop()
  }

  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case null => null
    case x => x.toString
  }
}

trait Workload {
  def warmup(): Unit
  def pass(i: Int): Seq[Main.Job]
}

/** pip_hot / pip_uniform: interleaved docs -> explode -> WKT parse ->
  * adaptive point-in-polygon join -> zoom-12 cell -> committed stage. One
  * pass is one job. Traced, each layer's output is materialized before the
  * next layer runs, so the job's wall splits into parse / join build /
  * join execution / commit. */
final class Pip(spark: SparkSession, spec: JsonNode, tr: Tracer) extends Workload {
  private val in = spec.get("in_dir").asText
  private val root = s"${spec.get("work_dir").asText}/stages"
  private val zoom = spec.get("zoom").asInt
  private val salt = spec.get("salt").asInt
  private val hotThreshold = spec.get("hot_threshold").asLong
  private val TileZoom = 12

  /** The same job on the small warmup input (in_dir/warmup): class
    * loading, code generation and the first JIT tiers land here. */
  def warmup(): Unit = {
    F.ensureRegistered(spark)
    job("warmup", s"$in/warmup", spec.get("warmup_hot_threshold").asLong)
    deleteRec(Paths.get(root, "warmup"))
  }

  def pass(i: Int): Seq[Main.Job] = Seq(job(s"pass-$i", in, hotThreshold))

  private def job(jobId: String, in: String, hotThreshold: Long): Main.Job = {
    val persisted = mutable.ArrayBuffer.empty[DataFrame]
    def materialize(df: DataFrame): Unit = if (tr.traced) {
      persisted += df.persist(StorageLevel.MEMORY_AND_DISK)
      df.count(): Unit
    }
    val ((rows, err), idx) = tr.span(s"job/$jobId") {
      try {
        val (pts, _) = tr.span("functions.parse") {
          val p = spark.read.parquet(s"$in/docs.parquet")
            .select(col("doc_id"), explode(col("spans")).as("span"))
            .where(col("span.kind") === "text")
            .select(col("doc_id"), col("span.offset").as("offset"),
              F.st_geomfromwkt(col("span.text")).as("g"))
            .select(col("doc_id"), col("offset"), F.st_x(col("g")).as("lon"), F.st_y(col("g")).as("lat"))
          materialize(p)
          p
        }
        val (joined, _) = tr.span("sj.build") {
          val polys = spark.read.parquet(s"$in/regions.parquet")
            .select(col("region_id"), F.st_geomfromwkt(col("wkt")).as("geom"))
          SpatialJoin.pointInPolygonAdaptive(polys, "geom", pts, "lon", "lat", zoom,
            saltFactor = salt, hotThreshold = hotThreshold)
        }
        tr.span("sj.exec")(materialize(joined))
        val tiles = joined.select(col("doc_id"), col("offset"), col("region_id"),
          F.cell_encode(col("lon"), col("lat"), lit(TileZoom)).as("tile"))
        val (n, _) = tr.span("io.commit")(CatalogIO.commitStage(spark, tiles, root, jobId, "tiles"))
        (n, "")
      } catch { case e: Throwable => (-1L, String.valueOf(e.getMessage).take(300)) }
      finally {
        persisted.foreach(_.unpersist(false))
        spark.sharedState.cacheManager.clearCache()
      }
    }
    // resume: a second commit of the committed stage must return its count
    // and leave the stage's files untouched
    val stage = Paths.get(root, jobId, "tiles")
    val before = listing(stage)
    val again = if (rows >= 0) CatalogIO.commitStage(spark, spark.emptyDataFrame, root, jobId, "tiles") else -1L
    val resumeOk = rows >= 0 && again == rows && listing(stage) == before
    Main.Job(jobId, tr.wallS(idx), err.isEmpty, rows, err,
      Map("stage_dir" -> stage.toString, "resume_ok" -> resumeOk,
        "files" -> before.count(_._1.endsWith(".parquet")),
        "bytes" -> before.map(_._2).sum), idx)
  }

  private def listing(dir: Path): Seq[(String, Long, Long)] =
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      (dir.relativize(p).toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toSeq.sorted

  private def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
}

/** query_mix: the listed SparkEntry queries at sf0.01 in the given order,
  * each built, planned and executed in full (toRdd.count(), as graft.Bench
  * does), with the cache cleared after each. One pass runs every query. */
final class Mix(spark: SparkSession, spec: JsonNode, tr: Tracer) extends Workload {
  private val dir = spec.get("in_dir").asText
  private val order = spec.get("queries").elements().asScala.map(_.asText).toSeq
  private val all = SparkEntry.queries

  def warmup(): Unit = {
    F.ensureRegistered(spark)
    spark.range(4).repartition(2).count(): Unit
  }

  def pass(i: Int): Seq[Main.Job] = order.map { name =>
    val ((rows, err), idx) = tr.span(s"query/$name") {
      try {
        val (df, _) = tr.span("entry.build")(all(name)(spark, dir))
        val qe = df.queryExecution
        tr.span("spark.plan")(qe.executedPlan)
        tr.counters.foreach(_.addPhases(qe))
        val (n, _) = tr.span("spark.exec")(qe.toRdd.count())
        (n, "")
      } catch { case e: Throwable => (-1L, String.valueOf(e.getMessage).take(300)) }
    }
    spark.sharedState.cacheManager.clearCache()
    Main.Job(name, tr.wallS(idx), err.isEmpty, rows, err, Map.empty, idx)
  }
}
