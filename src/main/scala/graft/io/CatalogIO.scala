package graft.io

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Iceberg-shaped table IO without the Iceberg runtime (not on the
  * classpath — SURVEY.md §0): Parquet data + an atomically-renamed JSON
  * manifest per committed snapshot, behind a narrow seam so a real Iceberg
  * catalog can replace it without touching operators.
  *
  * Checkpointed stages give partition-granular idempotent resume — the
  * Spark re-expression of the reference's memory-bounded restartable
  * chunking (reference: alg/gdalwarpoperation.cpp :: CollectChunkList) and
  * progress reporting (port/cpl_progress.cpp :: GDALTermProgress):
  * a stage whose manifest exists is never recomputed. Like an Iceberg
  * manifest's per-file `record_count`, the manifest carries one lineage
  * entry per written data file (write-partition id, rows, bytes), taken
  * from the files themselves, so a commit never re-scans what it wrote.
  */
object CatalogIO {

  /** Write df as parquet + manifest; atomic via temp-dir rename. Returns
    * the row count. No-op (returns committed count) if already committed.
    *
    * Runs exactly the data write's Spark job(s): the row count and the
    * lineage entries come from listing `data/` and reading each part
    * file's parquet footer on the driver. A failed write removes its temp
    * dir and leaves the stage uncommitted.
    *
    * The committed files replace `df`'s cached intermediates, so they are
    * released after the write: Spark's listener bus keeps the last event
    * it delivered, and the write's end event holds its plan, so the
    * ContextCleaner could not free them before the next event. */
  def commitStage(spark: SparkSession, df: DataFrame, root: String,
                  jobId: String, stage: String): Long = {
    val dir = Paths.get(root, jobId, stage)
    committedRows(dir).getOrElse {
      Files.createDirectories(dir.getParent)
      val tmp = dir.resolveSibling(s".$stage.tmp-${System.nanoTime()}")
      try {
        df.write.mode("overwrite").parquet(tmp.resolve("data").toString)
        val files = dataFiles(spark, tmp.resolve("data"))
        val rows = files.map(_.rows).sum
        val lineage = files.map(f =>
          s"""{"file":${jsonStr(f.name)},"pid":${f.pid},"rows":${f.rows},"bytes":${f.bytes}}""")
        val manifestTxt =
          s"""{"job_id":${jsonStr(jobId)},"stage":${jsonStr(stage)},"rows":$rows,"files":${files.length},""" +
            s""""committed_at_ms":${System.currentTimeMillis()},"schema":${jsonStr(df.schema.json)},""" +
            s""""lineage":${lineage.mkString("[", ",", "]")}}"""
        Files.writeString(tmp.resolve("MANIFEST.json"), manifestTxt, StandardCharsets.UTF_8)
        // atomic publish
        if (Files.exists(dir)) LocalDirs.delete(dir)
        Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
        rows
      } catch {
        case e: Throwable =>
          try LocalDirs.delete(tmp) catch { case d: Throwable => e.addSuppressed(d) }
          throw e
      } finally Checkpoints.release(df)
    }
  }

  /** One written data file: its write-partition id comes from Spark's
    * `part-NNNNN-…` name, its rows from the parquet footer. */
  private final case class DataFile(name: String, pid: Int, rows: Long, bytes: Long)

  private val PartFile = "part-(\\d+)-.*\\.parquet".r

  private def dataFiles(spark: SparkSession, dataDir: Path): Seq[DataFile] = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new HPath(dataDir.toUri)
    path.getFileSystem(conf).listStatus(path).toSeq
      .map(st => (st, st.getPath.getName)).sortBy(_._2)
      .collect { case (st, name @ PartFile(pid)) if st.isFile =>
        DataFile(name, pid.toInt, footer(st, conf).rows, st.getLen)
      }
  }

  /** A parquet file's row count and row-group count. */
  private[graft] final case class Footer(rows: Long, rowGroups: Int)

  /** Reads `st`'s parquet footer on the driver. The read options come
    * from `conf` (the session's `newHadoopConf()`): the one-argument
    * `ParquetFileReader.open` builds a fresh Hadoop `Configuration` per
    * file, which re-parses the `core-*.xml` resources each time. */
  private[graft] def footer(st: FileStatus, conf: Configuration): Footer = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
      HadoopReadOptions.builder(conf).build())
    try Footer(reader.getRecordCount, reader.getRowGroups.size) finally reader.close()
  }

  private val mapper = new ObjectMapper()

  private def readManifest(dir: Path): JsonNode =
    mapper.readTree(Files.readString(dir.resolve("MANIFEST.json")))

  /** The committed row count of a stage, if its manifest exists. */
  private def committedRows(dir: Path): Option[Long] =
    if (Files.exists(dir.resolve("MANIFEST.json"))) Some(readManifest(dir).get("rows").asLong)
    else None

  def readStage(spark: SparkSession, root: String, jobId: String, stage: String): DataFrame =
    spark.read.parquet(Paths.get(root, jobId, stage, "data").toString)

  /** Copy-on-write MERGE — the Iceberg `MERGE INTO` row-level law (spec
    * v2 copy-on-write: WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED
    * THEN INSERT *): target snapshot FULL OUTER JOIN source batch on
    * `keyCol`; matched keys take the source ROW (per-row, not per-column
    * coalesce — a legitimately-NULL source field must still win),
    * source-only keys insert, target-only rows carry over. The merged
    * result commits as a NEW stage — snapshot isolation / time travel:
    * `fromStage` stays readable — and commitStage's manifest makes the
    * whole merge idempotent (a re-run returns the committed count
    * without recomputing). Returns the merged row count.
    *
    * 100-TB shape: ONE equi-shuffle on the merge key — the COW law
    * (Iceberg rewrites the files containing matches; AQE broadcasts the
    * batch side when it is small, which is the common upsert). A
    * merge-on-read design would instead append delete files and fold at
    * scan time — noted as the scale alternative for high-churn tables. */
  def mergeStage(spark: SparkSession, batch: DataFrame, root: String,
                 jobId: String, fromStage: String, toStage: String,
                 keyCol: String): Long = {
    // an already-committed target returns before the read plans anything
    committedRows(Paths.get(root, jobId, toStage)).getOrElse {
      val target = readStage(spark, root, jobId, fromStage)
      val cols = target.columns
      require(batch.columns.sameElements(cols),
        s"mergeStage: batch schema ${batch.columns.mkString(",")} != target ${cols.mkString(",")}")
      val t = target.select(cols.map(c => col(c).as(s"__t_$c")).toIndexedSeq: _*)
      val b = batch.select(cols.map(c => col(c).as(s"__b_$c")).toIndexedSeq: _*)
      val srcPresent = col(s"__b_$keyCol").isNotNull
      val merged = t.join(b, col(s"__t_$keyCol") === col(s"__b_$keyCol"), "full_outer")
        .select(cols.map(c =>
          when(srcPresent, col(s"__b_$c")).otherwise(col(s"__t_$c")).as(c)).toIndexedSeq: _*)
      commitStage(spark, merged, root, jobId, toStage)
    }
  }

  /** PARTITION-GRANULAR idempotent commit (the north-star "resume without
    * reprocessing committed tiles"): output is hive-partitioned by
    * `partCol`; a manifest lists the partition values already committed.
    * On re-run, committed partition values are ANTI-JOINED out of the
    * input before any work happens (their upstream compute is pruned with
    * them), and only the remainder is written — dynamic partition
    * overwrite keeps a half-written crash partition safe to rewrite.
    * Returns the number of NEW partition values committed. */
  def commitPartitioned(spark: SparkSession, df: DataFrame, root: String,
                        jobId: String, stage: String, partCol: String): Long = {
    val dir = Paths.get(root, jobId, stage)
    Files.createDirectories(dir)
    val manifest = dir.resolve("PARTS.json")
    val committed: Set[String] =
      if (Files.exists(manifest)) parseStringArray(Files.readString(manifest)).toSet
      else Set.empty
    // committed values as a broadcast ANTI-JOIN side, never an isin
    // literal list: at 10⁵⁺ committed partitions an IN-list bloats the
    // plan/codegen (the anti-pattern SpatialJoin's hot-cell path documents)
    // while a broadcast DataFrame stays one compact hashed relation
    val pending =
      if (committed.isEmpty) df
      else df.join(
        broadcast(committedPartsDf(spark, committed.toSeq)),
        df(partCol).cast("string") === col(CommittedCol), "left_anti")
    val newVals = pending.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    if (newVals.nonEmpty) {
      pending.write
        .partitionBy(partCol)
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(dir.resolve("data").toString)
      // lineage row per newly committed partition value
      val lineageDir = dir.resolve("lineage")
      val lines = newVals.map(v =>
        s"""{"job_id":${jsonStr(jobId)},"stage":${jsonStr(stage)},"part":${jsonStr(v)},"committed_at_ms":${System.currentTimeMillis()}}""")
      Files.createDirectories(lineageDir)
      Files.writeString(lineageDir.resolve(s"parts-${System.nanoTime()}.json"),
        lines.mkString("\n"), StandardCharsets.UTF_8)
      // manifest updated LAST (atomic rename) — crash before this line
      // leaves the new partitions uncommitted and safely rewritable
      val all = (committed ++ newVals).toSeq.sorted
      val tmp = dir.resolve(s".PARTS.json.tmp-${System.nanoTime()}")
      Files.writeString(tmp, all.map(jsonStr).mkString("[", ",", "]"),
        StandardCharsets.UTF_8)
      Files.move(tmp, manifest, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    newVals.length.toLong
  }

  /** Read only the partitions the manifest lists as committed. */
  def readCommittedPartitions(spark: SparkSession, root: String, jobId: String,
                              stage: String, partCol: String): DataFrame = {
    val dir = Paths.get(root, jobId, stage)
    val manifest = dir.resolve("PARTS.json")
    val committed: Seq[String] =
      if (Files.exists(manifest)) parseStringArray(Files.readString(manifest))
      else Seq.empty
    // before any commit the data dir does not exist — an empty table, not
    // an AnalysisException
    if (committed.isEmpty || !Files.isDirectory(dir.resolve("data")))
      return spark.emptyDataFrame
    val all = spark.read.parquet(dir.resolve("data").toString)
    // broadcast semi-join, not an isin literal (see commitPartitioned)
    all.join(broadcast(committedPartsDf(spark, committed)),
      all(partCol).cast("string") === col(CommittedCol), "left_semi")
  }

  private val CommittedCol = "__committed_part"

  private def committedPartsDf(spark: SparkSession, vals: Seq[String]): DataFrame = {
    import spark.implicits._
    vals.toDF(CommittedCol)
  }

  def isCommitted(root: String, jobId: String, stage: String): Boolean =
    Files.exists(Paths.get(root, jobId, stage, "MANIFEST.json"))

  /** The stage's lineage, one row per written data file, built from the
    * manifest: `__pid` (write partition), `rows`, `job_id`, `stage`,
    * `committed_at`, `file`, `bytes`. */
  def lineage(spark: SparkSession, root: String, jobId: String, stage: String): DataFrame = {
    val m = readManifest(Paths.get(root, jobId, stage))
    val at = new java.sql.Timestamp(m.get("committed_at_ms").asLong)
    val rows = m.get("lineage").elements().asScala.map(e =>
      Row(e.get("pid").asInt, e.get("rows").asLong, m.get("job_id").asText,
        m.get("stage").asText, at, e.get("file").asText, e.get("bytes").asLong)).toSeq
    spark.createDataFrame(rows.asJava, LineageSchema)
  }

  private val LineageSchema = StructType(Seq(
    StructField("__pid", IntegerType), StructField("rows", LongType),
    StructField("job_id", StringType), StructField("stage", StringType),
    StructField("committed_at", TimestampType), StructField("file", StringType),
    StructField("bytes", LongType)))

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Parse a JSON array of strings (the PARTS manifest) with full escape
    * handling — a partition value containing a quote or backslash must
    * round-trip, or resume silently re-/mis-commits partitions. */
  private[io] def parseStringArray(txt: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = txt.indexOf('[') + 1
    while (i > 0 && i < txt.length) {
      txt.charAt(i) match {
        case '"' =>
          val sb = new StringBuilder
          i += 1
          while (i < txt.length && txt.charAt(i) != '"') {
            if (txt.charAt(i) == '\\' && i + 1 < txt.length) {
              txt.charAt(i + 1) match {
                case 'n' => sb += '\n'; i += 2
                case 'r' => sb += '\r'; i += 2
                case 't' => sb += '\t'; i += 2
                case 'u' =>
                  sb += Integer.parseInt(txt.substring(i + 2, i + 6), 16).toChar
                  i += 6
                case c => sb += c; i += 2 // \" \\ \/ and friends
              }
            } else { sb += txt.charAt(i); i += 1 }
          }
          i += 1
          out += sb.toString
        case ']' => i = txt.length
        case _ => i += 1
      }
    }
    out.result()
  }
}
