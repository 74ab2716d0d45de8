package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.TestBus
import graft.io.CatalogIO
import graft.operators.Streaming
import scala.jdk.CollectionConverters._

/** Checkpoint/lineage (idempotent resume) + Structured Streaming suites. */
class IoStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("commitStage is atomic + idempotent; lineage rows recorded") {
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val df1 = spark.range(100).withColumn("v", col("id") * 2)
    val n1 = CatalogIO.commitStage(spark, df1, root, "job1", "stage_a")
    assert(n1 == 100)
    assert(CatalogIO.isCommitted(root, "job1", "stage_a"))
    // re-commit with DIFFERENT data: must be a no-op (resume semantics)
    val df2 = spark.range(999).withColumn("v", col("id"))
    val n2 = CatalogIO.commitStage(spark, df2, root, "job1", "stage_a")
    assert(n2 == 100, "committed stage was recomputed")
    val back = CatalogIO.readStage(spark, root, "job1", "stage_a")
    assert(back.count() == 100)
    assert(back.agg(sum("v")).collect()(0).getLong(0) == 9900)
    val lin = CatalogIO.lineage(spark, root, "job1", "stage_a")
    assert(lin.agg(sum("rows")).collect()(0).getLong(0) == 100)
    assert(lin.columns.toSeq == Seq("__pid", "rows", "job_id", "stage", "committed_at", "file", "bytes"))
    // one entry per data file, with that file's size
    val dataDir = java.nio.file.Paths.get(root, "job1", "stage_a", "data")
    val sizes = java.nio.file.Files.list(dataDir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> java.nio.file.Files.size(p)).toMap
    assert(lin.select("file", "bytes").collect().map(r => r.getString(0) -> r.getLong(1)).toMap == sizes)
    // a job id with a quote and a backslash still yields a JSON manifest
    val odd = "job\"q\\b"
    assert(CatalogIO.commitStage(spark, df1, root, odd, "stage_a") == 100)
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(root, odd, "stage_a", "MANIFEST.json")))
    assert(m.get("job_id").asText == odd && m.get("rows").asLong == 100)
    assert(CatalogIO.commitStage(spark, df2, root, odd, "stage_a") == 100)
    assert(CatalogIO.lineage(spark, root, odd, "stage_a").select("job_id").distinct()
      .collect().map(_.getString(0)).toSeq == Seq(odd))
  }

  test("commitStage runs only the write job; counts empty and sparse inputs") {
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt-jobs").toString
    val (n, jobs) = TestBus.countJobs(spark.sparkContext) {
      CatalogIO.commitStage(spark, spark.range(0, 1000, 1, 7).toDF(), root, "j", "seven")
    }
    assert(n == 1000)
    assert(jobs == 1, s"commit ran $jobs jobs")
    val inputs = Seq(
      "empty" -> spark.range(0).toDF(),
      "sparse" -> spark.range(0, 100, 1, 7).where(col("id") < 10).toDF())
    for ((stage, df) <- inputs) {
      val c = CatalogIO.commitStage(spark, df, root, "j", stage)
      assert(c == CatalogIO.readStage(spark, root, "j", stage).count(), stage)
      val lin = CatalogIO.lineage(spark, root, "j", stage)
      assert(lin.agg(coalesce(sum("rows"), lit(0L))).collect()(0).getLong(0) == c, stage)
    }
    assert(CatalogIO.readStage(spark, root, "j", "sparse").count() == 10)
  }

  test("a failed commit leaves no temp dir and no manifest") {
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt-fail").toString
    val bad = spark.range(0, 100, 1, 4).toDF()
      .withColumn("v", when(col("id") === 57, raise_error(lit("boom"))).otherwise(col("id")))
    intercept[Exception](CatalogIO.commitStage(spark, bad, root, "j", "s"))
    val left = java.nio.file.Files.list(java.nio.file.Paths.get(root, "j")).iterator().asScala
      .map(_.toString).filter(_.contains(".tmp-")).toSeq
    assert(left.isEmpty, s"temp dirs left behind: $left")
    assert(!CatalogIO.isCommitted(root, "j", "s"))
    val good = spark.range(0, 100, 1, 4).toDF().withColumn("v", col("id"))
    assert(CatalogIO.commitStage(spark, good, root, "j", "s") == 100)
    assert(CatalogIO.readStage(spark, root, "j", "s").count() == 100)
  }

  test("mergeStage: MERGE INTO law — update/insert/carry, row-level source-wins, idempotent") {
    val root = java.nio.file.Files.createTempDirectory("graft-merge").toString
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "s", "v")
    CatalogIO.commitStage(spark, base, root, "jm", "snap1")
    // batch: update k=2 (with a legitimately-NULL field — row-level
    // source-wins must carry the NULL, not coalesce back to the target),
    // insert k=9
    val batch = Seq((2L, Option.empty[String], 99L), (9L, Some("z"), 900L))
      .toDF("k", "s", "v")
    val n = CatalogIO.mergeStage(spark, batch, root, "jm", "snap1", "snap2", "k")
    assert(n == 4)
    // idempotent: second call is a manifest no-op with the same count,
    // answered without a single Spark job
    val (again, jobs) = TestBus.countJobs(spark.sparkContext) {
      CatalogIO.mergeStage(spark, batch, root, "jm", "snap1", "snap2", "k")
    }
    assert(again == 4)
    assert(jobs == 0, s"idempotent merge ran $jobs jobs")
    val got = CatalogIO.readStage(spark, root, "jm", "snap2")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "a", 10L), (2L, null, 99L), (3L, "c", 30L), (9L, "z", 900L)))
    // time travel: the old snapshot is untouched
    assert(CatalogIO.readStage(spark, root, "jm", "snap1").count() == 3)
    // schema mismatch is loud
    intercept[IllegalArgumentException] {
      CatalogIO.mergeStage(spark, base.select("k", "s"), root, "jm", "snap1", "snap3", "k")
    }
  }

  test("multi-stage pipeline resumes stage-by-stage") {
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    var stage1Computed = 0
    def stage1() = { stage1Computed += 1; spark.range(10).toDF("id") }
    // first run commits stage1; second run must not re-execute it
    CatalogIO.commitStage(spark, stage1(), root, "j", "s1")
    if (!CatalogIO.isCommitted(root, "j", "s1")) CatalogIO.commitStage(spark, stage1(), root, "j", "s1")
    assert(stage1Computed == 1)
    val s2in = CatalogIO.readStage(spark, root, "j", "s1").withColumn("sq", col("id") * col("id"))
    CatalogIO.commitStage(spark, s2in, root, "j", "s2")
    assert(CatalogIO.readStage(spark, root, "j", "s2").count() == 10)
  }

  test("partition-granular resume: committed partitions never reprocess") {
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt3").toString
    val full = spark.range(100).toDF("id")
      .withColumn("part", col("id") % 10).withColumn("v", col("id") * 2)
    // crash simulation: first run only got through partitions 0..4
    val n1 = CatalogIO.commitPartitioned(spark, full.where(col("part") < 5), root, "j", "s", "part")
    assert(n1 == 5)
    // re-run with the FULL input, but poison rows of already-committed
    // partitions — if resume reprocessed them, poison would surface
    val poisoned = full.withColumn("v",
      when(col("part") < 5, lit(-999L)).otherwise(col("v")))
    val n2 = CatalogIO.commitPartitioned(spark, poisoned, root, "j", "s", "part")
    assert(n2 == 5) // only partitions 5..9 are new work
    val back = CatalogIO.readCommittedPartitions(spark, root, "j", "s", "part")
    assert(back.count() == 100)
    assert(back.where(col("v") === -999L).count() == 0, "committed partition was reprocessed")
    assert(back.agg(sum("v")).collect()(0).getLong(0) == (0 until 100).map(_ * 2).sum)
    // third run: nothing new
    assert(CatalogIO.commitPartitioned(spark, full, root, "j", "s", "part") == 0)
  }

  test("resume filter scales: 10^4 committed partitions stay a join, not an IN-list") {
    // the round-3 implementation isin'd the committed values as literals —
    // at 10^4 the plan string itself carried every value; the anti-join
    // keeps the plan O(1) in the manifest size
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt4").toString
    val nParts = 10000
    val full = spark.range(2L * nParts).toDF("id")
      .withColumn("part", col("id") % nParts).withColumn("v", col("id"))
    assert(CatalogIO.commitPartitioned(spark, full.where(col("part") < nParts / 2),
      root, "jBig", "s", "part") == nParts / 2)
    // the pending-side plan must not enumerate committed values as literals
    val pendingPlan = {
      val committedDf = CatalogIO.readCommittedPartitions(spark, root, "jBig", "s", "part")
      committedDf.queryExecution.executedPlan.toString
    }
    assert(!pendingPlan.contains("4999,"), "plan enumerates committed values as literals")
    assert(CatalogIO.commitPartitioned(spark, full, root, "jBig", "s", "part") == nParts / 2)
    val back = CatalogIO.readCommittedPartitions(spark, root, "jBig", "s", "part")
    assert(back.count() == 2L * nParts)
  }

  test("streaming: windowed event counts over file source reach memory sink") {
    val events = spark.read.parquet(s"${TestSpark.SfSmall}/events.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    events.write.mode("overwrite").parquet(dir)
    val q = Streaming.eventWindowCounts(spark, events.schema, dir)
      .writeStream.outputMode("complete").format("memory").queryName("win_counts")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT sum(n) FROM win_counts").collect()(0).getLong(0)
    assert(got == events.count())
  }

  test("streaming: tile assignment on a stream matches batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream2").toString
    graft.synth.Synth.points(spark, TestSpark.SfSmall)
      .select("pt_id", "lon", "lat").write.mode("overwrite").parquet(dir)
    val batch = spark.read.parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val q = Streaming.tileAssignStream(stream, 8)
      .writeStream.outputMode("append").format("memory").queryName("tiles_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT pt_id, cell FROM tiles_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Streaming.tileAssignStream(batch, 8).select("pt_id", "cell")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("streaming: stream-static point-in-polygon matches the batch operator row set") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-pip").toString
    graft.synth.Synth.points(spark, TestSpark.SfSmall)
      .select("pt_id", "lon", "lat").write.mode("overwrite").parquet(dir)
    val batchPts = spark.read.parquet(dir)
    val polys = graft.synth.Synth.regionWkt(spark, TestSpark.SfSmall)
      .withColumn("geom", graft.functions.F.st_geomfromwkt(org.apache.spark.sql.functions.col("wkt")))
    val stream = spark.readStream.schema(batchPts.schema).parquet(dir)
    val q = Streaming.streamPointInPolygon(stream, polys, "geom", "lon", "lat", zoom = 7)
      .select("region_id", "pt_id")
      .writeStream.outputMode("append").format("memory").queryName("pip_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT region_id, pt_id FROM pip_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.operators.SpatialJoin.pointInPolygon(
        polys, "geom", batchPts, "lon", "lat", zoom = 7, broadcastPolys = true)
      .select("region_id", "pt_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("streaming PIP matches batch when the cells_cover cap COARSENS a polygon") {
    // A 90°x90° polygon at zoom 12 needs ~1M cells > the 65536 cap, so its
    // cover coarsens (mixed-zoom ladder); the small polygon stays at 12.
    // Without fanning the streaming point side to the cover's zoom ladder,
    // every point in the big polygon is silently dropped (ADVICE r02).
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-pip-cap").toString
    val pts = Seq(
      (1L, 0.0, 0.0),     // inside big only
      (2L, 10.5, 10.5),   // inside big AND small
      (3L, 44.0, -44.0),  // inside big only
      (4L, 170.0, 60.0),  // outside both
      (5L, -30.0, 30.0))  // inside big only
      .toDF("pt_id", "lon", "lat")
    pts.write.mode("overwrite").parquet(dir)
    val polys = Seq(
      (1L, "POLYGON((-45 -45,45 -45,45 45,-45 45,-45 -45))"),
      (2L, "POLYGON((10 10,11 10,11 11,10 11,10 10))"))
      .toDF("region_id", "wkt")
      .withColumn("geom", graft.functions.F.st_geomfromwkt(col("wkt"))).drop("wkt")
    val batchPts = spark.read.parquet(dir)
    // sanity: the cap really fires — cover zooms must be mixed
    val cov = polys.withColumn("__cell",
      explode(graft.functions.F.cells_cover(col("geom"), lit(12))))
    assert(graft.operators.SpatialJoin.coverZooms(cov).size > 1,
      "test polygon did not trigger the cover cap")
    val stream = spark.readStream.schema(batchPts.schema).parquet(dir)
    val q = Streaming.streamPointInPolygon(stream, polys, "geom", "lon", "lat", zoom = 12)
      .select("region_id", "pt_id")
      .writeStream.outputMode("append").format("memory").queryName("pip_stream_cap")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT region_id, pt_id FROM pip_stream_cap").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.operators.SpatialJoin.pointInPolygon(
        polys, "geom", batchPts, "lon", "lat", zoom = 12, broadcastPolys = true)
      .select("region_id", "pt_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want == Set((1L, 1L), (1L, 2L), (2L, 2L), (1L, 3L), (1L, 5L)))
    assert(got == want)
  }

  test("stateful sessionize (flatMapGroupsWithState) closes in-batch gap sessions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream4").toString
    // user 1: two sessions separated by a 2h gap; user 2: one session — the
    // open (last) session per user stays in state, so 2 closed sessions emit
    val rows = Seq(
      (1L, 10L, "2024-01-01 00:00:00"), (1L, 11L, "2024-01-01 00:10:00"),
      (1L, 12L, "2024-01-01 02:30:00"), (1L, 13L, "2024-01-01 02:40:00"),
      (2L, 20L, "2024-01-01 00:00:00"), (2L, 21L, "2024-01-01 00:05:00"),
      (2L, 22L, "2024-01-01 03:00:00"))
      .toDF("user_id", "event_id", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    rows.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = Streaming.sessionizeStream(stream, gapSec = 1800)
      .writeStream.outputMode("append").format("memory").queryName("sess_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT user_id, n_events, first_event FROM sess_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 10L), (2L, 2L, 20L)), s"got $got")
  }

  test("streaming dedup drops same-fingerprint rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream3").toString
    val docs = spark.read.parquet(s"${TestSpark.SfSmall}/documents.parquet")
      .select(col("doc_id"), col("text"), lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
    docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 5000))
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = Streaming.streamingDedup(stream, "text", "ts")
      .writeStream.outputMode("append").format("memory").queryName("dedup_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.sql("SELECT count(*) FROM dedup_stream").collect()(0).getLong(0) == 500)
  }

  test("stream-stream interval join: window boundaries at millisecond precision") {
    import spark.implicits._
    // view at t0; clicks at t0-1ms (before), t0 (equal), t0+3600000ms
    // (exactly the window edge, INCLUDED), t0+3600001ms (excluded),
    // plus one other-user click inside the window (excluded by key)
    val t0 = 1700000000000L
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val vdir = java.nio.file.Files.createTempDirectory("ssjv").toString
    val cdir = java.nio.file.Files.createTempDirectory("ssjc").toString
    val views = Seq((10L, 1L, ts(t0))).toDF("view_id", "v_user", "vts")
    val clicks = Seq(
      (20L, 1L, ts(t0 - 1)), (21L, 1L, ts(t0)), (22L, 1L, ts(t0 + 3600000L)),
      (23L, 1L, ts(t0 + 3600001L)), (24L, 2L, ts(t0 + 5))).toDF("click_id", "c_user", "cts")
    views.write.mode("overwrite").parquet(vdir)
    clicks.write.mode("overwrite").parquet(cdir)
    val sv = spark.readStream.schema(views.schema).parquet(vdir).withWatermark("vts", "40 days")
    val sc = spark.readStream.schema(clicks.schema).parquet(cdir).withWatermark("cts", "40 days")
    val q = Streaming.streamIntervalJoin(sv, sc, "v_user", "c_user", "vts", "cts", 3600000L)
      .select(col("view_id"), col("click_id"))
      .writeStream.outputMode("append").format("memory").queryName("ssj_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT view_id, click_id FROM ssj_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 21L), (10L, 22L)))
  }

  test("streaming state stores are sized through the Hadoop FileSystem of the source URI") {
    // a 1 GiB sparse file: setLength writes no data blocks
    val dir = java.nio.file.Files.createTempDirectory("graft-parts")
    val f = dir.resolve("big.bin")
    val raf = new java.io.RandomAccessFile(f.toFile, "rw")
    try raf.setLength(1L << 30) finally raf.close()
    try {
      // 1 GiB at ~64 MB per store
      assert(SparkEntry.streamStateParts(spark, f.toString) == 16)
      assert(SparkEntry.streamStateParts(spark, f.toUri.toString) == 16)
      assert(SparkEntry.streamStateParts(spark, dir.toUri.toString) == 16)
    } finally graft.io.LocalDirs.delete(dir)
  }

  test("the warmup probes run without raising") {
    // no catch around the call: a failing probe fails the spec
    SparkEntry.warmupProbes(spark)
  }
}
