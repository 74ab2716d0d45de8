package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.F
import graft.operators.{Ann, Bpe, Contour, Dedup, Focal, Knn, Media, Network, OgrSql, Osm, Pack, Polygonize, Proximity, Quality, Raster, SpatialJoin, Streaming, Viewshed}
import graft.synth.Synth

/** Driver contract (see /root/repo/SURVEY.md §7 + the builder prompt).
  *
  * Every query reads ONLY the driver parquet tables (TESTDATA.md); spatial
  * inputs are synthesized from them with SQL-reproducible arithmetic
  * (graft.synth.Synth), so the DuckDB oracle recomputes identical inputs
  * from the same parquet — end-to-end bit-match, including the spatial
  * joins, tile assignment, kNN, rasterize checksums and pyramid rollups.
  *
  * Column-name + type discipline: every aggregate is aliased identically
  * in the Spark plan and the oracle SQL; oracle aggregates are CAST to the
  * Spark result type (DuckDB sum(BIGINT) is HUGEINT otherwise); FP outputs
  * are either exact binary fractions or fixed-point BIGINTs, so value
  * hashes match bit-for-bit.
  */
object SparkEntry {

  /** Per-JVM scratch root for the streaming/schema-inference queries'
    * src/out/checkpoint dirs; a shutdown hook deletes the whole tree, so
    * repeated bench/verify runs stop accumulating corpus copies in /tmp
    * (ADVICE r4). Results ARE still read back lazily from scratch paths,
    * so deletion happens only at JVM exit — after the driver has written
    * its output parquet. */
  private lazy val scratchRoot: java.nio.file.Path = graft.io.LocalDirs.temp("graft-scratch")
  private def scratch(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString

  /** OPTIMIZATION r6 (guide §2.2/§2.4): state-partition count for the
    * drain-once streaming queries, derived from SOURCE bytes instead of
    * inheriting the session's shuffle-partition constant. Stateful
    * streaming pins state stores = shuffle partitions at query start
    * (AQE is disabled for stateful plans) and every micro-batch pays a
    * fixed commit/maintenance cost PER STORE — so stores target ~64 MB
    * of source input each with a floor of 4: a 2 MB local backlog gets 4
    * stores (measured: q223 8.1 s → 4.8 s vs 32 stores), a 100-TB
    * backlog gets thousands. Emitted rows are partition-count invariant
    * (the 7-core verify gate varies this by construction). Sources are
    * sized through the Hadoop FileSystem of their URI, so a `file:`,
    * `hdfs:` or `s3a:` source counts its bytes like a plain local path. */
  private[graft] def streamStateParts(s: SparkSession, srcs: String*): Int = {
    val conf = s.sessionState.newHadoopConf()
    def sz(p: String): Long = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(conf).getContentSummary(path).getLength
    }
    math.max(4, (srcs.map(sz).sum >> 26).toInt)
  }

  /** Scope `spark.sql.shuffle.partitions` to a streaming query (the
    * setting binds at query START); restores the session value for
    * whatever runs next.
    *
    * OPTIMIZATION r6 (guide §1/§2.4): also scope OFF the no-data
    * micro-batches Spark inserts after any batch that advances the
    * watermark. Every drain-once query here is already complete without
    * them: eager-emission shapes (inner/semi joins, dropDuplicates,
    * stream-static) never emit from eviction at all, and the sentinel
    * protocol (q120/q143/q154/q228) explicitly processes its final
    * flush inside the SECOND sentinel's data batch using the
    * post-sentinel-1 watermark — the q120 comment has relied on that
    * ("no reliance on no-data micro-batch timing") since round 4. Each
    * suppressed batch saves a full state-store commit cycle across
    * every store. */
  private def withStreamParts[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    val prevNd = s.conf.get(key)
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    s.conf.set(key, "false")
    try body finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      s.conf.set(key, prevNd)
    }
  }

  /** OPTIMIZATION r6 (guide §2.4/§6): the stream-stream queries used to
    * feed their two file sources with two filtered writes — two scans of
    * the events table, two write jobs. One partitioned write does it in
    * one scan + one job; the parity key becomes a directory level
    * (dropped from the data files), so each leaf dir carries exactly the
    * old per-side schema. Returns (evenDir, oddDir). */
  private def writeParitySources(ev: DataFrame, base: String): (String, String) = {
    ev.withColumn("__par", (col("event_id") % 2).cast("int"))
      .write.partitionBy("__par").mode("overwrite").parquet(base)
    (s"$base/__par=0", s"$base/__par=1")
  }

  /** The stream-stream join shape of q140/q154/q223/q228. The events
    * table is split by event_id parity into two file-source streams,
    * each watermarked on `ts` by `delay`: views (even ids, columns
    * view_id, v_user, vts) and clicks (odd ids: click_id, c_user, cts).
    * `join` pairs them, and the result drains into a parquet sink under
    * [[withStreamParts]]. With `sentinels` (the outer joins), two
    * far-future sentinel events (ids and user -1, 30 and 31 days after
    * the last event) then land in both sources, each followed by a
    * drain, so the min-across-sources watermark passes every real row
    * and its null-padded row is emitted. Returns the sink, read back. */
  private def streamJoin(s: SparkSession, dir: String, tag: String, delay: String,
      sentinels: Boolean)(join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    import s.implicits._
    val ev = s.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("user_id"), col("ts").cast("timestamp").as("ts"))
    val out = scratch(s"${tag}out")
    val ckp = scratch(s"${tag}ckp")
    val srcBase = scratch(s"${tag}src")
    val (srcV, srcC) = writeParitySources(ev, srcBase)
    val views = s.readStream.schema(ev.schema).parquet(srcV)
      .withWatermark("ts", delay)
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("vts"))
    val clicks = s.readStream.schema(ev.schema).parquet(srcC)
      .withWatermark("ts", delay)
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("cts"))
    val joined = join(views, clicks)
    withStreamParts(s, streamStateParts(s, srcV, srcC)) {
      val q = joined.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckp).outputMode("append").start()
      q.processAllAvailable()
      if (sentinels) {
        val maxMs = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime
        // one partitioned append lands the sentinel in BOTH source dirs
        // in a single job (same rows the two per-side appends wrote)
        def sentinel(days: Long): Unit = {
          val t = new java.sql.Timestamp(maxMs + days * 24L * 3600 * 1000)
          Seq((-1L, -1L, t, 0), (-1L, -1L, t, 1))
            .toDF("event_id", "user_id", "ts", "__par")
            .write.partitionBy("__par").mode("append").parquet(srcBase)
        }
        sentinel(30); q.processAllAvailable()
        sentinel(31); q.processAllAvailable()
      }
      q.stop()
    }
    s.read.parquet(out)
  }

  /** WKT of the q101/q237/q243 shapes over [[Synth.shapeSeeds]], by
    * `q_id % 3`: a point, a 3-vertex line, a w×h rectangle. */
  private val shapeWkt3 =
    """CASE WHEN q_id % 3 = 0 THEN format_string('POINT(%s %s)', ax, ay)
       WHEN q_id % 3 = 1 THEN format_string('LINESTRING(%s %s, %s %s, %s %s)',
         ax, ay, ax + w, ay + h, ax, ay + 2.0D * h)
       ELSE format_string('POLYGON((%s %s, %s %s, %s %s, %s %s, %s %s))',
         ax, ay, ax + w, ay, ax + w, ay + h, ax, ay + h, ax, ay)
       END"""

  /** WKT of the q112/q159 shapes, by `q_id % 4`: the [[shapeWkt3]] three
    * plus a two-part multilinestring. */
  private val shapeWkt4 =
    """CASE WHEN q_id % 4 = 0 THEN format_string('POINT(%s %s)', ax, ay)
       WHEN q_id % 4 = 1 THEN format_string('LINESTRING(%s %s, %s %s, %s %s)',
         ax, ay, ax + w, ay + h, ax, ay + 2.0D * h)
       WHEN q_id % 4 = 2 THEN format_string('POLYGON((%s %s, %s %s, %s %s, %s %s, %s %s))',
         ax, ay, ax + w, ay, ax + w, ay + h, ax, ay + h, ax, ay)
       ELSE format_string('MULTILINESTRING((%s %s, %s %s), (%s %s, %s %s))',
         ax, ay, ax + w, ay + h, ax, ay + h, ax + w, ay)
       END"""

  /** The text-driver round trip: write each `wkt` geometry with
    * `st_as<fmt>` into column `c`, parse `c` back with `st_geomfrom<fmt>`,
    * and dump the vertex rows (q_id, c, seq, x, y). */
  private def textRoundTrip(fmt: String, c: String)(df: DataFrame): DataFrame =
    df.withColumn(c, call_function(s"st_as$fmt",
        call_function("st_geomfromwkt", col("wkt"))))
      .select(col("q_id"), col(c),
        posexplode(call_function("st_points",
          call_function(s"st_geomfrom$fmt", col(c)))).as(Seq("seq", "p")))
      .select(col("q_id"), col(c), col("seq").cast("long").as("seq"),
        col("p.x").as("x"), col("p.y").as("y"))

  /** Forward leg of the projection queries (q73, q80, q85, q249): each
    * 4326 `(lon, lat)` into the row's `epsg`, quantized to integer cm. */
  private def forwardCm(df: DataFrame): DataFrame =
    df.withColumn("u", call_function("st_transform",
        F.st_point(col("lon"), col("lat")), lit(4326), col("epsg")))
      .select(col("q_id"), col("epsg"),
        expr("CAST(floor(st_x(u) * 100.0 + 0.5) AS BIGINT)").as("e_cm"),
        expr("CAST(floor(st_y(u) * 100.0 + 0.5) AS BIGINT)").as("n_cm"))

  /** Inverse leg (q76, q81, q86, q250): each `(e_m, n_m)` in the row's
    * `epsg` back to 4326, quantized to 1e-6 degree. */
  private def inverseE6(df: DataFrame): DataFrame =
    df.withColumn("u", F.st_transform(
        F.st_point(col("e_m"), col("n_m")), col("epsg"), lit(4326)))
      .select(col("q_id"), col("epsg"),
        expr("CAST(floor(st_x(u) * 1000000.0 + 0.5) AS BIGINT)").as("lon_e6"),
        expr("CAST(floor(st_y(u) * 1000000.0 + 0.5) AS BIGINT)").as("lat_e6"))

  /** q193/q226: [[Synth.audioClips]] with the header decoded back from
    * the bytes: sample count `n`, lead `ld` and tail `tl` silence widths. */
  private def audioHeaders(s: SparkSession, dir: String): DataFrame =
    Synth.audioClips(s, dir)
      .withColumn("hdr", expr("CAST(bin AS STRING)"))
      .withColumn("n", expr("CAST(substring(hdr, 5, 4) AS INT)"))
      .withColumn("ld", expr("CAST(substring(hdr, 10, 1) AS INT)"))
      .withColumn("tl", expr("CAST(substring(hdr, 12, 1) AS INT)"))

  /** The q197/q209 warps: the q55 8/5 box resample of the zoom-3 grid
    * (1024x512 → 640x320) once per reducer in `kernels`, checksummed per
    * dst tile and tagged with its kernel. */
  private def warpKernels(s: SparkSession, kernels: String*): DataFrame = {
    val t = Synth.tiles(s, 3)
    kernels.map(k =>
      Raster.regrid(t, 1024, 512, 640, 320, k)
        .select(lit(k).as("kernel"), col("tx"), col("ty"),
          F.checksum_px(col("pixels")).as("cks")))
      .reduce(_ unionByName _)
  }

  /** The layer-algebra pieces of `ab` (q_id, ga, gb): `op(ga, gb)` as
    * `g`, tagged `kind`, empty pieces dropped. */
  private def overlayPieces(ab: DataFrame, op: String, kind: String): DataFrame =
    ab.withColumn("g", call_function(op, col("ga"), col("gb")))
      .where(!call_function("st_isempty", col("g")))
      .select(col("q_id"), lit(kind).as("kind"), col("g"))

  /** The SymDifference leg of q210/q231: each method feature `gb` minus
    * the union of its region's inputs, folded over the region's (at most
    * 8) input boxes; a region with no input keeps `gb` whole. */
  private def methodPieces(a: DataFrame, b: DataFrame): DataFrame = {
    val cover = a.groupBy("rid").agg(collect_list(col("ga")).as("gas"))
    b.join(cover, Seq("rid"), "left")
      .withColumn("g", when(col("gas").isNull, col("gb")).otherwise(
        call_function("st_difference", col("gb"),
          expr("aggregate(slice(gas, 2, size(gas) - 1), element_at(gas, 1), (acc, gg) -> st_union(acc, gg))"))))
      .select((col("rid") - 1000L).as("q_id"), lit("bside").as("kind"), col("g"))
  }

  /** Area and envelope of each overlay piece `g`: (q_id, kind, area,
    * xmin, ymin, xmax, ymax). */
  private def pieceStats(df: DataFrame): DataFrame =
    df.withColumn("env", call_function("st_env_bounds", col("g")))
      .select(col("q_id"), col("kind"),
        call_function("st_area", col("g")).as("area"),
        element_at(col("env"), 1).as("xmin"), element_at(col("env"), 2).as("ymin"),
        element_at(col("env"), 3).as("xmax"), element_at(col("env"), 4).as("ymax"))

  /** The q263/q269 deterministic road network over the supplier ids:
    * width-10 lattice (right/down edges, weights 1–7/1–5) + two express
    * tiers (+33 w4, +205 w9) that keep the diameter in the tens at any
    * SF. Returns (nodes(node), edges(src, dst, w)). */
  private def gnmEdges(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ids = s.read.parquet(s"$dir/supplier.parquet")
      .select((col("s_suppkey") - 1L).as("i"))
    val n = ids.count()
    val right = ids.where((col("i") + 1) % 10 =!= 0 && col("i") + 1 < n)
      .select(col("i").as("src"), (col("i") + 1L).as("dst"),
        (lit(1L) + (col("i") * 7L) % 7L).as("w"))
    val down = ids.where(col("i") + 10 < n)
      .select(col("i").as("src"), (col("i") + 10L).as("dst"),
        (lit(1L) + (col("i") * 13L) % 5L).as("w"))
    val ex1 = ids.where(col("i") + 33 < n)
      .select(col("i").as("src"), (col("i") + 33L).as("dst"), lit(4L).as("w"))
    val ex2 = ids.where(col("i") + 205 < n)
      .select(col("i").as("src"), (col("i") + 205L).as("dst"), lit(9L).as("w"))
    (ids.select(col("i").as("node")),
      right.unionByName(down).unionByName(ex1).unionByName(ex2))
  }

  /** Flagship: the SURVEY.md §7.2 minimum slice on sf0.001 — interleaved
    * docs table → explode text spans → parse WKT → point-in-polygon join
    * against region polygons → zoom-12 tile assignment. */
  /** OPTIMIZATION r6 (guide §1 "measure correctly"): Bench's untimed
    * warmup runs `entry` precisely so the first MEASURED query does not
    * absorb one-time engine costs, but the flagship slice only exercises
    * the scan/PIP path — the first streaming query, first WindowExec and
    * first parquet-write of a bench run were still paying several seconds
    * of interpreter/JIT/codegen warm-up inside their measured time. These
    * probes touch those engine families on 3-row synthetic inputs (no
    * testdata, no caches survive — every bench query still computes from
    * its parquet inputs; this shifts no real work, only JIT, into the
    * warmup whose role is exactly that). A probe that fails raises. */
  private[graft] def warmupProbes(spark: SparkSession): Unit = {
    import spark.implicits._
    // WindowExec + hash agg + HOF codegen families
    val w = Window.partitionBy(col("g")).orderBy(col("id"))
    spark.range(64).select(col("id"), (col("id") % 4).as("g"),
        expr("transform(sequence(0, 15), i -> CAST(i AS DOUBLE))").as("a"))
      .withColumn("rn", row_number().over(w))
      .withColumn("s", expr("aggregate(zip_with(a, a, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"))
      .groupBy("g").agg(sum("s").as("s"), max("rn").as("m"))
      .queryExecution.toRdd.count(): Unit
    // parquet write/read committer path + micro-batch streaming engine
    // (file source, watermark, stateful agg, file sink, state store)
    val base = scratch("warmup")
    val src = s"$base/src"; val out = s"$base/out"; val ckp = s"$base/ckp"
    Seq((1L, new java.sql.Timestamp(0L)), (2L, new java.sql.Timestamp(60000L)),
      (3L, new java.sql.Timestamp(120000L))).toDF("k", "ts")
      .write.mode("overwrite").parquet(src)
    val st = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, ts TIMESTAMP"))
      .parquet(src)
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 minute")).agg(count(lit(1)).as("n"))
    withStreamParts(spark, 2) {
      val q = st.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckp).outputMode("append").start()
      q.processAllAvailable()
      q.stop()
    }
  }

  def entry(spark: SparkSession): DataFrame = {
    F.ensureRegistered(spark)
    warmupProbes(spark)
    val dir = "/root/testdata/sf0.001"
    val docs = Synth.docs(spark, dir)
    val pts = docs
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
      .where(col("span.kind") === "text")
      .select(col("doc_id"), col("span.offset").as("offset"),
        F.st_geomfromwkt(col("span.text")).as("g"))
      .withColumn("lon", F.st_x(col("g"))).withColumn("lat", F.st_y(col("g")))
    val polys = Synth.regionGeoms(spark, dir)
    SpatialJoin.pointInPolygon(polys, "geom", pts, "lon", "lat", zoom = 5)
      .withColumn("tile", F.cell_encode(col("lon"), col("lat"), lit(12)))
      .select("doc_id", "offset", "region_id", "tile")
  }

  // ---- shared SQL fragments for the oracle (DuckDB) ----
  // points derived from lineitem: exact binary fractions (Synth.points)
  private val ptsSql =
    """SELECT l_orderkey*10 + l_linenumber AS pt_id,
       CASE WHEN l_orderkey % 10 = 0
            THEN ((l_orderkey*7919 + l_linenumber*104729 + l_partkey) % 512) / 1024.0 + 10.0
            ELSE ((l_orderkey*7919 + l_linenumber*104729 + l_partkey) % 368640) / 1024.0 - 180.0 END AS lon,
       CASE WHEN l_orderkey % 10 = 0
            THEN ((l_orderkey*104729 + l_linenumber*7919 + l_suppkey) % 512) / 1024.0 + 45.0
            ELSE ((l_orderkey*104729 + l_linenumber*7919 + l_suppkey) % 163840) / 1024.0 - 80.0 END AS lat,
       l_orderkey AS doc_key, l_linenumber AS line_no,
       l_partkey AS part_key, l_suppkey AS supp_key, l_quantity
       FROM lineitem"""
  private val boxesSql =
    """SELECT p_partkey AS box_id,
       ((p_partkey*131) % 340) - 170 + 1.0/4096.0 AS xmin,
       ((p_partkey*241) % 150) - 75  + 1.0/4096.0 AS ymin,
       ((p_partkey*131) % 340) - 170 + 1.0/4096.0
         + CASE WHEN p_partkey % 97 = 0 THEN 25 ELSE p_partkey % 7 + 2 END AS xmax,
       ((p_partkey*241) % 150) - 75  + 1.0/4096.0
         + CASE WHEN p_partkey % 97 = 0 THEN 18 ELSE p_partkey % 5 + 1 END AS ymax
       FROM part"""
  private val qptsSql =
    """SELECT s_suppkey AS q_id,
       ((s_suppkey*7919) % 368640) / 1024.0 - 180.0 AS lon,
       ((s_suppkey*104729) % 163840) / 1024.0 - 80.0 AS lat
       FROM supplier"""

  /** Shared oracle fragment for q64/q65: integer-unit points, the deduped
    * node table (pt_id % 53 withheld, duplicate ids collapsed by min), and
    * the per-order span-ordered refs — byte-for-byte Synth.osmNodes/osmWays. */
  private val osmBaseSql =
    s"""pts AS ($ptsSql),
       ip AS (SELECT pt_id, doc_key, line_no, part_key, supp_key,
           CAST((lon + 180.0) * 1024 AS BIGINT) AS ix,
           CAST((90.0 - lat) * 1024 AS BIGINT) AS iy FROM pts),
       nodes AS (SELECT pt_id AS node_id, min(ix) AS ix, min(iy) AS iy
           FROM ip WHERE pt_id % 53 <> 0 GROUP BY 1),
       ordr AS (SELECT doc_key AS way_id, pt_id,
           row_number() OVER (PARTITION BY doc_key ORDER BY line_no, part_key, supp_key) AS pos,
           count(*) OVER (PARTITION BY doc_key) AS n
           FROM ip)"""

  /** Builder-side subset filter shared by Verify and Bench:
    * GRAFT_ONLY=q64_osm_ways,q65_osm_relations (whitespace tolerated).
    * The driver sets nothing and gets every query. */
  def selectedQueries: Map[String, (SparkSession, String) => DataFrame] = {
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    queries.filter { case (name, _) => only.forall(_.contains(name)) }
  }
  def subsetActive: Boolean = sys.env.contains("GRAFT_ONLY")

  /** Every query by name. The function surface is registered on the
    * caller's session here, once per build, so no builder below does it
    * itself (registration is idempotent per session; see [[F]]). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    builders.transform((_, build) => (s: SparkSession, dir: String) => {
      F.ensureRegistered(s)
      build(s, dir)
    })

  private def builders: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ------------- relational core (SURVEY.md §3.2/3.3/3.5/3.6/3.7) -------
    "q01_agg_filter" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") < lit("1995-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"),
          count(lit(1)).as("n"))
    }),
    "q02_join_agg" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      val r = s.read.parquet(s"$dir/region.parquet")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
    }),
    "q03_topk_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("rnk"))
    }),
    "q04_distinct" -> ((s, dir) =>
      s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_mktsegment"), col("c_nationkey")).distinct()),
    "q05_sort_limit" -> ((s, dir) =>
      s.read.parquet(s"$dir/orders.parquet")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("price_cents"))),
    "q06_set_ops" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val rich = c.where(col("c_acctbal") > 5000).select(col("c_custkey"))
      val lowNation = c.where(col("c_nationkey") < 5).select(col("c_custkey"))
      rich.except(lowNation)
    }),
    "q07_scalar_funcs" -> ((s, dir) =>
      // OGR's LIKE is case-insensitive by default (SURVEY.md §3.4) —
      // re-expressed as lower() LIKE lower()
      s.read.parquet(s"$dir/part.parquet")
        .where(lower(col("p_name")).like("%wid%"))
        .select(col("p_partkey"),
          upper(substring(col("p_name"), 1, 5)).as("pfx"),
          concat_ws("-", col("p_brand"), col("p_type")).as("label"),
          col("p_size").cast("long").as("size_l"))),
    "q08_semi_anti" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_orders").as("tag"))
      val noO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_orders").as("tag"))
      withO.unionByName(noO)
    }),
    "q09_time_window" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100).cast("long")).as("value_cents"))),
    "q10_histogram" -> ((s, dir) =>
      // histogram / ComputeStatistics analog (reference:
      // gcore/gdalrasterband.cpp :: GetHistogram): fixed-width buckets
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy(least(greatest(floor(col("o_totalprice") / 50000.0), lit(0.0)), lit(12.0))
          .cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))),

    // ------------- spatial engine (SURVEY.md §3.3 J2/J3/J4, §2.4) ---------
    "q11_pip_broadcast" -> ((s, dir) => {
      val polys = Synth.regionGeoms(s, dir)
      // project-before-exchange (guide §2.3): only pt_id/lon/lat survive
      // to the output, so don't carry the other six point columns through
      // the broadcast probe pipeline
      SpatialJoin.pointInPolygon(polys, "geom",
        Synth.points(s, dir).select("pt_id", "lon", "lat"), "lon", "lat",
        zoom = 7, broadcastPolys = true)
        .select(col("region_id").cast("long").as("box_id"), col("pt_id"))
    }),
    "q12_pip_salted" -> ((s, dir) => {
      val polys = Synth.regionGeoms(s, dir)
      SpatialJoin.pointInPolygon(polys, "geom",
        Synth.points(s, dir).select("pt_id", "lon", "lat"), "lon", "lat",
        zoom = 7, broadcastPolys = false, saltFactor = 8)
        .select(col("region_id").cast("long").as("box_id"), col("pt_id"))
    }),
    "q52_pip_adaptive" -> ((s, dir) => {
      // adaptive skew handling: a region cover under the broadcast
      // threshold broadcasts (no cell can be hot), as this (region_id,
      // geom) cover does up to sf0.01 (5.5 MB); a larger one (55 MB at
      // sf0.1) salts only the cells the pre-agg flags hot (here the 0.5°
      // hot-spot cluster); identical row set to q11
      val polys = Synth.regionGeoms(s, dir)
      SpatialJoin.pointInPolygonAdaptive(polys, "geom",
        Synth.points(s, dir).select("pt_id", "lon", "lat"), "lon", "lat",
        zoom = 7, saltFactor = 8, hotThreshold = 2000L)
        .select(col("region_id").cast("long").as("box_id"), col("pt_id"))
    }),
    "q13_tile_assign" -> ((s, dir) => {
      Synth.points(s, dir).select(col("pt_id"),
        F.cell_encode(col("lon"), col("lat"), lit(12)).as("cell"))
        .select(col("pt_id"), F.cell_zoom(col("cell")).as("zoom"),
          F.cell_tx(col("cell")).as("tx"), F.cell_ty(col("cell")).as("ty"))
    }),
    "q14_knn" -> ((s, dir) =>
      Knn.knn(Synth.queryPoints(s, dir), "q_id", "lon", "lat",
        Synth.points(s, dir), "pt_id", "lon", "lat", k = 5, zoom = 7)
        .select(col("q_id"), col("pt_id"), col("rank").cast("long").as("rank"))),
    "q213_tile_addressing" -> ((s, dir) => {
      // gdal2tiles tile ADDRESSING conventions (swig/python/scripts/
      // gdal2tiles.py :: GlobalGeodetic + GlobalMercator.QuadTree +
      // TMS/XYZ flip): the corpus tile inventory at zoom 6 with every
      // naming scheme a tile server needs — XYZ (tx,ty), the TMS row
      // flip (2^z-1-ty), the Bing-style base-4 quadkey (geodetic grid =
      // two side-by-side square quadtrees, WMTS convention: hemisphere
      // root digit + z interleaved bits, MSB first), and the z/x/y.png
      // output path. All-integer bit arithmetic on the exact-rational
      // geodetic cell law → oracle-reproducible; one hash agg over the
      // point stream then per-tile map work — at 100 TB the tile
      // inventory is tiny next to the points and never reshuffles.
      val z = 6; val n = 1L << z
      Synth.points(s, dir)
        .select(F.cell_encode(col("lon"), col("lat"), lit(z)).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n_points"))
        .withColumn("tx", F.cell_tx(col("cell")))
        .withColumn("ty", F.cell_ty(col("cell")))
        .withColumn("tms_ty", lit(n - 1) - col("ty"))
        .withColumn("txm", col("tx") % n)
        .withColumn("quadkey", concat(
          (col("tx") >= n).cast("int").cast("string"),
          expr(s"array_join(transform(sequence(1, $z), i -> cast(" +
            s"(shiftright(txm, $z - i) % 2) + 2 * (shiftright(ty, $z - i) % 2)" +
            " as string)), '')")))
        .select(col("tx"), col("ty"), col("tms_ty"), col("quadkey"),
          format_string("%d/%d/%d.png", lit(z), col("tx"), col("tms_ty")).as("tile_path"),
          col("n_points"))
    }),
    "q15_zonal_stats" -> ((s, dir) => {
      val polys = Synth.regionGeoms(s, dir)
      // project-before-probe (guide §2.3, the q11 discipline): the agg
      // reads pt_id/l_quantity only — drop the other six point columns
      // before the broadcast probe pipeline
      SpatialJoin.pointInPolygon(polys, "geom",
        Synth.points(s, dir).select("pt_id", "l_quantity", "lon", "lat"),
        "lon", "lat", zoom = 7)
        .groupBy(col("region_id").cast("long").as("box_id"))
        .agg(count(lit(1)).as("n_points"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          min(col("pt_id")).as("min_pt"), max(col("pt_id")).as("max_pt"))
    }),
    "q16_docs_roundtrip" -> ((s, dir) => {
      val docs = Synth.docs(s, dir)
      docs.select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("span.kind") === "text", 1L).otherwise(0L)).as("n_text"),
          sum(when(col("span.kind") === "media", 1L).otherwise(0L)).as("n_media"),
          sum(col("span.offset").cast("long")).as("sum_offsets"),
          min(when(col("span.kind") === "text",
            F.st_x(F.st_geomfromwkt(col("span.text"))))).as("min_x"))
    }),
    "q17_rasterize_checksum" -> ((s, dir) => {
      val geoms = Synth.rasterBoxes(s, dir)
        .withColumn("burn", (col("box_id") % 97 + 1).cast("double"))
      Raster.rasterize(geoms, "geom", "burn", zoom = 4, mode = "add")
        .select(col("zoom"), col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q119_rasterize_invert" -> ((s, dir) => {
      // gdal_rasterize -i: burn 5 into every pixel NOT covered by the q17
      // box set, over the full zoom-4 universe (all 512 tiles emitted —
      // untouched tiles are all-burn, fully-covered ones all-zero).
      // Coverage reuses the q17 scanline machinery with burn=1/max, so
      // the oracle replays the SAME run arithmetic and complements it.
      val geoms = Synth.rasterBoxes(s, dir)
      Raster.rasterizeInvert(geoms, "geom", zoom = 4, burnVal = 5.0,
        nxTiles = 32, nyTiles = 16)
        .select(col("zoom").cast("long").as("zoom"), col("tx"), col("ty"),
          F.checksum_px(col("pixels")).as("cks"))
    }),
    "q18_pyramid_checksum" -> ((s, dir) => {
      Raster.pyramidUp(Synth.tiles(s, zoom = 3), method = "average")
        .select(col("zoom").cast("long").as("zoom"), col("tx"), col("ty"),
          F.checksum_px(col("pixels")).as("cks"))
    }),
    "q19_warp_checksum" -> ((s, dir) => {
      Raster.warpToMercator(Synth.tiles(s, zoom = 3), srcZoom = 3, dstZoom = 3,
        method = "bilinear")
        .select(col("zoom"), col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q20_mosaic_checksum" -> ((s, dir) => {
      val a = Synth.tiles(s, zoom = 3).withColumn("prio", lit(1))
      val b = Synth.tiles(s, zoom = 3).where(col("tx") % 2 === 0)
        .withColumn("pixels", expr("transform(pixels, p -> p + 1.0)"))
        .withColumn("prio", lit(2))
      Raster.mosaic(a.unionByName(b), "prio")
        .select(col("zoom").cast("long").as("zoom"), col("tx"), col("ty"),
          F.checksum_px(col("pixels")).as("cks"))
    }),
    "q21_grid_metrics" -> ((s, dir) => {
      // scatter→grid aggregation (reference gdalgrid data metrics):
      // per zoom-6 cell: point count + quantity sum
      Synth.points(s, dir)
        .withColumn("cell", F.cell_encode(col("lon"), col("lat"), lit(6)))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("sum_qty"))
        .select(F.cell_tx(col("cell")).as("tx"), F.cell_ty(col("cell")).as("ty"),
          col("n"), col("sum_qty"))
    }),
    "q199_grid_data_minmax" -> ((s, dir) => {
      // gdal_grid data-metrics algorithms minimum / maximum / range
      // (reference alg/gdalgrid.cpp :: GDALGridDataMetricMinimum /
      // ...Maximum / ...Range): per grid node, the extreme / spread of
      // the point values in its window — the q21 cell framing (node
      // window = its zoom-6 cell, the degenerate search ellipse) with
      // the three metric reducers q21 doesn't pin. ONE hash aggregate
      // computes all three (range derives from min/max post-agg);
      // map-side partial aggregation makes this a single
      // shuffle-by-cell at any corpus size.
      Synth.points(s, dir)
        .withColumn("cell", F.cell_encode(col("lon"), col("lat"), lit(6)))
        .groupBy(col("cell"))
        .agg(min(col("l_quantity").cast("long")).as("v_min"),
          max(col("l_quantity").cast("long")).as("v_max"))
        .select(F.cell_tx(col("cell")).as("tx"), F.cell_ty(col("cell")).as("ty"),
          col("v_min"), col("v_max"), (col("v_max") - col("v_min")).as("v_range"))
    }),
    "q221_grid_nearest" -> ((s, dir) => {
      // gdal_grid NEAREST NEIGHBOR interpolation (reference
      // alg/gdalgrid.cpp :: GDALGridNearestNeighbor) — the one grid
      // algorithm the invdist (q56/q141/q150) and metric (q21/q67/q199)
      // families don't pin: each node takes the VALUE of its closest
      // point. Same degenerate-ellipse framing as the family (node
      // window = its zoom-6 cell). EXACT arithmetic: synth lon/lat are
      // dyadic 1024ths and the cell center is too (cell = 2880/1024
      // deg), so d² in 1024ths² is an exact BIGINT; the winner is a
      // lexicographic struct-min over (d², pt_id, part_key, supp_key,
      // v) — fully deterministic even where pt_id collides (it is not
      // unique in the driver data). ONE hash agg, map-side partials.
      Synth.points(s, dir)
        .withColumn("cell", F.cell_encode(col("lon"), col("lat"), lit(6)))
        .withColumn("tx", F.cell_tx(col("cell"))).withColumn("ty", F.cell_ty(col("cell")))
        .withColumn("ilon", (col("lon") * 1024).cast("long"))
        .withColumn("ilat", (col("lat") * 1024).cast("long"))
        .withColumn("dx", col("ilon") - (lit(-184320L) + col("tx") * 2880L + 1440L))
        .withColumn("dy", col("ilat") - (lit(92160L) - col("ty") * 2880L - 1440L))
        .withColumn("d2", col("dx") * col("dx") + col("dy") * col("dy"))
        .groupBy("tx", "ty")
        .agg(min(struct(col("d2"), col("pt_id"), col("part_key"),
          col("supp_key"), col("l_quantity").cast("long").as("v"))).as("w"),
          count(lit(1)).as("n_pts"))
        .select(col("tx"), col("ty"), col("w.v").as("v_near"),
          col("w.d2").as("d2"), col("w.pt_id").as("pt_id"), col("n_pts"))
    }),
    "q32_extent_agg" -> ((s, dir) =>
      // GetExtent / envelope aggregate per group (reference OGRLayer::GetExtent)
      Synth.points(s, dir)
        .groupBy((col("doc_key") % 10).as("grp"))
        .agg(min(col("lon")).as("min_x"), max(col("lon")).as("max_x"),
          min(col("lat")).as("min_y"), max(col("lat")).as("max_y"))),

    // ------------- training-data pipeline ops ----------------------------
    "q22_dedup_exact" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val dup = d.select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      val input = d.select(col("doc_id"), col("text")).unionByName(dup)
      Dedup.exact(input, "doc_id", "text").select(col("keeper_id"), col("dup_count"))
    }),
    "q23_ngram_jaccard" -> ((s, dir) =>
      // k=4 / t=0.6 separates true near-dups from shared-vocabulary noise
      // (3-grams of same-language text overlap ~50% for unrelated docs)
      Dedup.ngramJaccard(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", k = 4, minJaccard = 0.6, blockCol = Some("lang"))
        .select(col("id_a"), col("id_b"),
          floor(col("jaccard") * 1000000).cast("long").as("j_micro"))),
    "q24_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", numPerm = 64, bands = 16, shingleK = 3, minJaccard = 0.3)
        .select(col("id_a"), col("id_b"),
          floor(col("jaccard") * 1000000).cast("long").as("j_micro"))),
    // maxHamming = 6 (was 12 in round 1, where the 4-chunk pigeonhole was
    // only complete for <= 3 and silently lost recall; 7 chunks of >= 9
    // bits keep candidate generation bucketed while staying exhaustive)
    "q25_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", maxHamming = 6)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),
    "q26_ann_topk" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.bruteTopK(e.where(col("vec_id") % 50 === 0), "vec_id", "embedding",
        e, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("score"))
    }),
    "q27_lang_id" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), F.lang_id(col("text")).as("pred_lang"))
    }),
    "q28_quality" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          floor(F.quality_score(col("text")) * 1000000).cast("long").as("q_micro"))
    }),
    "q29_token_count" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          size(split(trim(lower(regexp_replace(col("text"), "\\s+", " "))), " "))
            .cast("long").as("ws_tokens"),
          regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
            .cast("long").as("bpe_tokens"))),
    "q120_stream_sessionize" -> ((s, dir) => {
      // §3.9 stateful streaming, ORACLE-adjudicated end-to-end: the real
      // flatMapGroupsWithState sessionizer (event-time timeout, append
      // mode) runs as a genuine file-source → parquet-sink streaming
      // query inside the lambda, then the sink is read back as the
      // result. Real events land in ONE batch (no late-drop
      // nondeterminism); two far-future sentinel batches then advance
      // the watermark so every still-open session times out and emits
      // deterministically (sentinel2's batch processes timeouts using
      // the post-sentinel1 watermark — no reliance on no-data
      // micro-batch timing). Sessions close on >1800s gaps in the
      // engine's MILLISECOND arithmetic; the oracle replays epoch-ms
      // session logic with the same (ms, event_id) ordering.
      import s.implicits._
      val src = scratch("q120src")
      val out = scratch("q120out")
      val ckp = scratch("q120ckp")
      // watermarks need TIMESTAMP (with tz); the parquet ts is NTZ — the
      // cast is epoch-preserving under the session's UTC timeZone, so
      // getTime() millis equal the oracle's epoch_ms of the NTZ value
      val batch = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"), col("ts").cast("timestamp").as("ts"))
      batch.write.mode("overwrite").parquet(src)
      val stream = s.readStream.schema(batch.schema).parquet(src)
      // stateful-streaming state stores = shuffle partitions; 8 beats 32
      // at this volume (scoped to the query, restored after — results
      // are partition-count-independent, see the 7-core gate)
      withStreamParts(s, streamStateParts(s, src)) {
        val q = Streaming.sessionizeStream(stream)
          .filter(so => so.user_id >= 0)
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckp).outputMode("append").start()
        q.processAllAvailable()
        val maxMs = batch.agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime
        def sentinel(days: Long): Unit =
          Seq((-1L, -1L, new java.sql.Timestamp(maxMs + days * 24L * 3600 * 1000)))
            .toDF("user_id", "event_id", "ts")
            .write.mode("append").parquet(src)
        sentinel(30); q.processAllAvailable()
        sentinel(31); q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(out)
        .select(col("user_id"), col("start_ms"), col("n_events"), col("first_event"))
    }),
    "q155_stream_dedup" -> ((s, dir) => {
      // Streaming DEDUP oracle-adjudicated (the fifth §3.9 shape): docs
      // plus injected duplicate copies flow through the watermarked
      // dropDuplicates-on-fingerprint stream; WHICH copy survives a
      // same-batch tie is partition-order-dependent, so the graded
      // surface is the deterministic part — each fingerprint emits
      // EXACTLY ONCE (the sink's (fp) multiset equals the distinct set).
      // Oracle replays the rolling-hash fingerprint over the distinct
      // texts.
      val src = scratch("q155src")
      val out = scratch("q155out")
      val ckp = scratch("q155ckp")
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"),
          expr("CAST(timestamp_millis(1700000000000 + doc_id * 1000) AS TIMESTAMP)").as("ts"))
      val dup = docs.where(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      docs.unionByName(dup).write.mode("overwrite").parquet(src)
      val stream = s.readStream.schema(docs.schema).parquet(src)
      withStreamParts(s, streamStateParts(s, src)) {
        val q = Streaming.streamingDedup(stream, "text", "ts")
          .select(col("fp"))
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckp).outputMode("append").start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(out).select(col("fp"))
    }),
    "q154_stream_outer_join" -> ((s, dir) => {
      // Stream-stream LEFT OUTER interval join — the watermark-MANDATORY
      // streaming semantic q140's inner join doesn't exercise: an
      // unmatched view can only emit its null-padded row once the
      // watermark (the MIN across both sources) passes view_ts + window,
      // so the sentinel batches go to BOTH streams. The join condition
      // compares raw event-time (microseconds) — Spark requires the
      // range bound on the watermarked columns themselves for outer
      // joins — and the oracle replays it in epoch_us. Null-padded
      // columns surface as -1 sentinels for hash stability.
      // outer-join state lives in ONE store PER SHUFFLE PARTITION per
      // side; at this data volume 8 stores beat 32 (stores are the
      // per-micro-batch fixed cost, and every batch touches all of
      // them). The setting binds at query START, so scope it to the
      // streaming query and restore for whoever runs next; results are
      // partition-count-independent (the 7-core gate already varies it).
      streamJoin(s, dir, "q154", "1 minute", sentinels = true) { (views, clicks) =>
        views.join(clicks, expr(
            "v_user = c_user AND cts >= vts AND cts <= vts + interval 1 hour"),
            "leftOuter")
          .select(col("view_id"), col("v_user"),
            coalesce(col("click_id"), lit(-1L)).as("click_id"),
            coalesce(unix_millis(col("cts")) - unix_millis(col("vts")), lit(-1L))
              .as("delta_ms"))
      }.where(col("v_user") >= 0)
        .select(col("view_id"), col("click_id"), col("delta_ms"))
    }),
    "q143_stream_window_agg" -> ((s, dir) => {
      // §3.9 watermarked tumbling-window aggregation in APPEND mode,
      // ORACLE-adjudicated — the third streaming shape after stateful
      // sessionize (q120) and the stream-static/stream-stream joins
      // (q121/q140). A window emits only once the watermark passes its
      // end: real events land in one batch, then two far-future sentinel
      // batches advance the watermark so every REAL window flushes
      // deterministically (the sentinels' own windows stay withheld /
      // are filtered by type). Window starts are epoch-aligned
      // floor(ms/600000) — the oracle replays that in epoch-ms.
      import s.implicits._
      val src = scratch("q143src")
      val out = scratch("q143out")
      val ckp = scratch("q143ckp")
      val batch = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_type"), col("ts").cast("timestamp").as("ts"))
      batch.write.mode("overwrite").parquet(src)
      val stream = s.readStream.schema(batch.schema).parquet(src)
      val agg = stream.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_millis(col("window.start")).as("win_ms"), col("event_type"), col("n"))
      // windowed-agg state stores = shuffle partitions (same rationale
      // as q120/q154): scope 8 stores to the streaming query
      withStreamParts(s, streamStateParts(s, src)) {
        val q = agg.writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckp).outputMode("append").start()
        q.processAllAvailable()
        val maxMs = batch.agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime
        def sentinel(days: Long): Unit =
          Seq(("__sentinel", new java.sql.Timestamp(maxMs + days * 24L * 3600 * 1000)))
            .toDF("event_type", "ts").write.mode("append").parquet(src)
        sentinel(30); q.processAllAvailable()
        sentinel(31); q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(out).where(col("event_type") =!= "__sentinel")
        .select(col("win_ms"), col("event_type"), col("n"))
    }),
    "q121_stream_pip" -> ((s, dir) => {
      // The streaming twin of q11, ORACLE-adjudicated: arriving points
      // flow through the stream-static point-in-polygon join (cell
      // equi-join + envelope gate + exact refine against the broadcast
      // static cover) as a real file-source → parquet-sink query, then
      // the sink reads back as the result. Stream-static joins are
      // STATELESS, so one processAllAvailable drains everything
      // deterministically — the row set must equal the batch operator's
      // (same oracle SQL as q11).
      val src = scratch("q121src")
      val out = scratch("q121out")
      val ckp = scratch("q121ckp")
      val ptsBatch = Synth.points(s, dir).select(col("pt_id"), col("lon"), col("lat"))
      ptsBatch.write.mode("overwrite").parquet(src)
      val stream = s.readStream.schema(ptsBatch.schema).parquet(src)
      val polys = Synth.regionGeoms(s, dir)
      val q = Streaming.streamPointInPolygon(stream, polys, "geom", "lon", "lat", zoom = 7)
        .select(col("region_id").cast("long").as("box_id"), col("pt_id"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckp).outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      s.read.parquet(out).select(col("box_id"), col("pt_id"))
    }),
    "q223_stream_semi_join" -> ((s, dir) => {
      // Stream-stream LEFT SEMI interval join — the seventh
      // oracle-adjudicated streaming shape, and the one that emits each
      // LEFT row at most ONCE regardless of match multiplicity (the
      // "which views converted" question q140's inner join answers with
      // one row PER click). Semi joins emit eagerly on first match
      // (watermarks only bound state, exactly the inner-join contract),
      // so one processAllAvailable after both sources are written drains
      // the complete, deterministic row set — no sentinel protocol. The
      // range bound sits on the raw watermarked ts columns so
      // state-eviction watermarks stay derivable.
      streamJoin(s, dir, "q223", "40 days", sentinels = false) { (views, clicks) =>
        Streaming.streamIntervalJoin(views, clicks,
            "v_user", "c_user", "vts", "cts", windowMs = 3600000L,
            joinType = "leftSemi")
          .select(col("view_id"), col("v_user"),
            unix_millis(col("vts")).as("vts_ms"))
      }.select(col("view_id"), col("v_user"), col("vts_ms"))
    }),
    "q140_stream_join" -> ((s, dir) => {
      // First stream-STREAM join, ORACLE-adjudicated (§3.9; the q120/q121
      // protocol): views (even event_id) and clicks (odd) arrive as TWO
      // independent file-source streams; the symmetric-hash inner join
      // pairs same-user clicks within [view_ts, view_ts + 1h]. Inner
      // joins emit matches eagerly (watermarks bound state, not
      // emission), so one processAllAvailable after both sources are
      // fully written drains the complete row set. The range bound sits on
      // the raw watermarked ts columns (micros; oracle replays epoch_us)
      // so state-eviction watermarks are derivable; the delta_ms OUTPUT
      // stays millisecond arithmetic (epoch_ms truncation).
      streamJoin(s, dir, "q140", "40 days", sentinels = false) { (views, clicks) =>
        Streaming.streamIntervalJoin(views, clicks,
            "v_user", "c_user", "vts", "cts", windowMs = 3600000L)
          .select(col("view_id"), col("click_id"),
            (unix_millis(col("cts")) - unix_millis(col("vts"))).as("delta_ms"))
      }.select(col("view_id"), col("click_id"), col("delta_ms"))
    }),
    "q30_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("gap", unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)))
        .withColumn("new_sess", when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event"))
    }),
    "q31_fingerprint" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), F.fingerprint64(col("text")).as("fp"))
    }),

    // ------------- polygonize / DEM / proximity / contour (R2,R4,R5,O5) --
    "q33_polygonize_comps" -> ((s, dir) =>
      Polygonize.components(Synth.maskTiles(s, 2), 8, 8, 64, 32, _ < 7.0, _ => 1.0)
        .select(col("label"), col("n_pixels"),
          col("min_gx"), col("max_gx"), col("min_gy"), col("max_gy"))),
    "q200_footprint" -> ((s, dir) =>
      // gdal_footprint (apps/gdal_footprint.cpp): valid-data footprint
      // per SCENE — one scene per zoom-2 tile, the catalog framing an
      // archive actually has. nodata set = v < 8 (half the synthetic
      // scene); components are 4-connected valid runs, bbox reported in
      // georeferenced degrees (zoom-2 px = 5.625°, dyadic → exact).
      // Scenes are independent, so unlike q33/q114's corpus-wide CCL
      // (seam join + label resolution) this is MAP-ONLY — the plan a
      // 100-TB scene catalog wants: no shuffle at any scale.
      Polygonize.footprint(Synth.maskTiles(s, 2), 8, 8, 64, _ >= 8.0,
        degPerPx = 5.625)),
    "q114_polygonize8" -> ((s, dir) =>
      // gdal_polygonize -8 (reference alg/polygonize.cpp, the CONNECTED8
      // enumerator option): same mask and output as q33 but components
      // are maximal 8-connected sets — diagonal adjacency unions locally
      // (Ccl conn8 stencil) and across tile seams (E/S borders key the
      // two diagonal neighbor coordinates too). Mask v < 3 (19% fill),
      // not q33's v < 7: the dense mask percolates to ONE component
      // under 8-connectivity (site threshold ≈ 0.407), which would grade
      // nothing — the sparse mask keeps hundreds of components whose
      // boundaries are exactly the diagonal merges.
      Polygonize.components(Synth.maskTiles(s, 2), 8, 8, 64, 32, _ < 3.0, _ => 1.0,
        conn8 = true)
        .select(col("label"), col("n_pixels"),
          col("min_gx"), col("max_gx"), col("min_gy"), col("max_gy"))),
    "q34_polygonize_rings" -> ((s, dir) =>
      // full ring assembly as integer vertex ROWS (label, ring, seq, x, y)
      // — oracle-exact: the rightmost-turn boundary walk is a static
      // successor permutation the SQL oracle replays with a recursive CTE
      // (WKT text surface stays available via polygonizeWkt, golden-matched
      // vs JTS in PolygonizeSpec)
      Polygonize.polygonizeRings(Synth.maskTiles(s, 1), 8, 8, 32, 16, _ < 7.0, _ => 1.0)),
    "q35_sieve" -> ((s, dir) =>
      // sieve small components (oracle-backed: full CCL+merge replica in
      // DuckDB, q35SieveSql; semantics also pinned in PolygonizeSpec)
      Polygonize.sieve(Synth.maskTiles(s, 1), 8, 8, 32, 16, threshold = 3, _ => true,
        v => math.floor(v / 4.0))),
    "q116_sieve8" -> ((s, dir) =>
      // gdal_sieve -8 (reference alg/sievefilter.cpp, the -8 flag): the
      // q35 sieve with the 8-connected stencil applied to BOTH component
      // building and largest-neighbor targeting — diagonal intra-tile
      // pairs join the kind-3 adjacency and the conn8 seam emissions
      // extend neighbor detection across tiles
      Polygonize.sieve(Synth.maskTiles(s, 1), 8, 8, 32, 16, threshold = 3, _ => true,
        v => math.floor(v / 4.0), conn8 = true)),
    "q75_dither" -> ((s, dir) => {
      // Floyd–Steinberg 1-bit dither (reference alg/gdaldither.cpp; the
      // A9 dither divergence closed as a per-tile recurrence with
      // boundary reset, documented in core/Dither.scala): zoom-2 mask
      // values scaled ×17 into the byte range; all-integer truncating
      // error flow makes the DuckDB list_reduce oracle bit-exact
      Synth.maskTiles(s, 2)
        .withColumn("bits", call_function("dither_fs",
          expr("transform(pixels, v -> v * 17.0D)"), lit(8), lit(8)))
        .select(col("tx"), col("ty"), posexplode(col("bits")).as(Seq("i", "bit")))
    }),
    "q36_focal_tri" -> ((s, dir) => focalPixels(s, "tri")),
    // gdaldem TRI's DEFAULT algorithm (Riley et al. 1999; apps/gdaldem.cpp
    // -alg Riley): sqrt of summed squared neighbor differences — q36 is
    // the -alg Wilson variant. Exact integer sums + correctly-rounded
    // IEEE sqrt make the raw DOUBLE bit-exact across engines.
    "q232_tri_riley" -> ((s, dir) => focalPixels(s, "tri_riley")),
    "q37_focal_tpi" -> ((s, dir) => focalPixels(s, "tpi")),
    "q38_focal_roughness" -> ((s, dir) => focalPixels(s, "roughness")),
    "q39_hillshade" -> ((s, dir) =>
      // trig output — not bit-stable across engines (rows-only; kernel
      // pinned by hand cases + whole-grid oracle in FocalProxContourSpec)
      focalPixels(s, "hillshade")),
    "q94_slope" -> ((s, dir) =>
      // gdaldem slope (Horn kernel, degrees; apps/gdaldem.cpp ::
      // GDALSlope) — milli-degree quantization absorbs the JVM-vs-libm
      // atan ULP gap (values far from .0005 boundaries on this corpus)
      focalPixels(s, "slope_deg")
        .select(col("gx"), col("gy"),
          expr("CAST(floor(val * 1000.0 + 0.5) AS BIGINT)").as("slope_milli"))),
    "q95_aspect" -> ((s, dir) =>
      // gdaldem aspect (azimuth the slope faces, degrees clockwise from
      // north; flat cells → the reference's -9999 sentinel, which
      // quantizes exactly). atan2(±0, x) is exact in every libm, so the
      // 90°-wrap branch boundary (deg == 90 ⇔ dzdx == 0 ∧ dzdy > 0)
      // resolves identically on both engines.
      focalPixels(s, "aspect_deg")
        .select(col("gx"), col("gy"),
          expr("CAST(floor(val * 1000.0 + 0.5) AS BIGINT)").as("aspect_milli"))),
    "q96_hillshade_md" -> ((s, dir) =>
      // gdaldem hillshade -multidirectional (USGS/Mark Smith 225/270/
      // 315/360 blend); byte-quantized with floor(x+0.5) like q39 so the
      // trig ULP gap only matters within ~1e-13 of a rounding boundary
      focalPixels(s, "hillshade_md")),
    "q99_hillshade_combined" -> ((s, dir) =>
      // gdaldem hillshade -combined (apps/gdaldem.cpp ::
      // GDALHillshadeCombinedAlg): the Horn shade angle acos(cang) damped
      // by the slope angle — cmb = 1 − acos(cang)·slopeAng·4/π², so flat
      // terrain is always 255 and oblique contrast grows with steepness.
      // Byte-quantized with floor(x+0.5) like q39/q96; the acos clamp is
      // min-then-max on both engines.
      focalPixels(s, "hillshade_combined")),
    "q124_hillshade_params" -> ((s, dir) =>
      // gdaldem hillshade with the FULL parameter surface exercised
      // non-default (-alt 30 -az 225 -z 2 -s 2 + 0.5-unit cell size):
      // every other focal query runs kernel defaults, so this pins the
      // Params plumbing end-to-end. Same q39 byte quantization; the
      // oracle replays the kernel with the same constants, and the low
      // 30-deg sun makes the cang<=0 clamp-to-1 branch actually fire.
      Focal.focal(Synth.maskTiles(s, 2), 8, 8, 8, 4, "hillshade",
        graft.core.Focal.Params(ewres = 0.5, nsres = 0.5, z = 2.0, scale = 2.0,
          altDeg = 30.0, azDeg = 225.0))
        .select(col("tx"), col("ty"), posexplode(col("pixels")).as(Seq("i", "val")))
        .select((col("tx") * 8 + col("i") % 8).as("gx"),
          (col("ty") * 8 + (col("i") / 8).cast("long")).as("gy"), col("val"))),
    "q125_aspect_trig" -> ((s, dir) =>
      // gdaldem aspect -trigonometric -zero_for_flat: math-convention
      // angle (CCW from east) in [0,360), flat -> 0 (quantizes exactly);
      // milli-deg quantization like q95
      focalPixels(s, "aspect_trig")
        .select(col("gx"), col("gy"),
          expr("CAST(floor(val * 1000.0 + 0.5) AS BIGINT)").as("aspect_milli"))),
    "q117_slope_pct" -> ((s, dir) =>
      // gdaldem slope -p: percent slope = 100·rise/run over the Horn
      // gradient — zero transcendentals (*,/,sqrt only), so the oracle
      // replays the doubles bit-exactly with NO quantization (the first
      // unquantized query in the focal family)
      focalPixels(s, "slope_pct")
        .select(col("gx"), col("gy"), col("val").as("slope_pct"))),
    "q108_slope_zt" -> ((s, dir) =>
      // gdaldem slope -alg ZevenbergenThorne (apps/gdaldem.cpp ::
      // GDALSlopeZevenbergenThorneAlg): central differences over the 4
      // edge neighbors, denominator 2 — milli-deg quantized like q94
      focalPixels(s, "slope_zt")
        .select(col("gx"), col("gy"),
          expr("CAST(floor(val * 1000.0 + 0.5) AS BIGINT)").as("slope_milli"))),
    "q109_aspect_zt" -> ((s, dir) =>
      // gdaldem aspect -alg ZevenbergenThorne: ZT gradient, Horn's wrap/
      // flat-sentinel logic. ZT flags flat wherever f==d AND hh==b — a
      // strictly larger sentinel set than Horn's (corner taps ignored),
      // which the spec pins as the kernels' defining difference.
      focalPixels(s, "aspect_zt")
        .select(col("gx"), col("gy"),
          expr("CAST(floor(val * 1000.0 + 0.5) AS BIGINT)").as("aspect_milli"))),
    "q110_hillshade_zt" -> ((s, dir) =>
      // gdaldem hillshade -alg ZevenbergenThorne: the Horn shade chain
      // over the 2-tap ZT derivative, q39 byte quantization
      focalPixels(s, "hillshade_zt")),
    "q100_locationinfo" -> ((s, dir) => {
      // gdallocationinfo (apps/gdallocationinfo.cpp): world coordinate →
      // inverse geotransform → (pixel, line) → band value at that cell.
      // gt = (-32, 0.5, 0, 64, 0, -0.5) over the zoom-4 synthetic grid
      // (256×128 px in 8×8 tiles). All coords are dyadic so the floor
      // arithmetic is exact on both engines. The lookup is a tile
      // equi-join + O(1) element_at: the raster never shuffles per pixel,
      // and the join broadcasts whichever side is small.
      val pts = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("q_id"))
        .withColumn("x", expr("-32.0D + CAST((q_id * 7919) % 4096 AS DOUBLE) / 32.0D"))
        .withColumn("y", expr("64.0D - CAST((q_id * 104729) % 2048 AS DOUBLE) / 32.0D"))
        .withColumn("px", expr("CAST(floor((x - -32.0D) / 0.5D) AS BIGINT)"))
        .withColumn("py", expr("CAST(floor((64.0D - y) / 0.5D) AS BIGINT)"))
        .withColumn("tx", expr("px div 8"))
        .withColumn("ty", expr("py div 8"))
      pts.join(Synth.maskTiles(s, 4), Seq("tx", "ty"))
        .select(col("q_id"), col("px"), col("py"),
          expr("element_at(pixels, CAST((py % 8) * 8 + px % 8 AS INT) + 1)").as("v"))
    }),
    "q97_nearblack" -> ((s, dir) =>
      // nearblack collar strip (apps/nearblack.cpp, per-scanline form):
      // nb=6 over the 0..15 zoom-2 grid — pixels outside each row's
      // [first, last] v>6 bounds become 255. Pure integer-valued-double
      // compares, bit-exact oracle.
      Raster.nearblack(Synth.maskTiles(s, 2), 8, 8, nb = 6.0)
        .select(col("tx"), col("ty"), posexplode(col("pixels")).as(Seq("i", "val")))
        .select((col("tx") * 8 + col("i") % 8).as("gx"),
          (col("ty") * 8 + (col("i") / 8).cast("long")).as("gy"), col("val"))),
    "q40_proximity" -> ((s, dir) =>
      Proximity.proximity(Synth.maskTiles(s, 2), 8, 8, 8, 4, _ < 1.0, maxDistPx = 10.0)),
    "q134_proximity_buffer" -> ((s, dir) =>
      // gdal_proximity -values 3 -fixed-buf-val 7 -nodata 99 -maxdist 1.5:
      // buffer mask instead of distances, non-default target set, FULL
      // raster emitted; ~44% buffer / ~56% nodata at this radius (census
      // checked at authoring — both branches fire everywhere)
      Proximity.proximityBuffer(Synth.maskTiles(s, 2), 8, 8, 8, 4,
        v => v == 3.0, maxDistPx = 1.5, bufVal = 7.0, nodata = 99.0)),
    "q53_fillnodata" -> ((s, dir) =>
      Raster.fillNodata(Synth.maskTiles(s, 2), 8, 8, 8, 4, _ < 1.0, radiusPx = 4)
        .select(col("tx"), col("ty"), posexplode(col("pixels")).as(Seq("i", "val")))
        .select((col("tx") * 8 + col("i") % 8).as("gx"),
          (col("ty") * 8 + (col("i") / 8).cast("long")).as("gy"), col("val"))),
    "q59_fillnodata_idw" -> ((s, dir) =>
      // FillNodata with inverse-distance-squared weighting (completes R6:
      // round 1 shipped only mean-of-valid): fixed-point 2^20 div d2
      // weights keep the weighted mean exact integer arithmetic
      Raster.fillNodata(Synth.maskTiles(s, 2), 8, 8, 8, 4, _ < 1.0,
        radiusPx = 4, weighting = "idw")
        .select(col("tx"), col("ty"), posexplode(col("pixels")).as(Seq("i", "val")))
        .select((col("tx") * 8 + col("i") % 8).as("gx"),
          (col("ty") * 8 + (col("i") / 8).cast("long")).as("gy"), col("val"))),
    "q135_fillnodata_smooth" -> ((s, dir) => {
      // gdal_fillnodata -si 2 (alg/rasterfill.cpp GDALMultiFilter): the
      // q53 mean fill followed by TWO 3x3-mean smoothing iterations over
      // the interpolated pixels only; valid pixels are anchors. Each
      // iteration = one O(perimeter) halo exchange; out-of-grid neighbors
      // excluded (divisor = in-grid count). Oracle replays the row-major
      // IEEE accumulation with coalesce(+0.0) for absent cells.
      val orig = Synth.maskTiles(s, 2)
      val filled = Raster.fillNodata(orig, 8, 8, 8, 4, _ < 1.0, radiusPx = 4)
      val withMask = filled.join(orig.select(col("tx"), col("ty"), expr(
        "transform(pixels, v -> CAST(CASE WHEN v < 1.0 THEN 1.0 ELSE 0.0 END AS DOUBLE))")
        .as("mask")), Seq("tx", "ty"))
      Focal.smoothFill(withMask, 8, 8, 8, 4, iterations = 2)
        .select(col("tx"), col("ty"), posexplode(col("pixels")).as(Seq("i", "val")))
        .select((col("tx") * 8 + col("i") % 8).as("gx"),
          (col("ty") * 8 + (col("i") / 8).cast("long")).as("gy"), col("val"))
    }),
    "q41_contour_segments" -> ((s, dir) =>
      Contour.segments(Synth.maskTiles(s, 2), 8, 8, 8, 4, level2x = 15L)),
    "q127_contour_levels" -> ((s, dir) =>
      // gdal_contour -i 4 -off 0.5 / -fl (apps/gdal_contour.cpp loops the
      // level list): four half-integer levels 0.5/4.5/8.5/12.5 over the
      // same grid, each its own q41 marching-squares pass tagged with a
      // level column — the multi-level surface is a union of per-level
      // plans (independent map-side passes, one shuffle-free generate
      // each). Oracle: the parameterized q41 CTE instantiated per level.
      Seq(1L, 9L, 17L, 25L).map { l =>
        Contour.segments(Synth.maskTiles(s, 2), 8, 8, 8, 4, level2x = l)
          .withColumn("level2x", lit(l))
      }.reduce(_ unionByName _)),
    "q128_tindex" -> ((s, dir) =>
      // gdaltindex (apps/gdaltindex.cpp): index row per tile — location
      // string + geodetic bounds; oracle replays the 22.5°/tile zoom-3
      // geotransform (exact dyadic-scaled doubles)
      Raster.tindex(Synth.tiles(s, 3), 3)),
    "q156_merge_separate" -> ((s, dir) => {
      // gdal_merge.py -separate / gdalbuildvrt -separate: each input
      // becomes its own BAND of the stacked output in argument order
      // (band stacking, vs mosaic's compositing) — a union with band
      // renumber; per-band checksums must equal each source's own.
      val a = Synth.tiles(s, 3).withColumn("band", lit(1))
      val b = Synth.tiles(s, 3)
        .withColumn("pixels", expr("transform(pixels, p -> (p * 3.0 + 7.0) % 256.0)"))
        .withColumn("band", lit(2))
      a.unionByName(b)
        .select(col("band"), col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q208_ogrmerge" -> ((s, dir) => {
      // ogrmerge.py -single (swig/python/scripts/ogrmerge.py): merge
      // heterogeneous-SCHEMA vector layers into one, recording the
      // source layer per feature; fields absent from a source fill NULL
      // (the utility unions layer field definitions). Layers here carry
      // genuinely different attribute sets: A has `name`, B has `sz`.
      // unionByName(allowMissingColumns) IS the field-union law — plain
      // scan→project→union, shuffle-free, and at 100 TB this merges
      // without touching either source's partitioning.
      val a = Synth.boxes(s, dir).where(col("box_id") % 3 === 0)
        .select(lit("layer_a").as("src_layer"), col("box_id").as("fid"),
          format_string("name_%d", col("box_id")).as("name"),
          col("xmin"), col("ymin"))
      val b = Synth.boxes(s, dir).where(col("box_id") % 3 === 1)
        .select(lit("layer_b").as("src_layer"), col("box_id").as("fid"),
          (col("box_id") % 100).cast("long").as("sz"),
          col("xmin"), col("ymin"))
      a.unionByName(b, allowMissingColumns = true)
        .select(col("src_layer"), col("fid"), col("name"), col("sz"),
          col("xmin"), col("ymin"))
    }),
    "q157_ogrtindex" -> ((s, dir) =>
      // ogrtindex (apps/ogrtindex.cpp): one index row per vector LAYER —
      // layer name + feature count + the layer extent envelope (the
      // OGRLayer::GetExtent the index stores). Layers = a deterministic
      // partition of the box corpus; envelope agg per layer.
      Synth.boxes(s, dir)
        .withColumn("layer", format_string("layer_%d", col("box_id") % 4))
        .groupBy("layer")
        .agg(count(lit(1)).as("n_features"),
          min(col("xmin")).as("xmin"), min(col("ymin")).as("ymin"),
          max(col("xmax")).as("xmax"), max(col("ymax")).as("ymax"))),
    "q139_pyramid_gauss" -> ((s, dir) => {
      // gdaladdo -r gauss: the remaining overview kernel after q18
      // average / q49 mode / nearest — 3x3 [1 2 1;2 4 2;1 2 1] centered
      // on child (2px,2py), truncated at borders (divisor = in-grid
      // weight sum). Per-pixel rows, UNQUANTIZED: the weighted sums are
      // exact integer doubles in any add order and the one division is
      // the same IEEE op in both engines.
      Raster.pyramidGauss(Synth.tiles(s, 3))
        .select(col("tx"), col("ty"), posexplode(col("pixels")).as(Seq("i", "val")))
        .select((col("tx") * 64 + col("i") % 64).as("pgx"),
          (col("ty") * 64 + (col("i") / 64).cast("long")).as("pgy"), col("val"))
    }),
    "q136_warp_tap" -> ((s, dir) =>
      // gdalwarp -tap -tr 0.375 0.375 (apps/gdalwarp.cpp bTargetAlignedPixels:
      // output bounds snapped OUTWARD to multiples of the resolution, size
      // derived from the snapped bounds): per-dataset closed-form floor/ceil
      // arithmetic — xmin/0.375 = (8*xmin)/3 sits >= 1/1536 from every
      // integer on this corpus (2^-12 edge offsets), so floor/ceil are
      // unambiguous in both engines. Shuffle-free scan->project.
      Synth.boxes(s, dir).select(
        col("box_id"),
        (floor(col("xmin") / 0.375) * 0.375).as("axmin"),
        (floor(col("ymin") / 0.375) * 0.375).as("aymin"),
        (ceil(col("xmax") / 0.375) * 0.375).as("axmax"),
        (ceil(col("ymax") / 0.375) * 0.375).as("aymax"),
        (ceil(col("xmax") / 0.375) - floor(col("xmin") / 0.375)).cast("long").as("nx"),
        (ceil(col("ymax") / 0.375) - floor(col("ymin") / 0.375)).cast("long").as("ny"))),
    "q129_retile" -> ((s, dir) => {
      // gdal_retile.py: re-chunk the 16×8 grid of 64×64 tiles (1024×512
      // px) into 160×96 tiles — edge tiles clipped (last column 64 wide,
      // last row 32 tall), interior source tiles straddling output tiles
      // split into ≤4 strip groups. Oracle recomputes every output pixel
      // from the synth closed form at its GLOBAL coordinates, so a
      // misplaced strip (wrong dx0/dy sort, off-by-one slice) breaks the
      // order-sensitive checksum. ONE exchange (PlanSpec-pinned).
      Raster.retile(Synth.tiles(s, 3), 16, 8, 160, 96)
        .select(col("tx"), col("ty"), col("w"), col("h"),
          F.checksum_px(col("pixels")).as("cks"))
    }),
    "q204_retile_overlap" -> ((s, dir) => {
      // gdal_retile.py -overlap 16: q129's re-chunk with a 16 px overlap
      // band — output tiles start every (size − overlap) px, so
      // interior pixels are REPLICATED into two tiles per axis (the
      // output contract of overlapped tiling: each tile self-contained
      // for downstream focal ops without a halo exchange). Offsets
      // 0,144,…,1008 × 0,80,…,480 → 8×7 tiles, edge tiles clipped. Same
      // single strips→exchange→assembly plan as q129.
      Raster.retile(Synth.tiles(s, 3), 16, 8, 160, 96, overlap = 16)
        .select(col("tx"), col("ty"), col("w"), col("h"),
          F.checksum_px(col("pixels")).as("cks"))
    }),
    "q130_rasterize_at" -> ((s, dir) => {
      // gdal_rasterize -at (ALL_TOUCHED): polygons burn every pixel they
      // INTERSECT — parity fill ∪ ring DDA — with MAX merge (the mode q17
      // doesn't exercise). On the axis-aligned box corpus the touched set
      // is closed-form (the bbox pixel block; edges sit ≥1/720 px from
      // every pixel boundary by the 2^-12-offset construction), so the
      // oracle grades fill+DDA union against ground truth, not against a
      // second DDA.
      val geoms = Synth.rasterBoxes(s, dir)
        .withColumn("burn", (col("box_id") % 97 + 1).cast("double"))
      Raster.rasterize(geoms, "geom", "burn", zoom = 4, mode = "max", allTouched = true)
        .select(col("zoom"), col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q131_buildvrt" -> ((s, dir) => {
      // gdalbuildvrt -resolution highest (apps/gdalbuildvrt.cpp resolution
      // resolution + frmts/vrt upsampling-on-read): inputs at MIXED
      // resolutions — zoom-3 tiles over the west half (tx < 8), zoom-2
      // tiles world-wide — composed on the FINEST grid: the coarse source
      // is nearest-upsampled 2x to zoom 3 (map-side generate, no shuffle)
      // and the per-tile priority mosaic picks fine-where-present,
      // upsampled-coarse elsewhere. Oracle: z3 closed form west, z2
      // closed form at (gx div 2, gy div 2) east.
      val cols = Seq("zoom", "tx", "ty", "band", "pixels", "prio").map(col)
      val fine = Synth.tiles(s, 3).where(col("tx") < 8)
        .withColumn("prio", lit(2)).select(cols: _*)
      val coarseUp = Raster.upsample2x(Synth.tiles(s, 2))
        .withColumn("prio", lit(1)).select(cols: _*)
      Raster.mosaic(fine.unionByName(coarseUp), "prio")
        .select(col("zoom").cast("long").as("zoom"), col("tx"), col("ty"),
          F.checksum_px(col("pixels")).as("cks"))
    }),
    "q132_ogr_special_fields" -> ((s, dir) => {
      // OGR SQL special fields (ogr_gensql.cpp/swq.cpp): FID /
      // OGR_GEOMETRY / OGR_GEOM_AREA selected AND filtered through SQL
      // text over a registered layer. The box corpus keeps st_area exact
      // (dyadic shoelace products < 2^53), so the oracle recomputes area
      // as (xmax-xmin)*(ymax-ymin) from the generating arithmetic —
      // bit-exact, UNQUANTIZED.
      val layer = Synth.regionWkt(s, dir)
        .withColumn("geom", F.st_geomfromwkt(col("wkt")))
      OgrSql.registerLayer(layer, "regions_layer", "geom", "region_id")
      s.sql("""
        SELECT FID AS fid, OGR_GEOMETRY AS geom_type, OGR_GEOM_AREA AS area
        FROM regions_layer
        WHERE OGR_GEOM_AREA >= 12.0 AND FID % 3 = 0""")
    }),
    "q133_color_relief_nearest" -> ((s, dir) => {
      // gdaldem color-relief -nearest_color_entry: midpoint-threshold
      // entry pick instead of interpolation. Elevations 0/31/96/159/224
      // have ODD gaps, so every midpoint is a half-integer and integer
      // pixels can never tie — the engine decides 2v < e_i + e_{i+1}, the
      // oracle the hand-derived v <= 15/63/127/191 thresholds
      // (independent formulations of the same rule).
      val ramp = Seq((0, 0, 0, 128), (31, 0, 128, 0), (96, 255, 255, 0),
        (159, 128, 64, 0), (224, 255, 255, 255))
      Raster.colorRelief(Synth.tiles(s, 3), ramp, mode = "nearest")
        .select(col("band"), col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q42_contour_stitch" -> ((s, dir) =>
      // endpoint-graph polyline assembly (oracle-backed: endpoint-equality
      // CCL over the q41 segment CTE, q42StitchSql; partitioning-
      // independence also pinned in FocalProxContourSpec)
      Contour.stitch(Contour.segments(Synth.maskTiles(s, 2), 8, 8, 8, 4, level2x = 15L))),

    // ------------- embedding near-dup + ANN scale path --------------------
    "q43_cosine_dup" -> ((s, dir) => {
      // Embedding near-dup over a near-dup-RICH derived corpus: the raw
      // synthetic embeddings are near-orthogonal (max pair cos ≈ 0.51), so
      // each vector gets a deterministically perturbed twin (integer
      // fixed-point deltas, reproducible in the SQL oracle) at cos ≈
      // 0.9999; threshold cos >= 0.8 = 4/5 separates planted pairs from
      // random ones with a huge margin. The operator is LSH-bucketed
      // candidate generation + EXACT rational fixed-point verify — no
      // cross join anywhere (round 1 brute-forced an even-id subset).
      // Brute == bucketed equality is pinned in PipelineSpec.
      Ann.cosineDupPairs(Synth.twinEmbeddings(s, dir), "vec_id", "v",
        minCosNum = 4L, minCosDen = 5L, fixedScale = 1000)
    }),
    "q45_ann_lsh" -> ((s, dir) => {
      // banded sign-LSH ANN — the brute-force q26's scale path
      // (approximate recall by design → rows-only; recall vs q26 measured
      // and pinned in PipelineSpec)
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.lshTopK(e.where(col("vec_id") % 50 === 0), "vec_id", "embedding",
        e, "vec_id", "embedding", k = 5, bands = 4, rowsPerBand = 8)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("score"))
    }),

    // ------------- SQL-text surface (ExecuteSQL analog) -------------------
    "q46_ogr_sql" -> ((s, dir) => {
      // the reference's OGRDataSource::ExecuteSQL path: SQL TEXT over a
      // registered layer with injected st_*/cell_* functions — parse →
      // analyze → optimize all Catalyst (SURVEY.md §4.1)
      Synth.regionWkt(s, dir).createOrReplaceTempView("regions_v")
      s.sql("""
        SELECT region_id,
               st_area(st_geomfromwkt(wkt)) AS area,
               cell_tx(cell_encode(st_x(st_centroid(st_geomfromwkt(wkt))),
                                   st_y(st_centroid(st_geomfromwkt(wkt))), 7)) AS ctx,
               cell_ty(cell_encode(st_x(st_centroid(st_geomfromwkt(wkt))),
                                   st_y(st_centroid(st_geomfromwkt(wkt))), 7)) AS cty
        FROM regions_v""")
    }),

    // ------------- translate / band algebra / mode pyramid ----------------
    "q47_translate" -> ((s, dir) => {
      Raster.translate(Synth.tiles(s, 3), 64, 64, x0 = 100, y0 = 50,
        outW = 300, outH = 200, scale = 2.0, offset = 1.0, clampMin = 0.0, clampMax = 255.0)
        .select(col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q48_calc" -> ((s, dir) => {
      val a = Synth.tiles(s, 3)
      val b = Synth.tiles(s, 3)
        .withColumn("pixels", expr("transform(pixels, p -> (p * 3.0 + 1.0) % 128.0)"))
      Raster.calc(a, b, "a + 2.0 * b")
        .select(col("zoom").cast("long").as("zoom"), col("tx"), col("ty"),
          F.checksum_px(col("pixels")).as("cks"))
    }),
    "q207_calc_mask" -> ((s, dir) => {
      // gdal_calc.py LOGICAL-mask idiom (swig/python/scripts/gdal_calc.py
      // docs: --calc="A*(A>B) + B*(A<=B)", the per-pixel max-via-mask —
      // numpy comparisons yield 0/1 masks that multiply the branches; the
      // q48 arithmetic calc never exercises a comparison). Same zip_with
      // codegen path, booleans cast to 0/1 doubles exactly as numpy does.
      // Map-only after the one tile equi-join — at 100 TB this stays the
      // calc family's join-then-HOF shape.
      val a = Synth.tiles(s, 3)
      val b = Synth.tiles(s, 3)
        .withColumn("pixels", expr("transform(pixels, p -> (p * 3.0 + 1.0) % 128.0)"))
      Raster.calc(a, b,
        "a * CAST(a > b AS DOUBLE) + b * CAST(a <= b AS DOUBLE)")
        .select(col("zoom").cast("long").as("zoom"), col("tx"), col("ty"),
          F.checksum_px(col("pixels")).as("cks"))
    }),
    "q49_pyramid_mode" -> ((s, dir) => {
      Raster.pyramidUp(Synth.tiles(s, 3), method = "mode")
        .select(col("zoom").cast("long").as("zoom"), col("tx"), col("ty"),
          F.checksum_px(col("pixels")).as("cks"))
    }),
    "q201_pyramid_rms" -> ((s, dir) => {
      // gdaladdo -r rms (reference gcore/overview.cpp, GDAL 3.3's RMS
      // overview kernel): parent = sqrt of the 2x2 mean of squares. The
      // integer-valued children make the sum of squares exact, /4.0 is
      // dyadic, and IEEE sqrt is correctly rounded — the only
      // transcendental-free root there is — so the DuckDB oracle's
      // identical expression lands on the identical double. Same one
      // hash-agg regroup per parent cell as every pyramid level.
      Raster.pyramidUp(Synth.tiles(s, 3), method = "rms")
        .select(col("zoom").cast("long").as("zoom"), col("tx"), col("ty"),
          F.checksum_px(col("pixels")).as("cks"))
    }),

    "q51_geom_selfjoin" -> ((s, dir) => {
      // geometry×geometry spatial join + intersection overlay (the
      // reference's layer-algebra Intersection): cell equi-join prune →
      // pair dedup → exact JTS refine → overlay area. Axis-aligned inputs
      // make the overlay area exact arithmetic → oracle-matched.
      val r = Synth.regionWkt(s, dir).withColumn("g", F.st_geomfromwkt(col("wkt")))
      // adaptive hot-cell salting armed: the synthetic giant boxes
      // (region_id % 97) are exactly the hot-cell case at 100× scale;
      // a cover under the broadcast threshold broadcasts instead, and
      // below the hot threshold the plan degrades to the plain equi-join.
      // OPTIMIZATION r6: the self-join entry point builds ONE cover for
      // both sides instead of two byte-identical ones (same join core).
      SpatialJoin.geomSelfJoin(r, "region_id", "g", "id_a", "ga",
        "id_b", "gb", zoom = 7, saltFactor = 8, hotThreshold = 100000L)
        .where(col("id_a") < col("id_b"))
        .withColumn("inter_area", F.st_area(F.st_intersection(col("ga"), col("gb"))))
        .select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"),
          col("inter_area"))
    }),
    "q50_geom_funcs" -> ((s, dir) => {
      // scalar geometry surface: boundary length (perimeter), envelope
      // area, type, validity, point distance — all exact arithmetic on
      // 2^-12-aligned coords, so doubles compare bit-exactly vs the oracle
      val r = Synth.regionWkt(s, dir).withColumn("g", F.st_geomfromwkt(col("wkt")))
      r.select(col("region_id"),
        F.st_length(call_function("st_boundary", col("g"))).as("perimeter"),
        F.st_area(call_function("st_envelope", col("g"))).as("env_area"),
        call_function("st_geometrytype", col("g")).as("gtype"),
        F.st_isvalid(col("g")).as("valid"),
        F.st_distance(F.st_point(F.st_x(col("g")), F.st_y(col("g"))),
          F.st_point(lit(0.0), lit(0.0))).as("dist0"))
    }),
    "q72_makevalid" -> ((s, dir) => {
      // geometry repair (reference ogr/ogrgeometryfactory.cpp ::
      // organizePolygons / OGRGeometry::MakeValid): bowtie (figure-eight
      // self-intersecting) rings built from the box corners; JTS
      // GeometryFixer splits each into two triangles meeting at the box
      // center. All coords are 2^-12 dyadic and the center is 2^-13
      // dyadic, so every shoelace product/sum is exact — area_before
      // cancels to exactly 0, area_after is exactly w*h/2
      val g = Synth.boxes(s, dir).select(col("box_id"),
        F.st_geomfromwkt(format_string(
          "POLYGON((%.12f %.12f, %.12f %.12f, %.12f %.12f, %.12f %.12f, %.12f %.12f))",
          col("xmin"), col("ymin"), col("xmax"), col("ymax"),
          col("xmin"), col("ymax"), col("xmax"), col("ymin"),
          col("xmin"), col("ymin"))).as("g"))
        .withColumn("fg", F.st_makevalid(col("g")))
      g.select(col("box_id"),
        F.st_isvalid(col("g")).as("valid_before"),
        F.st_area(col("g")).as("area_before"),
        F.st_isvalid(col("fg")).as("valid_after"),
        call_function("st_geometrytype", col("fg")).as("gtype_after"),
        F.st_area(col("fg")).as("area_after"))
    }),
    "q73_utm_forward" -> ((s, dir) => {
      // general-SRS surface (reference ogr/ogrct.cpp :: OGRProj4CT for
      // the UTM family): each query point forward-transforms into its
      // natural UTM zone via the Krüger series (core/Utm.scala), srid
      // chosen PER ROW (326xx north / 327xx south). Output quantized to
      // integer centimeters with floor(x*100 + 0.5) — the oracle
      // replicates the arithmetic op-for-op, so only transcendental ULP
      // gaps remain, absorbed by the cm quantum (q39/q19 trick)
      Synth.queryPoints(s, dir)
        // clamp like Utm.lonZone: lon = 180.0 exactly is legal WGS84 and
        // would otherwise compute zone 61 / EPSG 32661, which st_transform
        // rejects (latent here — the synth corpus keeps lon < 180)
        .withColumn("zone", least(lit(60L), (floor((col("lon") + 180.0) / 6.0) + 1).cast("long")))
        .withColumn("epsg", when(col("lat") >= 0, col("zone") + 32600)
          .otherwise(col("zone") + 32700).cast("int"))
        .transform(forwardCm)
    }),
    "q76_utm_inverse" -> ((s, dir) => {
      // inverse leg of the general-SRS surface (reference ogr/ogrct.cpp ::
      // OGRProj4CT): deterministic per-row UTM coordinates — integer
      // meters, hence exact doubles — inverse-transform to 4326 through
      // the Krüger beta/delta series (core/Utm.inverse). Output quantized
      // to 1e-6 degree (~11 cm) with floor(x*1e6 + 0.5); the oracle
      // (OracleHashSql.q76UtmInv) replays the series op-for-op so only
      // transcendental ULPs remain, absorbed by the quantum (q73 trick).
      // Plan is scan → project, shuffle-free, like q73.
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("zone", col("q_id") % 60 + 1)
        .withColumn("north", col("q_id") % 2 === 0)
        .withColumn("epsg", when(col("north"), col("zone") + 32600)
          .otherwise(col("zone") + 32700).cast("int"))
        .withColumn("e_m", (lit(100000L) + (col("q_id") * 48271) % 800001).cast("double"))
        .withColumn("__nr", (col("q_id") * 16807) % 9000001)
        .withColumn("n_m", when(col("north"), col("__nr"))
          .otherwise(lit(10000000L) - col("__nr")).cast("double"))
        .transform(inverseE6)
    }),
    "q80_lcc_forward" -> ((s, dir) => {
      // second general-SRS family (reference ogr/ogrct.cpp :: OGRProj4CT
      // for PROJ's lcc): each query point forward-projects into an LCC 2SP
      // CRS chosen per row — EPSG:2154 Lambert-93 (even q_id) or EPSG:3978
      // Canada Atlas (odd) — via core/Lcc.forward, cm-quantized; the
      // oracle (OracleHashSql.q80Lcc) replays the Snyder chain op-for-op
      // with the engine's derived constants as literals (q73 trick).
      // Plan: scan → project, shuffle-free.
      Synth.queryPoints(s, dir)
        .withColumn("epsg", when(col("q_id") % 2 === 0, lit(2154))
          .otherwise(lit(3978)).cast("int"))
        .transform(forwardCm)
    }),
    "q81_lcc_inverse" -> ((s, dir) => {
      // LCC 2SP inverse leg: deterministic integer-meter easting/northing
      // around each CRS's false origin (exact doubles) back to 4326 through
      // core/Lcc.inverse — spherical seed + the φ fixed-point iteration
      // unrolled to exactly 5 steps so the oracle can replay the same
      // chain. 1e-6-degree quantization (q76 trick). Shuffle-free.
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("epsg", when(col("q_id") % 2 === 0, lit(2154))
          .otherwise(lit(3978)).cast("int"))
        .withColumn("fe", when(col("q_id") % 2 === 0, lit(700000.0)).otherwise(lit(0.0)))
        .withColumn("fn", when(col("q_id") % 2 === 0, lit(6600000.0)).otherwise(lit(0.0)))
        .withColumn("e_m", col("fe") +
          (((col("q_id") * 48271) % 2000001).cast("double") - 1000000.0))
        .withColumn("n_m", col("fn") +
          (((col("q_id") * 16807) % 3000001).cast("double") - 1500000.0))
        .transform(inverseE6)
    }),
    "q196_transform_pipeline" -> ((s, dir) => {
      // gdaltransform chained coordinate pipeline (apps/gdaltransform.cpp
      // :: main + ogr/ogrct.cpp :: OGRCreateCoordinateTransformation):
      // when neither SRS is geographic the transform hubs through WGS84 —
      // UTM inverse (Krüger series, the q76 leg) composed with the LCC
      // 2SP forward (Snyder chain, the q80 leg) as two st_transform calls
      // with NO intermediate quantization, exactly the reference's
      // chained-CT semantics. Deterministic integer-meter UTM inputs
      // (exact doubles, the q76 law); cm-quantized output; the oracle
      // replays both legs op-for-op. Plan: scan → project, shuffle-free —
      // at 100 TB this is a map-only projection like every SRS query.
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("zone", col("q_id") % 60 + 1)
        .withColumn("north", col("q_id") % 2 === 0)
        .withColumn("src_epsg", when(col("north"), col("zone") + 32600)
          .otherwise(col("zone") + 32700).cast("int"))
        .withColumn("dst_epsg", when(col("q_id") % 2 === 0, lit(2154))
          .otherwise(lit(3978)).cast("int"))
        .withColumn("e_m", (lit(100000L) + (col("q_id") * 48271) % 800001).cast("double"))
        .withColumn("__nr", (col("q_id") * 16807) % 9000001)
        .withColumn("n_m", when(col("north"), col("__nr"))
          .otherwise(lit(10000000L) - col("__nr")).cast("double"))
        .withColumn("u", F.st_transform(
          F.st_transform(F.st_point(col("e_m"), col("n_m")),
            col("src_epsg"), lit(4326)),
          lit(4326), col("dst_epsg")))
        .select(col("q_id"), col("src_epsg"), col("dst_epsg"),
          expr("CAST(floor(st_x(u) * 100.0 + 0.5) AS BIGINT)").as("e_cm"),
          expr("CAST(floor(st_y(u) * 100.0 + 0.5) AS BIGINT)").as("n_cm"))
    }),
    "q197_warp_minmaxsum" -> ((s, dir) => {
      // gdalwarp -r min / -r max / -r sum (reference:
      // alg/gdalwarpkernel.cpp :: GWKAverageOrModeThread nAlgo 2/3/5;
      // apps/gdalwarp_lib.cpp accepts them since GDAL 3.1): the q55 box
      // resample (8/5 non-dyadic scale, integer center-inclusion tests)
      // with extreme / running-total reducers instead of the mean. All
      // three kernels share ONE source scan contract: the per-dst-tile
      // regroup ships each src tile once per kernel, pixels never leave
      // their dst-tile row — at 100 TB this is the same
      // shuffle-once-then-map shape as every other warp. Integer sources
      // keep min/max/sum exact; checksum per dst tile, kernel column
      // disambiguates.
      warpKernels(s, "min", "max", "sum")
    }),
    "q209_warp_quantiles" -> ((s, dir) => {
      // gdalwarp -r med / -r q1 / -r q3 (reference:
      // alg/gdalwarpkernel.cpp :: GWKAverageOrModeThread GWKAOM_Quant,
      // quant 0.5/0.25/0.75): the value at SELECTION index ceil(q·n)−1
      // of the sorted valid sources — a pure order statistic, no
      // interpolation, so integer sources stay bit-exact and the oracle
      // replays it with a row_number window. Same shuffle-once-then-map
      // dst-tile regroup as q55/q197; the 8/5 scale yields windows of
      // 1/2/4 centers, so the n=1 passthrough, n=2 lower-pick and n=4
      // interior-pick branches all fire.
      warpKernels(s, "med", "q1", "q3")
    }),

    // ------------- multimodal resolver ------------------------------------
    "q44_media_mean" -> ((s, dir) => {
      // 1-in-20 doc subset: the synthetic resolver must REGENERATE every
      // referenced 64x64 tile, which at full sf0.1 dominates the query
      val docs = Synth.docs(s, dir)
        .where(expr("CAST(substring(doc_id, 5) AS BIGINT) % 20 = 0"))
      // resolver: distinct tile:// refs regenerate their zoom-8 pixel block
      val spans = docs.select(posexplode(col("spans")).as(Seq("pos", "span")))
        .where(col("span.kind") === "media")
        .select(col("span.media_ref").as("media_ref"))
      val pat = "tile://(\\d+)/(\\d+)/(\\d+)/(\\d+)"
      val tiles = spans
        .select(regexp_extract(col("media_ref"), pat, 2).cast("long").as("tx"),
          regexp_extract(col("media_ref"), pat, 3).cast("long").as("ty"))
        .distinct()
        .withColumn("zoom", lit(8)).withColumn("band", lit(1))
        .withColumn("pixels", expr(
          "transform(sequence(0, 4095), i -> " +
          "CAST((tx*131 + ty*173 + (i % 64)*7 + CAST(i / 64 AS INT)*11 + 8) % 256 AS DOUBLE))"))
      Media.mediaFeatures(Media.resolveMedia(docs, tiles))
        .select(col("doc_id"), col("offset"), col("px_mean"))
    }),

    // ------------- round-2 additions --------------------------------------
    "q54_rasterize_lines" -> ((s, dir) => {
      // gdal_rasterize of a LINE layer (ALL_TOUCHED DDA burn): endpoints on
      // the integer global pixel grid of zoom 3 (16x8 tiles, 1024x512 px,
      // pixel = 45/128 deg — dyadic, so every coordinate and the per-tile
      // pixel math are exact doubles and the closed-form DDA walk is
      // reproduced bit-for-bit by the DuckDB oracle). mode=add: pixel value
      // = sum of burns of the lines touching it.
      val c = 45.0 / 128.0
      val lines = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey"),
          (col("p_partkey") * 37 % 1024).as("x0"), (col("p_partkey") * 73 % 512).as("y0"),
          ((col("p_partkey") * 131 + 257) % 1024).as("x1"), ((col("p_partkey") * 29 + 101) % 512).as("y1"))
        .withColumn("geom", F.st_geomfromwkt(format_string(
          "LINESTRING(%.10f %.10f, %.10f %.10f)",
          lit(-180.0) + col("x0") * c, lit(90.0) - col("y0") * c,
          lit(-180.0) + col("x1") * c, lit(90.0) - col("y1") * c)))
        .withColumn("burn", (col("p_partkey") % 5 + 1).cast("double"))
      Raster.rasterize(lines, "geom", "burn", zoom = 3, mode = "add")
        .select(col("zoom"), col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q55_warp_average" -> ((s, dir) => {
      // gdalwarp -ts 640 320 -r average over the zoom-3 synthetic grid
      // (1024x512 px): non-power-of-two 8/5 scale — NOT expressible by the
      // 2x2 pyramid — box kernel with pure-integer center-inclusion tests,
      // so the mean of integer sources is bit-exact vs the DuckDB oracle
      Raster.regrid(Synth.tiles(s, 3), 1024, 512, 640, 320, "average")
        .select(col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q115_warp_nodata" -> ((s, dir) => {
      // gdalwarp -srcnodata 0 -ts 640 320 -r average: the q55 box kernel
      // with declared-nodata sources excluded from the mean (reference
      // alg/gdalwarpkernel.cpp honors the per-pixel nodata mask); windows
      // whose every center is nodata write the nodata value back. The
      // synthetic grid's v==0 pixels (~1/256) are the nodata set, and the
      // 8/5 scale's single-center windows make all-excluded fallbacks
      // actually fire. Integer-exact mean, checksum per dst tile.
      Raster.regrid(Synth.tiles(s, 3), 1024, 512, 640, 320, "average",
        nodata = Some(0.0))
        .select(col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q58_warp_mode" -> ((s, dir) => {
      // same re-grid with -r mode (majority vote, ties -> smallest value)
      Raster.regrid(Synth.tiles(s, 3), 1024, 512, 640, 320, "mode")
        .select(col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q60_pip_mercator" -> ((s, dir) => {
      // the same PIP join pruned on the WEB-MERCATOR cell grid — the
      // native prune for post-warp EPSG:3857-tiled data (round 1 had no
      // mercator-side cover). Exact refine unchanged -> identical row set,
      // so the geodetic DuckDB oracle applies verbatim.
      val polys = Synth.regionGeoms(s, dir)
      SpatialJoin.pointInPolygon(polys, "geom",
        Synth.points(s, dir).select("pt_id", "lon", "lat"), "lon", "lat",
        zoom = 7, broadcastPolys = true, mercator = true)
        .select(col("region_id").cast("long").as("box_id"), col("pt_id"))
    }),
    "q57_contour_lines" -> ((s, dir) =>
      // ordered polyline geometry output (the reference emits line
      // FEATURES, not segment soup): deterministic endpoint-graph walk per
      // stitched polyline, emitted as exact-rational vertex ROWS — every
      // marching-squares vertex has degree ≤ 2, so the walk is a forced
      // successor chain the SQL oracle replays with a recursive CTE (WKT
      // surface stays available via Contour.polylines; assembly
      // determinism + tiled==giant equality pinned in FocalProxContourSpec)
      Contour.polylineVertices(
        Contour.segments(Synth.maskTiles(s, 2), 8, 8, 8, 4, level2x = 15L))),
    "q61_cutline" -> ((s, dir) => {
      // gdalwarp -cutline (R7, previously a documented non-goal): cutline
      // boxes on the integer zoom-3 pixel grid (dyadic 45/128-degree
      // coords → exact), mask = scanline burn, outside pixels zeroed,
      // untouched tiles dropped (nodata analog)
      Raster.cutline(Synth.tiles(s, 3), cutBoxes(s), "geom", zoom = 3)
        .select(col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q74_cutline_blend" -> ((s, dir) => {
      // gdalwarp -cutline -cblend (the R7 blend-distance divergence,
      // closed): same cutline boxes as q61, blend 6 px. Edge distances
      // are exact integer d²; the milli-weight floor is over IEEE-exact
      // sqrt arithmetic the oracle replicates op-for-op, so the per-tile
      // fixed-point checksum is bit-exact
      Raster.cutlineBlend(Synth.tiles(s, 3), cutBoxes(s), "geom", zoom = 3,
          w = 64, h = 64, nxTiles = 16, nyTiles = 8, blendPx = 6)
        .groupBy("tx", "ty")
        .agg(expr("CAST(sum(b_milli * (i % 49 + 1)) % 65535 AS INT)").as("cks"))
    }),
    "q62_pansharpen" -> ((s, dir) => {
      // gdal_pansharpen weighted Brovey (R8, previously a non-goal): pan
      // at zoom 3, three synthetic ms bands at zoom 2 nearest-upsampled;
      // out = ms·pan·30 div Σms in pure BIGINT — bit-exact vs oracle.
      // scale=10 (not the operator's default 1000) keeps per-pixel values
      // <= 7650 so the checksum's 32-bit masked accumulator never wraps
      // (the SQL oracle sums unmasked)
      val pan = Synth.tiles(s, 3)
      Raster.pansharpen(pan, Synth.panBands(s), nBands = 3, scale = 10)
        .select(col("band"), col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q137_pansharpen_weights" -> ((s, dir) => {
      // gdal_pansharpen -w 1 -w 2 -w 1 (non-default band weights): the
      // q62 corpus with pseudo_pan = (ms1 + 2·ms2 + ms3)/4 — ratio
      // ms·pan·4·scale div (ms1 + 2·ms2 + ms3) in pure BIGINT. Max pixel
      // value pan·40 = 10200 keeps the checksum accumulator < 2^32.
      val pan = Synth.tiles(s, 3)
      Raster.pansharpen(pan, Synth.panBands(s), nBands = 3, scale = 10, weights = Seq(1L, 2L, 1L))
        .select(col("band"), col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q63_mediancut" -> ((s, dir) => {
      // rgb2pct (A9, previously a non-goal): 3 synthetic channels of the
      // zoom-3 grid have exactly 256 distinct colors, so at quantBits=8 /
      // paletteSize=256 median cut terminates in singleton boxes and the
      // palette is exactly the distinct colors sorted by packed value —
      // index = rank, reproduced bit-for-bit by the oracle. (The general
      // path — fewer palette entries than colors, 5-bit bins — is pinned
      // in RasterSpec.)
      val (mapped, _) = Raster.rgb2pct(Synth.rgbBands(s, 3), paletteSize = 256, quantBits = 8,
        allowLargePalette = true) // corpus has exactly 256 colors by construction
      mapped.select(col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q64_osm_ways" -> ((s, dir) => {
      // OSM two-pass reader (S10, previously a documented non-goal): the
      // reference's pass-1 node DB becomes a shuffle equi-join, pass-2 way
      // assembly a sort_array groupBy; ways with a withheld node
      // (pt_id % 53 == 0) are skipped, closed ways emit POLYGON. Integer
      // 1/1024-deg coords -> WKT matches the DuckDB oracle byte-for-byte.
      Osm.assembleWays(Synth.osmNodes(s, dir), Synth.osmWays(s, dir))
    }),
    "q65_osm_relations" -> ((s, dir) => {
      // OSM multipolygon relation assembly: each qualifying closed way is
      // split into two open arcs; assembleRelations stitches them back
      // (endpoint walk, member reversal as needed) and emits the ring in
      // canonical orientation — which the oracle recomputes in pure SQL
      // (rotation + direction choice via window functions).
      val arcs = graft.io.Checkpoints.cached(Synth.osmRelArcs(s, dir))
      Osm.assembleRelations(Synth.osmNodes(s, dir), arcs,
        Synth.osmRelationsFromArcs(arcs))
    }),
    "q56_grid_idw" -> ((s, dir) => {
      // gdalgrid invdist:power=2 (completes A4, which had only the
      // count/sum data metrics): zoom-5 geodetic grid (64x32, cell = 5760
      // units of 1/1024 deg), radius 8 deg. Point coords are exact k/1024
      // dyadics -> integer units; weights are FIXED-POINT 2^34 div d2
      // (d2=0 snaps to 1 — documented divergence from GDAL's direct-value
      // snap), so num/den/output are pure BIGINT arithmetic, bit-exact vs
      // the DuckDB oracle. Plan: point-side cell_disk(2) explode -> exact
      // radius filter -> one partial+final hash aggregate per cell; no
      // shuffle of the grid, no per-cell point scan.
      gridIdw(s, dir, s"${1L << 34}L div greatest(d2, 1L)")
    }),
    "q141_grid_idw_smoothing" -> ((s, dir) => {
      // gdalgrid invdist:power=2:smoothing=2 (alg/gdalgrid.cpp adds
      // smoothing^2 to d^2 BEFORE the power): w = 2^34 div (d2 + 2048^2)
      // — the smoothing floor also removes the d2=0 snap entirely. Same
      // one-agg plan as q56, different weight law; every weight differs
      // from q56's wherever d2 != 4194304 - greatest(d2,1).
      gridIdw(s, dir, s"${1L << 34}L div (d2 + 4194304L)")
    }),
    "q150_grid_idw_p1" -> ((s, dir) => {
      // gdalgrid invdist:power=1 — weight 1/d instead of 1/d2: the
      // integer route is w = 2^30 div isqrt(d2) with isqrt =
      // floor(sqrt(d2)) via CAST(floor(sqrt(...))) — EXACT here because
      // d2 <= 2^26 keeps sqrt(m^2-1) a full 6e-5 below the next integer
      // (IEEE sqrt is correctly rounded, so floor can never flip).
      // d2 = 0 snaps to 1 like q56.
      gridIdw(s, dir,
        s"${1L << 30}L div greatest(CAST(floor(sqrt(CAST(d2 AS DOUBLE))) AS BIGINT), 1L)")
    }),
    "q66_color_relief" -> ((s, dir) => {
      // gdaldem color-relief (the one gdaldem mode outside the focal
      // family): 5-entry elevation->RGB ramp folded into a codegen'd CASE
      // chain, integer round-half-up interpolation with sign/|dc| baked
      // per segment so truncating div matches DuckDB's // exactly
      val ramp = Seq((0, 0, 0, 128), (64, 0, 128, 0), (128, 255, 255, 0),
        (192, 128, 64, 0), (255, 255, 255, 255))
      Raster.colorRelief(Synth.tiles(s, 3), ramp)
        .select(col("band"), col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q176_hsv_merge" -> ((s, dir) => {
      // hsv_merge.py (swig/python/scripts): greyscale "hillshade" merged
      // into a color-relief RGB via HSV value replacement — here the q66
      // ramp RGB and a distinct-law grey band over the same zoom-3 grid.
      // The HSV round-trip collapses to out = c·shade div max(r,g,b)
      // (hue/saturation = channel ratios, preserved under uniform scale;
      // see Raster.hsvMerge). ONE band-regroup agg + ONE tile equi-join,
      // per-band checksums graded.
      val ramp = Seq((0, 0, 0, 128), (64, 0, 128, 0), (128, 255, 255, 0),
        (192, 128, 64, 0), (255, 255, 255, 255))
      val rgb = Raster.colorRelief(Synth.tiles(s, 3), ramp)
      val shade = Synth.tiles(s, 3).withColumn("pixels",
        expr("transform(pixels, v -> CAST((CAST(v AS BIGINT) * 5 + 97) % 256 AS DOUBLE))"))
      Raster.hsvMerge(rgb, shade)
        .select(col("band"), col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q70_pct2rgb" -> ((s, dir) => {
      // pct2rgb o rgb2pct round-trip on the q63 corpus (256 distinct
      // colors at quantBits=8/paletteSize=256 -> exact inverse): per-band
      // checksums must equal the ORIGINAL multispectral bands'
      val (mapped, pal) = Raster.rgb2pct(Synth.rgbBands(s, 3), paletteSize = 256, quantBits = 8,
        allowLargePalette = true) // corpus has exactly 256 colors by construction
      Raster.pct2rgb(mapped, pal)
        .select(col("band"), col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q69_locationinfo" -> ((s, dir) => {
      // gdallocationinfo: the pixel value under each query point. Integer
      // unit coords make the pixel index exact (zoom-3 grid is 1024x512 px
      // over 368640x184320 units -> gx = ix div 360); the engine goes
      // through the real tile equi-join + element_at, the oracle through
      // the closed-form pixel function
      val qp = Synth.queryPoints(s, dir)
        .withColumn("ix", ((col("lon") + 180.0) * 1024).cast("long"))
        .withColumn("iy", ((lit(90.0) - col("lat")) * 1024).cast("long"))
        .withColumn("gx", expr("ix div 360")).withColumn("gy", expr("iy div 360"))
        .withColumn("tx", expr("gx div 64")).withColumn("ty", expr("gy div 64"))
      qp.join(Synth.tiles(s, 3), Seq("tx", "ty"))
        .select(col("q_id"),
          element_at(col("pixels"),
            ((col("gy") % 64) * 64 + col("gx") % 64 + 1).cast("int")).as("v"))
    }),
    "q68_png_roundtrip" -> ((s, dir) => {
      // REAL format decode (S3): zoom-3 tiles -> JDK PNG encode (binary
      // column, actual DEFLATE) -> decode -> checksum; lossless, so the
      // oracle checksums the ORIGINAL closed-form pixels
      Media.decodePng(Media.encodePng(Synth.tiles(s, 3)))
        .select(col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q71_tiff_roundtrip" -> ((s, dir) => {
      // GeoTIFF-shaped S3 path (reference frmts/gtiff/geotiff.cpp): same
      // round-trip as q68 but through the JDK's baseline TIFF writer —
      // a second real container format, decoded by magic-byte sniffing
      Media.decodeTiff(Media.encodeTiff(Synth.tiles(s, 3)))
        .select(col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q77_jpeg_roundtrip" -> ((s, dir) => {
      // lossy S3 path (reference frmts/jpeg/jpgdataset.cpp — the top
      // lossy driver): JPEG encode at quality 1.0 (quant tables all ones)
      // -> magic-byte-sniffed decode. Lossy bits are not checksum-stable,
      // so the oracle is the PROPERTY contract instead: shape survives
      // exactly and per-pixel |err| stays within the DCT-rounding bound
      // (measured max 1 on this corpus; bound 2 carries 2x margin). The
      // original pixels ride along as a column — no join, shuffle-free.
      val withOrig = Synth.tiles(s, 3).withColumn("orig", col("pixels"))
      Media.decodeJpeg(Media.encodeJpeg(withOrig))
        .select(col("tx"), col("ty"),
          size(col("pixels")).as("n_px"),
          expr("aggregate(zip_with(pixels, orig, (a, b) -> abs(a - b)), " +
               "CAST(0.0 AS DOUBLE), (m, e) -> greatest(m, e)) <= 2.0D").as("err_le_2"))
    }),
    "q78_vrt_compose" -> ((s, dir) => {
      // VRTComplexSource chain (completes S5's scale/offset/LUT/nodata
      // facet — reference frmts/vrt/vrtsources.cpp): two overlapping
      // sources on the zoom-3 grid. src 1 everywhere (nodata 13,
      // v' = 0.5v + 16); src 2 on even-tx tiles only, wins where valid
      // (pixels (7p+31)%256, nodata 50, LUT 0->0, 128->64, 255->255).
      // Per-pixel priority coalesce; background 0 where both nodata.
      // Pure arithmetic end to end, so the oracle replica is bit-exact.
      val base = Synth.tiles(s, 3)
      val s1 = base.withColumn("src_id", lit(1))
      val s2 = base.where(col("tx") % 2 === 0).withColumn("src_id", lit(2))
        .withColumn("pixels", expr(
          "transform(pixels, p -> CAST((CAST(p AS BIGINT) * 7 + 31) % 256 AS DOUBLE))"))
      val cfg = Map(
        1 -> Raster.VrtSource(priority = 1, nodata = Some(13.0), scale = 0.5, offset = 16.0),
        2 -> Raster.VrtSource(priority = 2, nodata = Some(50.0),
          lut = Seq((0.0, 0.0), (128.0, 64.0), (255.0, 255.0))))
      Raster.vrtCompose(s1.unionByName(s2), cfg, 64, 64)
        .select(col("tx"), col("ty"), expr(
          """aggregate(zip_with(pixels, sequence(0, 4095), (v, i) ->
               CAST(floor(v * 1000.0D + 0.5D) AS BIGINT) * (i % 49 + 1)),
             CAST(0 AS BIGINT), (a, b) -> a + b) % 65535""").as("cks_milli"))
    }),
    "q79_gcp_warp" -> ((s, dir) => {
      // GCP-georeferenced warp (reference alg/gdal_crs.c order-1 +
      // gdalwarp): 3 integer GCPs — dst(0,0)->src(7,11),
      // dst(64,0)->src(87,27), dst(0,64)->src(-9,75) — give a rotated+
      // scaled affine (den 4096) fit EXACTLY by Cramer; every dst pixel
      // nearest-samples the zoom-3 source grid via Long floorDiv. The
      // oracle solves the SAME Cramer system from the GCP literals in SQL
      // and replays the integer sampling bit-for-bit.
      Raster.warpGcpNear(Synth.tiles(s, 3),
        Seq((0L, 0L, 7L, 11L), (64L, 0L, 87L, 27L), (0L, 64L, -9L, 75L)),
        srcW = 1024, srcH = 512, dstW = 1024, dstH = 512)
        .select(col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q163_gcp_order2" -> ((s, dir) => {
      // GCP warp, ORDER-2 LEAST-SQUARES fit from 12 GCPs (reference
      // alg/gdal_crs.c :: GDALCreateGCPTransformer with nOrder=2 and an
      // over-determined control set — the path every real gdalwarp user
      // with a survey's worth of GCPs takes; q79 covers the exact 3-GCP
      // order-1 Cramer case). The normal-equations solve runs once on
      // the driver (deterministic IEEE op order), the solved polynomial
      // broadcasts into warpPointNear's dst-driven routing, and the
      // oracle replays the SAME printed op sequence (pure +,· — bit
      // exact, no quantization needed) + floor sampling.
      Raster.warpPolyNear(Synth.tiles(s, 3), graft.core.Gcp.demo2,
        srcW = 1024, srcH = 512, dstW = 1024, dstH = 512)
        .select(col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q174_approx_stats" -> ((s, dir) =>
      // gdalinfo -approx_stats / GDALRasterBand::ComputeStatistics with
      // bApproxOK (gcore/gdalrasterband.cpp): statistics over a decimated
      // sample grid — every 4th pixel on both axes — instead of the full
      // band. Per-tile HOF partials (the tile grid is axis-aligned with
      // the decimation, so each tile contributes its own lattice points)
      // + one global agg; integer min/max/sum, mean as milli (div).
      Synth.tiles(s, 3)
        .select(expr(
          """aggregate(
               filter(transform(pixels, (v, i) -> named_struct(
                 'v', CAST(v AS BIGINT), 'keep', i % 64 % 4 = 0 AND i div 64 % 4 = 0)),
                 __s -> __s.keep),
               named_struct('n', 0L, 'mn', 9223372036854775807L, 'mx', -9223372036854775808L, 'sm', 0L),
               (a, x) -> named_struct('n', a.n + 1L, 'mn', least(a.mn, x.v),
                 'mx', greatest(a.mx, x.v), 'sm', a.sm + x.v))""").as("p"))
        .agg(sum(expr("p.n")).as("n"), min(expr("p.mn")).as("vmin"),
          max(expr("p.mx")).as("vmax"), sum(expr("p.sm")).as("vsum"))
        .select(col("n"), col("vmin"), col("vmax"), col("vsum"),
          expr("(vsum * 1000L) div n").as("mean_milli"))),
    "q173_contour_polygons" -> ((s, dir) =>
      // gdal_contour -p (polygon mode): the raster classified into fixed
      // elevation BANDS [0,4) [4,8) [8,12) [12,16), then each band
      // polygonized into connected components — one CCL pass per band on
      // the shared tile machinery (alg/contour.cpp polygon writer re-
      // expressed through alg/polygonize.cpp's component labeling). Band
      // count is the -fl list length: a fixed, small plan multiplier.
      Seq((0L, (v: Double) => v < 4.0),
          (1L, (v: Double) => v >= 4.0 && v < 8.0),
          (2L, (v: Double) => v >= 8.0 && v < 12.0),
          (3L, (v: Double) => v >= 12.0))
        .map { case (lvl, pred) =>
          Polygonize.components(Synth.maskTiles(s, 2), 8, 8, 64, 32, pred, _ => 1.0)
            .select(lit(lvl).as("lvl"), col("label"), col("n_pixels"),
              col("min_gx"), col("max_gx"), col("min_gy"), col("max_gy"))
        }.reduce(_ unionByName _)),
    "q172_stratified_sample" -> ((s, dir) => {
      // Deterministic stratified sampling with EXACT per-stratum
      // allocation (ceil 20% of every (lang, source) stratum): selection
      // order is (fingerprint64(text), doc_id) — content-hash order, so
      // the sample is reproducible, unbiased by ingest order, and
      // identical texts sample identically (the q145 leakage rule). One
      // shuffle on the stratum key; rank + count in a single window pass.
      // At 100-TB scale a pathological mega-stratum would sort wide —
      // exact allocation requires it; the approximate alternative
      // (per-row Bernoulli on the hash) is q145's bucket split.
      val w = Window.partitionBy("lang", "source").orderBy(col("fp"), col("doc_id"))
      val wc = Window.partitionBy("lang", "source")
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("fp", expr("fingerprint64(text)"))
        .withColumn("srank", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wc))
        .where(col("srank") <= expr("(n + 4) div 5"))
        .select(col("doc_id"), col("lang"), col("source"),
          col("srank").cast("long").as("srank"))
    }),
    "q170_kmeans" -> ((s, dir) =>
      // integer-exact Lloyd k-means (the IVF coarse quantizer): shuffle-
      // free literal-centroid assignment + one (cluster, dim)-key hash agg
      // per iteration with a bounded k*dim collect (operators/Ann.kmeans)
      Ann.kmeans(s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", k = 8, iters = 2, dim = 64)
        ._1.select(col("id").as("vec_id"), col("cluster"), col("d2"))),
    "q171_ivf_topk" -> ((s, dir) =>
      // IVF ANN: probe 2 nearest coarse cells per query, exact BIGINT
      // re-rank inside probed cells only — the partition-pruned scale
      // path beside q26's brute oracle and q45's LSH (operators/Ann)
      Ann.ivfTopK(s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", queryPred = col("vec_id") % 50 === 0,
        k = 5, nprobe = 4, kCells = 8, iters = 2, dim = 64)),
    "q168_repetition_quality" -> ((s, dir) =>
      // within-document repetition signals (the Gopher/MassiveText rule
      // family): duplicate-word and top-bigram fractions as truncating
      // milli integers — explode + key-bounded hash aggs, no per-row
      // quadratic HOFs (operators/Quality)
      Quality.repetitionSignals(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")),
    "q177_c4_clean" -> ((s, dir) =>
      // C4-style cleaning (Raffel et al. 2020 §2.2) over a deterministic
      // line corpus: each document re-chunks into 5-word lines, line i
      // gains terminal punctuation iff (doc_id + i) % 3 != 0, and docs
      // with doc_id % 17 == 0 get 'lorem ipsum' injected into line 1 —
      // so the punctuation rule, the short-line rule (trailing chunks),
      // the min-kept-lines rule AND the blocklist rule all fire. The
      // operator (Quality.c4LineFilter) grades line keep/drop, doc
      // verdict, and the cleaned byte count; the oracle replays the
      // same law + rules in SQL. Map-only at 100 TB.
      Quality.c4LineFilter(
        s.read.parquet(s"$dir/documents.parquet")
          .withColumn("words",
            split(trim(regexp_replace(col("text"), "\\s+", " ")), " "))
          .withColumn("n_lines", expr("(size(words) + 4) div 5"))
          .withColumn("lines", expr(
            """transform(sequence(0, CAST(n_lines AS INT) - 1), i ->
                 concat(array_join(slice(words, i*5 + 1, 5), ' '),
                   CASE WHEN doc_id % 17 = 0 AND i = 1 THEN ' lorem ipsum' ELSE '' END,
                   CASE WHEN (doc_id + i) % 3 != 0 THEN '.' ELSE '' END))""")),
        "doc_id", "lines")),
    "q192_scene_cuts" -> ((s, dir) => {
      // Multimodal VIDEO scene-cut detection (frame-diff energy) — the
      // shot-boundary pass of a video training pipeline, extending q149's
      // byte-level container plumbing. Frame count is recovered FROM THE
      // BYTES ('VID:nnn:' header, the typed column is dropped first);
      // per-frame mean luma comes from the deterministic stand-in decode
      // (decodeStub class — no in-JVM video codec): luma is piecewise-
      // constant over synthetic scenes of length 4 + vid % 5 (base jumps
      // +97/-132 mod 229 across scenes) plus an in-scene wiggle < 9, so
      // threshold 32 separates jump classes with a 3x margin on each
      // side. The diff itself is a lag window PARTITIONED BY vid (frames
      // of one video are one group — no global sort; at 100 TB each
      // video's frames hash to one task and the window is per-group
      // sort-free beyond its own frames). Output: per-video cut census.
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("vid"))
        .withColumn("bin", expr(
          "CAST(format_string('VID:%03d:', 24 + vid % 40) AS BINARY)"))
        .select(col("vid"), col("bin")) // frame count lives ONLY in bytes
        .withColumn("n", expr("CAST(substring(CAST(bin AS STRING), 5, 3) AS INT)"))
        .withColumn("frame", explode(expr("sequence(0, n - 1)")))
        .withColumn("luma", expr(
          """(vid * 31 + (frame div (4 + vid % 5)) * 97) % 229
             + (vid * 7 + frame * 13) % 9"""))
        .withColumn("pl", expr(
          "lag(luma) OVER (PARTITION BY vid ORDER BY frame)"))
        .where(col("pl").isNotNull)
        .withColumn("jump", abs(col("luma") - col("pl")))
        .groupBy("vid")
        .agg(
          sum(when(col("jump") > 32, 1L).otherwise(0L)).as("n_cuts"),
          min(when(col("jump") > 32, col("frame"))).cast("long").as("first_cut"),
          sum(col("jump")).cast("long").as("diff_energy"))
    }),
    "q193_audio_trim" -> ((s, dir) => {
      // Multimodal AUDIO silence trim + peak normalization — the
      // loudness-normalize verb of an audio training pipeline, extending
      // q151's byte-level plumbing. The container header 'AUD:nnnn:l:t:'
      // carries sample count and the synthetic lead/tail silence widths;
      // ALL THREE are recovered from the bytes. Samples come from the
      // deterministic stand-in decode (decodeStub class) gated to 0 in
      // the silent margins; the engine finds the first/last NON-silent
      // index by scanning the decoded array (|s| >= 8 — in-body quiet
      // samples do NOT end the trim), slices the keep range, and
      // computes the peak-normalized energy in exact integers
      // (amp -> abs(amp)*127 div peak). Pure per-row HOFs: map-only at
      // 100 TB, no shuffle until the driver's own output sort.
      audioHeaders(s, dir)
        .withColumn("smp", expr(
          """transform(sequence(0, n - 1), i ->
               CASE WHEN i < ld OR i >= n - tl THEN 0
                    ELSE (aid*31 + i*17) % 256 - 128 END)"""))
        .withColumn("first_ns", expr(
          "array_min(filter(sequence(0, n - 1), i -> abs(smp[i]) >= 8))"))
        .withColumn("last_ns", expr(
          "array_max(filter(sequence(0, n - 1), i -> abs(smp[i]) >= 8))"))
        .withColumn("trimmed", expr(
          "slice(smp, first_ns + 1, last_ns - first_ns + 1)"))
        .withColumn("peak", expr("array_max(transform(trimmed, x -> abs(x)))"))
        .select(col("aid"), col("n").cast("long").as("n"),
          col("first_ns").cast("long").as("first_ns"),
          col("last_ns").cast("long").as("last_ns"),
          col("peak").cast("long").as("peak"),
          expr("""aggregate(trimmed, 0L, (acc, x) ->
            acc + CAST(abs(x)*127 div peak AS BIGINT)
                * CAST(abs(x)*127 div peak AS BIGINT))""").as("norm_energy"))
    }),
    "q194_gdalcompare" -> ((s, dir) => {
      // gdalcompare.py analog (swig/python/scripts/gdalcompare.py — the
      // reference's golden-raster comparator): per-tile diff census of a
      // golden raster vs a sparsely-corrupted copy — n_diff, max pixel
      // delta, and BOTH band checksums (core.Checksum, the same law the
      // reference's autotest gates on). The compare is one equi-join of
      // two tile tables on their natural (zoom,tx,ty,band) key followed
      // by a codegen'd zip_with — at 100 TB the two rasters are
      // co-partitioned by tile key and pixels never shuffle except
      // inside their own tile row.
      val golden = graft.synth.Synth.tiles(s, 2)
      val perturbed = graft.synth.Synth.tiles(s, 2).withColumn("pixels",
        expr("""transform(pixels, (x, i) ->
           CASE WHEN (tx*1000 + ty*100 + i) % 997 = 0
                THEN (x + 5D) % 256D ELSE x END)"""))
      golden.select(col("zoom"), col("tx"), col("ty"), col("band"),
          col("pixels").as("px_g"))
        .join(perturbed.select(col("zoom"), col("tx"), col("ty"),
          col("band"), col("pixels").as("px_p")),
          Seq("zoom", "tx", "ty", "band"))
        .select(col("tx"), col("ty"),
          expr("CAST(checksum_px(px_g) AS BIGINT)").as("cks_golden"),
          expr("CAST(checksum_px(px_p) AS BIGINT)").as("cks_new"),
          expr("""aggregate(zip_with(px_g, px_p, (a, b) ->
            CASE WHEN a <> b THEN 1L ELSE 0L END), 0L,
            (acc, d) -> acc + d)""").as("n_diff"),
          expr("CAST(array_max(zip_with(px_g, px_p, (a, b) -> abs(a - b))) AS BIGINT)")
            .as("max_diff"))
    }),
    "q195_dsir_resample" -> ((s, dir) => {
      // DSIR-style importance resampling (Xie et al. 2023, public
      // recipe): score each doc by how much likelier its hashed-unigram
      // profile is under the TARGET domain model (lang='en') than under
      // the RAW corpus model — the paper's log-ratio becomes an exact
      // integer div-1000 ratio so the oracle can replay it bit-for-bit —
      // then keep the top quarter PER SOURCE by (score desc, doc_id),
      // q172's stratified ingest-order-free rank. 100-TB shape: BOTH
      // bucket models come from ONE bucket-keyed agg with a conditional
      // sum (4096-row result, broadcast into the per-doc join by AQE);
      // the only full-width shuffle carries (doc_id, bucket, tf) longs —
      // text never shuffles, the vocabulary never materializes.
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("lang"), explode(
          split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("term"))
        .where(col("term") =!= "")
        .withColumn("b", expr(
          "((hash64(term) % 4096) + 4096) % 4096"))
      val model = toks.groupBy("b").agg(
        count(lit(1)).as("raw_cnt"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tgt_cnt"))
      val dtf = toks.groupBy("doc_id", "source", "b")
        .agg(count(lit(1)).as("tf"))
      val scored = dtf.join(model, Seq("b"))
        .groupBy("doc_id", "source")
        .agg(sum(expr("tf * ((1000 * (tgt_cnt + 1)) div (raw_cnt + 1))"))
          .as("score"))
      scored
        .withColumn("rn", expr(
          "row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id)"))
        .withColumn("nsrc", expr("count(*) OVER (PARTITION BY source)"))
        .select(col("doc_id"), col("score").cast("long").as("score"),
          expr("CAST(CASE WHEN rn <= (nsrc + 3) div 4 THEN 1 ELSE 0 END AS BIGINT)")
            .as("kept"))
    }),
    "q191_incremental_resume" -> ((s, dir) => {
      // Checkpointed INCREMENTAL RESUME at the oracle gate — the
      // north-rule's "resumes idempotently without reprocessing committed
      // tiles", driver-graded: run 1 commits sources src0-src4 through
      // CatalogIO.commitPartitioned (hive-partitioned data + PARTS
      // manifest + lineage rows); run 2 receives the FULL corpus and the
      // committed sources are broadcast-ANTI-JOINED out before any work —
      // only the remainder commits. The graded surface is the read-back
      // committed table's per-source aggregate, which must equal a plain
      // full-corpus recompute (and is parallelism-invariant).
      val root = scratch("q191ckpt")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val firstHalf = docs.where(expr(
        "CAST(substring(source, 4) AS INT) < 5"))
      graft.io.CatalogIO.commitPartitioned(s, firstHalf, root, "job191", "s1", "source")
      graft.io.CatalogIO.commitPartitioned(s, docs, root, "job191", "s1", "source")
      graft.io.CatalogIO.readCommittedPartitions(s, root, "job191", "s1", "source")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),
    "q190_substr_repetition" -> ((s, dir) => {
      // ExactSubstr dedup signal (Lee et al. 2021): strided char-32-gram
      // census of verbatim cross-doc substrings. A deterministic slogan
      // is planted on doc_id % 10 = 0 docs so the repeated branch
      // genuinely fires beyond natural corpus repeats.
      val d = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("norm", expr(
          """concat(trim(lower(regexp_replace(text, '\\s+', ' '))),
             CASE WHEN doc_id % 10 = 0
             THEN ' call me ishmael some years ago never mind how long precisely'
             ELSE '' END)"""))
      Dedup.substrRepetition(d, "doc_id", "norm", k = 32, stride = 16)
    }),
    "q217_substr_dedup" -> ((s, dir) => {
      // ExactSubstr dedup REMOVAL (Lee et al. 2021 §4.2) — q190 censuses
      // repeated substrings; this performs the action: tile each doc into
      // disjoint char-32 spans, keep the global FIRST occurrence of every
      // duplicated span (order (doc_id, span_idx)), cut the rest, and
      // grade the CLEANED text via its polynomial fingerprint. A 64-char
      // slogan PREFIX planted on doc_id % 10 = 0 docs makes the removal
      // branch fire deterministically (span-aligned at offset 0, so all
      // slogan docs share spans 0-1 and only doc 0 keeps them). 100-TB
      // shape: see Dedup.substrDedup — span hashes shuffle as 16 B rows,
      // text is rebuilt map-side from the removed-index set.
      val d = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("norm", expr(
          """concat(CASE WHEN doc_id % 10 = 0
             THEN 'call me ishmael some years ago never mind how long precisely ok '
             ELSE '' END, trim(lower(regexp_replace(text, '\\s+', ' '))))"""))
      Dedup.substrDedup(d, "doc_id", "norm", k = 32)
    }),
    "q189_mif_driver" -> ((s, dir) => {
      // OGR MapInfo MIF driver analog (ogr/ogrsf_frmts/mitab/
      // mitab_miffile.cpp): seventh text-format driver and the first
      // LINE/token-oriented one (keyword + bare `x y` lines — no XML).
      // Write each geometry as a MIF block, parse it BACK, dump vertex
      // rows; the oracle rebuilds the ENTIRE block text and the
      // vertices. Branches: POINT, PLINE, PLINE MULTIPLE (two
      // sections), REGION with a HOLE (two rings). Shuffle-free.
      Synth.shapeSeeds(s, dir)
        .withColumn("wkt", expr(
          """CASE WHEN q_id % 4 = 0 THEN format_string('POINT(%s %s)', ax, ay)
             WHEN q_id % 4 = 1 THEN format_string('LINESTRING(%s %s, %s %s, %s %s)',
               ax, ay, ax + w, ay + h, ax, ay + 2.0D * h)
             WHEN q_id % 4 = 2 THEN format_string('MULTILINESTRING((%s %s, %s %s), (%s %s, %s %s))',
               ax, ay, ax + w, ay + h, ax, ay + h, ax + w, ay)
             ELSE format_string(
               'POLYGON((%s %s, %s %s, %s %s, %s %s, %s %s), (%s %s, %s %s, %s %s, %s %s, %s %s))',
               ax, ay, ax + 4.0D*w, ay, ax + 4.0D*w, ay + 4.0D*h, ax, ay + 4.0D*h, ax, ay,
               ax + w, ay + h, ax + 2.0D*w, ay + h, ax + 2.0D*w, ay + 2.0D*h,
               ax + w, ay + 2.0D*h, ax + w, ay + h)
             END"""))
        .transform(textRoundTrip("mif", "mif"))
    }),
    "q203_dxf_driver" -> ((s, dir) => {
      // OGR DXF driver analog (ogr/ogrsf_frmts/dxf): eighth text format
      // and the first GROUP-CODE one — (code line, value line) pairs, a
      // third text shape beside XML and MIF's keyword lines. Write each
      // geometry as a DXF entity block, parse it BACK, dump vertex rows;
      // the oracle rebuilds the ENTIRE block text and the vertices.
      // Branches: POINT, LINE (2-pt special form), LWPOLYLINE open
      // (4 vertices), LWPOLYLINE closed (polygon shell, closing vertex
      // dropped on write and restored on parse). Shuffle-free.
      Synth.shapeSeeds(s, dir)
        .withColumn("wkt", expr(
          """CASE WHEN q_id % 4 = 0 THEN format_string('POINT(%s %s)', ax, ay)
             WHEN q_id % 4 = 1 THEN format_string('LINESTRING(%s %s, %s %s)',
               ax, ay, ax + w, ay + h)
             WHEN q_id % 4 = 2 THEN format_string('LINESTRING(%s %s, %s %s, %s %s, %s %s)',
               ax, ay, ax + w, ay + h, ax, ay + 2.0D*h, ax + w, ay + 3.0D*h)
             ELSE format_string('POLYGON((%s %s, %s %s, %s %s, %s %s, %s %s))',
               ax, ay, ax + 4.0D*w, ay, ax + 4.0D*w, ay + 4.0D*h, ax, ay + 4.0D*h, ax, ay)
             END"""))
        .transform(textRoundTrip("dxf", "dxf"))
    }),
    "q222_t5_span_corrupt" -> ((s, dir) => {
      // T5 span-corruption preprocessing (Raffel et al. 2020 §3.1.4:
      // corrupt 15% of tokens in mean-length-3 spans; input keeps one
      // sentinel per span, target lists sentinel + removed tokens). The
      // published transform samples spans randomly; this is the
      // DETERMINISTIC analog every reproducible pipeline wants: spans
      // live one per equal segment, offset by a (doc_id, s) hash law, so
      // placement is content-independent and replayable. Per doc:
      // c = (15·n) div 100 corrupted tokens in nsp = max(1, c div 3)
      // spans (lengths c div nsp, remainder to the first c % nsp spans).
      // Graded surface: hash64 of the INPUT and TARGET sequences — the
      // exact denoising pair, not just counts. Map-only at any scale;
      // the token array is bound once per row (evaluate-once HOF
      // discipline), never re-split per lambda call.
      val n = "size(tk)"
      val c = s"((15 * $n) div 100)"
      val nsp = s"greatest(1, $c div 3)"
      val seg = s"($n div $nsp)"
      val lenS = s"($c div $nsp + CASE WHEN s < $c % $nsp THEN 1 ELSE 0 END)"
      val startS = s"(s * $seg + CAST((doc_id * 7919 + s * 104729) % ($seg - $lenS + 1) AS INT))"
      val spans = s"CASE WHEN $c = 0 THEN CAST(array() AS ARRAY<STRUCT<st: INT, ln: INT>>) " +
        s"ELSE transform(sequence(0, CAST($nsp AS INT) - 1), " +
        s"s -> named_struct('st', $startS, 'ln', CAST($lenS AS INT))) END"
      // token i (1-based) falls in segment s0; only that segment's span
      // can cover it, so membership is one element_at, not a scan
      val s0 = s"((i - 1) div $seg)"
      val sp0 = s"element_at(sps, CAST($s0 AS INT) + 1)"
      val inside = s"($s0 < size(sps) AND (i - 1) >= $sp0.st AND (i - 1) < $sp0.st + $sp0.ln)"
      val isStart = s"($s0 < size(sps) AND (i - 1) = $sp0.st)"
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("toks", expr(
          "filter(split(trim(lower(regexp_replace(text, '\\\\s+', ' '))), ' '), t -> t <> '')"))
        .withColumn("st", expr(
          s"""element_at(transform(array(toks), tk ->
              element_at(transform(array($spans), sps -> named_struct(
                'n_toks', CAST($n AS BIGINT),
                'n_corrupt', CAST($c AS BIGINT),
                'n_spans', CAST(size(sps) AS BIGINT),
                'inp_fp', hash64(CASE WHEN $n = 0 THEN ''
                  ELSE array_join(filter(transform(sequence(1, $n), i ->
                    CASE WHEN $isStart THEN concat('<x', CAST($s0 AS STRING), '>')
                         WHEN $inside THEN ''
                         ELSE element_at(tk, i) END), x -> x <> ''), ' ') END),
                'tgt_fp', hash64(CASE WHEN size(sps) = 0 THEN ''
                  ELSE array_join(flatten(transform(sequence(0, size(sps) - 1), s ->
                    concat(array(concat('<x', CAST(s AS STRING), '>')),
                      slice(tk, element_at(sps, s + 1).st + 1, element_at(sps, s + 1).ln)))), ' ') END)
              )), 1)), 1)"""))
        .select(col("doc_id"), col("st.n_toks").as("n_toks"),
          col("st.n_corrupt").as("n_corrupt"), col("st.n_spans").as("n_spans"),
          col("st.inp_fp").as("inp_fp"), col("st.tgt_fp").as("tgt_fp"))
    }),
    "q220_quality_classifier" -> ((s, dir) => {
      // fastText-style quality-classifier INFERENCE (Joulin et al. 2017;
      // the LLaMA/CCNet quality-filter step applies such a pretrained
      // linear model over hashed bag-of-words+bigram features): features
      // are unigrams PLUS adjacent word bigrams (wordNgrams=2, built
      // map-side from the token array — no window, no self-join), hashed
      // into 32 signed dims by the q188 law; the model is a literal
      // integer weight vector w_d = (d·7919) % 31 − 15 with bias 3 (the
      // pretrained-artifact stand-in, the q170/q180 literal-model
      // precedent). 100-TB shape: two hash aggs + map-side dot — no
      // vocabulary, no model state beyond 32 literals.
      // OPTIMIZATION r6: the margin law is LINEAR in per-feature
      // occurrences — the (doc,feat) tf agg, the hash, the (doc,dim) sv
      // agg and the final weighted sum all commute into one per-row fold:
      //   dot = Σ_occurrence sign(h)·w(dim(h)),  n_dims = |distinct dims|.
      // So the whole classifier is a MAP-ONLY HOF chain over the feature
      // hash array — no explode, no feature-string shuffle, no joins.
      // The hash array is bound once via explode(transform(array(·),…))
      // (Generate evaluates its child once per row — the q187
      // evaluate-once discipline), so tokenize/bigram/hash64 each run
      // exactly once per document. Output rows are bit-identical: every
      // operation stays BIGINT and empty/NULL-text docs fall out as
      // dot=0/n_dims=0 exactly like the old left-join coalesce.
      graft.core.Par.fan(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), explode(q220HashArr).as("hs"))
        .select(col("doc_id"),
          coalesce(expr(
            "CAST(size(array_distinct(transform(hs, h -> ((h % 32) + 32) % 32))) AS BIGINT)"),
            lit(0L)).as("n_dims"),
          (coalesce(q220Dot, lit(0L)) + 3L).as("margin"))
        .withColumn("label", expr(
          "CAST(CASE WHEN margin > 0 THEN 1 ELSE 0 END AS BIGINT)"))
        .select("doc_id", "n_dims", "margin", "label")
    }),
    "q188_feature_hashing" -> ((s, dir) => {
      // hashing-trick featurization (public recipe: Weinberger et al.
      // 2009, the fastText/Vowpal-Wabbit input layer): term → dimension
      // by hash64 mod 32, sign from hash bit 5, doc vector = signed tf
      // sums. 100-TB shape: one (doc,term) tf agg + one (doc,dim) agg —
      // the vocabulary NEVER materializes and there is no model state.
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(
          split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("term"))
        .where(col("term") =!= "")
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .withColumn("h", call_function("hash64", col("term")))
        .withColumn("dim", expr("((h % 32) + 32) % 32"))
        .withColumn("sv",
          expr("CASE WHEN (shiftright(h, 5) & 1) = 0 THEN tf ELSE -tf END"))
        .groupBy("doc_id", "dim")
        .agg(sum(col("sv")).as("val"))
    }),
    "q187_aaigrid" -> ((s, dir) => {
      // Arc/Info ASCII Grid driver (frmts/aaigrid/aaigriddataset.cpp) —
      // the first TEXT raster format beside the five vector text drivers:
      // each z2 tile writes the 6-line header + 64 space-joined rows
      // (north first, GDAL's row order), then the text parses BACK
      // (header fields by position, values re-typed) and the parsed
      // raster checksums. Writer and parser are pure map-only HOFs,
      // shuffle-free; the oracle rebuilds the ENTIRE file text so a
      // single wrong byte breaks the length compare. Evaluate-once
      // discipline (see Media.dhash): the synth pixel array and the split
      // line array are bound via transform(array(e), v -> …)[1] so they
      // evaluate once per row instead of once per lambda call after
      // CollapseProject inlines them into HOF bodies.
      Synth.tiles(s, 2)
        .withColumn("aai", expr(
          """element_at(transform(array(pixels), px ->
             concat('ncols 64', chr(10), 'nrows 64', chr(10),
             'xllcorner ', CAST(tx * 64 AS STRING), chr(10),
             'yllcorner ', CAST(ty * 64 AS STRING), chr(10),
             'cellsize 1', chr(10), 'NODATA_value -9999', chr(10),
             array_join(transform(sequence(0, 63), r ->
               array_join(transform(sequence(0, 63), c ->
                 CAST(CAST(element_at(px, CAST(r*64 + c + 1 AS INT)) AS BIGINT) AS STRING)), ' ')), chr(10)))), 1)"""))
        .drop("pixels")
        .withColumn("parsed", expr(
          """element_at(transform(array(split(aai, chr(10))), ls -> named_struct(
               'xll_back', CAST(element_at(split(element_at(ls, 3), ' '), 2) AS BIGINT),
               'yll_back', CAST(element_at(split(element_at(ls, 4), ' '), 2) AS BIGINT),
               'nodata_back', CAST(element_at(split(element_at(ls, 6), ' '), 2) AS BIGINT),
               'vals', flatten(transform(slice(ls, 7, 64), ln ->
                 transform(split(ln, ' '), v -> CAST(v AS DOUBLE)))))), 1)"""))
        .select(col("tx"), col("ty"),
          length(col("aai")).cast("long").as("aai_len"),
          col("parsed.xll_back").as("xll_back"),
          col("parsed.yll_back").as("yll_back"),
          col("parsed.nodata_back").as("nodata_back"),
          F.checksum_px(col("parsed.vals")).as("cks"))
    }),
    "q186_image_dhash_dedup" -> ((s, dir) => {
      // image perceptual-hash near-dup — the multimodal dedup verb: PNG
      // encode → REAL codec decode → 56-bit dHash (exact integer block
      // means) → pigeonhole-banded hamming pairs. The codec legs are
      // lossless, so the oracle replays the hash from the pixel law.
      val dec = Media.decodePng(Media.encodePng(Synth.tiles(s, 3))).drop("png")
      Media.dhashPairs(dec, maxHamming = 4)
    }),
    "q218_vit_patchify" -> ((s, dir) => {
      // ViT-style patch extraction (Dosovitskiy et al. 2021 §3.1) — the
      // multimodal PREPROCESSING verb every vision-language training
      // pipeline runs: 64×64 images through the REAL PNG codec path split
      // into 4×4 grids of 16×16 patches, each graded by exact integer
      // stats + its first four Walsh-Hadamard projections (the
      // oracle-replayable stand-in for the learned patch embedding).
      // Map-only; the decode UDF runs ONCE per image (evaluate-once HOF
      // binding — see Media.patchify), 16 patch rows explode after.
      Media.patchify(
        Media.decodePng(Media.encodePng(Synth.tiles(s, 3))).drop("png"))
    }),
    "q184_lm_surprisal" -> ((s, dir) =>
      // LM-quality filtering analog (CCNet perplexity law, exact-integer
      // unigram surrogate — see Quality.unigramSurprisal)
      Quality.unigramSurprisal(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")),
    "q202_bigram_backoff" -> ((s, dir) =>
      // Stupid Backoff bigram LM scoring (Brants et al. 2007 §4):
      // held-out model (doc_id % 16 == 0 — a 1/16 split so the backoff
      // AND unseen-unigram legs genuinely fire on this corpus: measured
      // 4.5k backoff + 26 unseen-unigram tokens at sf0.01; an even split
      // left backoff at 7 firings) scores ALL docs, exact-integer milli
      // law — see Quality.bigramBackoff for the pinned legs
      Quality.bigramBackoff(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        col("doc_id") % 16 === 0)),
    "q205_ccnet_buckets" -> ((s, dir) => {
      // CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
      // §4.3): per language, docs split into terciles of the LM score —
      // here q184's exact-integer unigram surprisal. 100-TB shape: the
      // published pipeline cuts at percentile THRESHOLDS, not per-doc
      // ranks — so the plan is a (lang, score) histogram agg (bounded by
      // distinct scores), a cumulative window over that small histogram,
      // a tiny threshold table joined back (AQE-broadcast), and a
      // map-side CASE. No global rank over the corpus. Tie law: a score
      // straddling a boundary keeps the whole tie in the lower bucket
      // (t1/t2 = smallest score with cum·3 ≥ n / cum·3 ≥ 2n).
      import org.apache.spark.sql.expressions.Window
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // scored feeds BOTH the threshold branch and the final probe join —
      // cache it or the token explode + model join + doc agg runs twice
      // per action (the file's two-consumer convention)
      val scored = Quality.unigramSurprisal(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("score_milli"))
        .transform(graft.io.Checkpoints.cached)
      val hist = scored.groupBy("lang", "score_milli").agg(count(lit(1)).as("cnt"))
      val cum = hist
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy("lang").orderBy("score_milli")))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy("lang")))
      val th = cum.groupBy("lang").agg(
        min(when(col("cum") * 3 >= col("n"), col("score_milli"))).as("t1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("score_milli"))).as("t2"))
      scored.join(th, Seq("lang"))
        .withColumn("bucket",
          when(col("score_milli") <= col("t1"), lit("head"))
            .when(col("score_milli") <= col("t2"), lit("middle"))
            .otherwise(lit("tail")))
        .select(col("doc_id"), col("lang"), col("score_milli"), col("bucket"))
    }),
    "q219_unimax_sampling" -> ((s, dir) => {
      // UniMax language sampling (Chung et al. 2023, "UniMax: Fairer and
      // More Effective Language Sampling" Algorithm 1): distribute a
      // character budget B = 2×corpus over languages by WATERFILLING —
      // languages ascending by size, each gets min(cap·size, fair share
      // of the remaining budget); q185 applies GIVEN mixture weights,
      // this COMPUTES them. Budget/cap chosen so both branches fire on
      // this corpus (de hits the 3-epoch cap, the other four are
      // fair-share-bound). Per-doc copy law: floor(e_milli/1000) plus a
      // deterministic fractional epoch via (doc_id·7919) % 1000. 100-TB
      // shape: ONE lang agg (collect bounded by #languages), driver
      // waterfilling over L rows, broadcast join back, map-side copies.
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val sizes = docs.groupBy("lang").agg(sum(col("n_chars")).as("sz"))
        .orderBy(col("sz").asc, col("lang").asc).collect()
      var remB = 2L * sizes.map(_.getLong(1)).sum
      var remL = sizes.length.toLong
      val allocs = sizes.map { r =>
        val lang = r.getString(0); val sz = r.getLong(1)
        val a = math.min(3L * sz, remB / remL)
        remB -= a; remL -= 1
        (lang, a, a * 1000L / sz)
      }.toSeq
      docs.join(broadcast(allocs.toDF("lang", "alloc", "e_milli")), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("alloc"), col("e_milli"),
          expr("e_milli div 1000 + CASE WHEN (doc_id * 7919) % 1000 < e_milli % 1000 THEN 1 ELSE 0 END").as("n_copies"))
    }),
    "q185_mixture_resample" -> ((s, dir) =>
      // domain mixture resampling (the Pile/LLaMA-style per-source epoch
      // weights, public recipe): integer upweights per source, plus a
      // deterministic FRACTIONAL weight for src5 (2.5 epochs = 2 + doc_id
      // parity). Pure flat-map: explode(sequence(1, w)) — shuffle-free,
      // map-only at 100 TB; sample_id stays unique across copies.
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("w", expr(
          """CASE WHEN source IN ('src0','src3') THEN 3
                  WHEN source = 'src5' THEN 2 + CAST(doc_id % 2 AS INT)
                  WHEN source IN ('src1','src7') THEN 2
                  ELSE 1 END"""))
        .select(col("doc_id"), col("source"),
          explode(expr("sequence(1, w)")).as("epoch"))
        .select(col("doc_id"), col("source"),
          col("epoch").cast("long").as("epoch"),
          (col("doc_id") * 10 + col("epoch") - 1).as("sample_id"))),
    "q183_seq_pack" -> ((s, dir) =>
      // fixed-length sequence packing (concat-then-chunk at 512 tokens)
      // in the content-derived (fingerprint, doc_id) shuffle order; the
      // global offsets come from a two-phase distributed scan, never a
      // single-partition window (see operators/Pack.scala)
      Pack.pack(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", seqLen = 512L)),
    "q182_semdedup" -> ((s, dir) => {
      // SemDedup (Abbas et al. 2023): k-means clusters bound the pair
      // search; near-dup verdicts only within a cluster. Runs on q43's
      // near-dup-RICH derived corpus (each vector + a perturbed twin at
      // cos ≈ 0.9999) so the drop branch genuinely fires; the graded
      // surface is the per-vector (cluster, kept) verdict.
      Ann.semDedup(Synth.twinEmbeddings(s, dir), "vec_id", "v",
        kCells = 8, iters = 2, minCosNum = 4L, minCosDen = 5L)
    }),
    "q181_pq_quantize" -> ((s, dir) =>
      // product quantization: 4 sub-codebooks of 8 codewords trained by
      // the q170 exact-integer kmeans on each 16-dim slice; the graded
      // surface is the packed code + total distortion per vector.
      Ann.pq(s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")),
    "q180_sq8_quantize" -> ((s, dir) =>
      // int8 scalar quantization of the embedding corpus — the ANN
      // memory-compression path beside brute (q26) / LSH (q45) / IVF
      // (q171): per-dim affine codes + exact-integer reconstruction
      // error, graded per vector.
      Ann.sq8(s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")),
    "q179_gopher_rules" -> ((s, dir) =>
      // Gopher Table-A1 rule filter over the corpus with two injected
      // branches the tech-word corpus lacks: doc_id%7=0 gains three
      // symbol words (fires the '#'/'...' rule), doc_id%13=0 gains 30
      // two-char numeric words (drags alpha-fraction below 0.8 and mean
      // word length toward the floor), and doc_id%3!=0 gains two canon
      // stop words (the tech-word corpus carries only 'the', so the
      // >=2-stop-word rule needs a passing branch). The word-count rule
      // fires naturally (10-100-word docs).
      Quality.gopherFilter(
        s.read.parquet(s"$dir/documents.parquet")
          .withColumn("text", concat(col("text"),
            when(col("doc_id") % 3 =!= 0, lit(" of that")).otherwise(lit("")),
            when(col("doc_id") % 7 === 0, lit(" ### a#b c...d")).otherwise(lit("")),
            when(col("doc_id") % 13 === 0,
              lit(" 42 7" * 15)).otherwise(lit("")))),
        "doc_id", "text")),
    "q178_span_dedup" -> ((s, dir) => {
      // C4 corpus-global three-line-span dedup over a corpus with
      // STRUCTURAL duplicates: originals plus word-shifted copies (docs
      // %3=0 minus the first line's 5 words -> every copy span equals an
      // original span shifted one line; %5=0 minus 10 words -> shift
      // two). The synthetic corpus also repeats text across doc_ids, so
      // natural cross-doc dups fire beside the structural ones. Lines
      // are plain 5-word chunks (no decoration), spans are hashed
      // map-side; keeper = lexicographic min (doc_id, start).
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          split(trim(regexp_replace(col("text"), "\\s+", " ")), " ").as("w"))
      val corpus = base
        .unionByName(base.where(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            expr("slice(w, 6, greatest(size(w) - 5, 0))").as("w")))
        .unionByName(base.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            expr("slice(w, 11, greatest(size(w) - 10, 0))").as("w")))
        .withColumn("n_lines", expr("(size(w) + 4) div 5"))
        .withColumn("lines", expr(
          """CASE WHEN n_lines <= 0 THEN CAST(array() AS ARRAY<STRING>)
                  ELSE transform(sequence(0, CAST(n_lines AS INT) - 1), i ->
                         array_join(slice(w, i*5 + 1, 5), ' ')) END"""))
      Dedup.spanDedup(corpus, "doc_id", "lines")
    }),
    "q169_dedup_clusters" -> ((s, dir) =>
      // near-dup CLUSTERS: q24's MinHash-LSH pairs -> connected components
      // through Polygonize.resolveLabels (driver union-find below its edge
      // threshold, distributed pointer jumping above); keeper = component
      // min id — the verdict a dedup pipeline actually applies
      // (operators/Dedup.clusters)
      Dedup.clusters(Dedup.minhashLsh(
        s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", numPerm = 64, bands = 16, shingleK = 3,
        minJaccard = 0.3))),
    "q167_viewshed" -> ((s, dir) => {
      // gdal_viewshed (reference alg/viewshed.cpp :: GDALViewshedGenerate)
      // re-expressed as the exact R3 line-of-sight: DDA ray samples
      // generated per target cell, ONE equi-join on the sample cell key
      // fetches terrain, one min-aggregate of the integer cross-multiplied
      // clearance decides visibility (see operators/Viewshed). DEM is a
      // 128x128 integer terrain (16x16 blocks, the tile synth law);
      // observer at (64,64)+30, max distance 60. All arithmetic is BIGINT
      // — the oracle replays the identical DDA and margin test.
      val dem = s.range(128L * 128L).select(
        (col("id") % 128L).as("x"), expr("id div 128").as("y"))
        .withColumn("elev", expr(
          "((x div 16) * 131 + (y div 16) * 173 + (x % 16) * 7 + (y % 16) * 11) % 256"))
      Viewshed.viewshed(dem, ox = 64L, oy = 64L, obsH = 30L, maxDist = 60)
    }),
    "q166_complex_bands" -> ((s, dir) => {
      // Complex pixel types (reference gcore/gdal.h :: GDT_CInt16 family
      // + frmts/derived/deriveddataset.cpp's REAL/IMAG/CONJ/MAGNITUDE/
      // PHASE derived bands, and the complex arithmetic gdal_calc runs
      // on CInt16 data): a CInt16 raster synthesized per pixel (re =
      // v-128, im = (7v+31)%256-128 — all four quadrants + axes), the
      // five derived bands plus a complex multiply by (3-4i), reduced
      // per tile. Pure built-ins (transform/zip_with/aggregate — one
      // codegen'd projection, shuffle-free). MAGNITUDE is bit-exact
      // (integer re²+im², correctly-rounded IEEE sqrt, same double on
      // both engines); PHASE is mrad-quantized with the boundary census
      // pinned in CoreSpec (only 256 distinct complex values occur).
      Synth.tiles(s, 3)
        .withColumn("re", expr("transform(pixels, v -> CAST(v AS BIGINT) - 128L)"))
        .withColumn("im", expr("transform(pixels, v -> (CAST(v AS BIGINT) * 7L + 31L) % 256L - 128L)"))
        .select(col("tx").cast("long").as("tx"), col("ty").cast("long").as("ty"),
          expr("aggregate(re, 0L, (a, x) -> a + x)").as("re_sum"),
          expr("aggregate(im, 0L, (a, x) -> a + x)").as("im_sum"),
          expr("aggregate(im, 0L, (a, x) -> a - x)").as("conj_im_sum"),
          expr("aggregate(zip_with(re, im, (a, b) -> CAST(floor(sqrt(CAST(a*a + b*b AS DOUBLE)) * 100.0D + 0.5D) AS BIGINT)), 0L, (a, x) -> a + x)").as("mag_cm"),
          expr("aggregate(zip_with(re, im, (a, b) -> CAST(floor(atan2(CAST(b AS DOUBLE), CAST(a AS DOUBLE)) * 1000.0D + 0.5D) AS BIGINT)), 0L, (a, x) -> a + x)").as("phase_mrad"),
          expr("aggregate(zip_with(re, im, (a, b) -> 3L*a + 4L*b), 0L, (a, x) -> a + x)").as("mul_re_sum"),
          expr("aggregate(zip_with(re, im, (a, b) -> 3L*b - 4L*a), 0L, (a, x) -> a + x)").as("mul_im_sum"))
    }),
    "q165_approx_warp" -> ((s, dir) => {
      // Approx transformer over the TPS warp (reference alg/
      // gdaltransformer.cpp :: GDALApproxTransform, gdalwarp's default
      // wrapper: -et 0.25 here) — q84's model and routing, but exact
      // spline evals only at row-segment endpoints/midpoints (~3 per
      // accepted 64-px row instead of 64), linear interp between; the
      // oracle replays the SAME deterministic segment recursion in a
      // recursive CTE. q84 keeps the exact path — the pair is the
      // reference's own exact-vs-approx contract, and the bench delta
      // is the approx win measured on identical inputs.
      Raster.warpTpsApproxNear(Synth.tiles(s, 3), graft.core.Tps.demo, 0.25,
        srcW = 1024, srcH = 512, dstW = 1024, dstH = 512)
        .select(col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q164_geoloc_warp" -> ((s, dir) => {
      // Geolocation-array warp (reference alg/gdalgeoloc.cpp ::
      // GDALCreateGeoLocTransformer + gdalwarp -geoloc): the zoom-3
      // source carries a 33×17 geoloc grid (every 32 px) = near-identity
      // ×4 scaling plus ±3-geo-unit integer distortion; the inverse is
      // the reference's backmap — scatter every src pixel's bilinear
      // forward position into the dst grid, nearest-point snap per dst
      // pixel with the 8-neighbor hole-fill offer folded into one
      // aggregate. All integer math (positions scaled by 32²) — the
      // oracle regenerates the grid from the same templates and replays
      // scatter, snap and checksum bit-for-bit.
      Raster.geolocBackmapWarp(Synth.tiles(s, 3),
        dgxSql = "((5 * GI + 11 * GJ) % 7) - 3",
        dgySql = "((3 * GI + 13 * GJ) % 7) - 3",
        srcW = 1024, srcH = 512, step = 32, scale = 4)
        .select(col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q82_rpc_warp" -> ((s, dir) => {
      // RPC-georeferenced warp (reference alg/gdal_rpc.cpp + gdalwarp):
      // each dst pixel's geodetic coordinate (exact dyadic grid — step
      // 0.3515625 = 45/128) maps through the synthetic RPC00B model
      // (core/Rpc.demo: dominant affine + mild quadratic/cubic distortion,
      // denominator >= 0.99) and floor-samples the zoom-3 source grid.
      // The transform is pure +,*,/ in a fixed order, so the oracle
      // replays it bit-for-bit — no quantization margin needed.
      Raster.warpRpcNear(Synth.tiles(s, 3), graft.core.Rpc.demo,
        srcW = 1024, srcH = 512, dstW = 1024, dstH = 512,
        lon0 = -180.0, lonStep = 0.3515625, lat0 = 90.0, latStep = -0.3515625)
        .select(col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q198_rpc_dem_warp" -> ((s, dir) => {
      // gdalwarp -rpc with RPC_DEM (reference alg/gdal_rpc.cpp ::
      // GDALRPCTransform + the RPC_DEM / RPC_DEMINTERPOLATION=near
      // options): q82's model, but each ground point reads its elevation
      // from a DEM before the rational polynomial runs — the distinct
      // reference behavior is the per-point height leg (q82 pins the
      // fixed-RPC_HEIGHT path). DEM = synthetic 2.8125°-cell grid
      // (dyadic: exactly 8 dst px per DEM cell, so the nearest-cell
      // floor arguments are exact doubles), h = ((cx*37 + cy*91) % 400)
      // — integer heights the oracle replays op-for-op. The height jumps
      // at DEM cell edges move samp/line well under 1 px for the demo
      // H-coefficients, so the router's 4 px pad holds (require() loud).
      val dem: (Double, Double) => Double = (lon, lat) => {
        val cx = math.floor((lon + 180.0) / 2.8125).toLong
        val cy = math.floor((90.0 - lat) / 2.8125).toLong
        ((cx * 37 + cy * 91) % 400).toDouble
      }
      Raster.warpRpcDemNear(Synth.tiles(s, 3), graft.core.Rpc.demo, dem,
        srcW = 1024, srcH = 512, dstW = 1024, dstH = 512,
        lon0 = -180.0, lonStep = 0.3515625, lat0 = 90.0, latStep = -0.3515625)
        .select(col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q93_sphere_distance" -> ((s, dir) => {
      // great-circle distance surface (reference geodesic path; sphere
      // approximation documented): per-row dyadic point pairs through
      // st_distance_sphere, mm-quantized — the oracle replays the
      // haversine op-for-op (sin/cos/asin ULPs absorbed by the mm
      // quantum). Shuffle-free scan → project.
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("lon1", expr("CAST((q_id * 7919) % 368640 AS DOUBLE) / 1024.0 - 180.0"))
        .withColumn("lat1", expr("CAST((q_id * 104729) % 163840 AS DOUBLE) / 1024.0 - 80.0"))
        .withColumn("lon2", expr("CAST((q_id * 48271) % 368640 AS DOUBLE) / 1024.0 - 180.0"))
        .withColumn("lat2", expr("CAST((q_id * 16807) % 163840 AS DOUBLE) / 1024.0 - 80.0"))
        .withColumn("d", call_function("st_distance_sphere",
          F.st_point(col("lon1"), col("lat1")), F.st_point(col("lon2"), col("lat2"))))
        .select(col("q_id"),
          expr("CAST(floor(d * 1000.0 + 0.5) AS BIGINT)").as("dist_mm"))
    }),
    "q98_explode" -> ((s, dir) => {
      // ogr2ogr -explodecollections (reference apps/ogr2ogr.cpp splits a
      // collection feature into one feature per member, OGR_G_GetGeometryRef
      // order): per-row WKT cycles LINESTRING / MULTILINESTRING(2 parts) /
      // MULTIPOINT(3); st_dump emits members in storage order, each part
      // dumped to vertex rows. All coordinates are dyadic and the %s WKT
      // round-trip is exact (q92 precedent) — the oracle replays the
      // generating arithmetic bit-for-bit, no quantization. Shuffle-free
      // scan → project → generate ×2.
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("ax", expr("CAST((q_id * 7919) % 1024 AS DOUBLE) / 64.0"))
        .withColumn("ay", expr("CAST((q_id * 104729) % 1024 AS DOUBLE) / 64.0"))
        .withColumn("bx", expr("ax + 1.0 + CAST(q_id % 9 AS DOUBLE) / 4.0"))
        .withColumn("by", expr("ay + CAST(q_id % 5 AS DOUBLE) / 2.0"))
        .withColumn("cx", expr("ax - CAST(q_id % 7 AS DOUBLE) / 8.0"))
        .withColumn("cy", expr("ay + 2.0"))
        .withColumn("wkt", expr(
          """CASE WHEN q_id % 3 = 0 THEN
               format_string('LINESTRING(%s %s, %s %s)', ax, ay, bx, by)
             WHEN q_id % 3 = 1 THEN
               format_string('MULTILINESTRING((%s %s, %s %s), (%s %s, %s %s))',
                 ax, ay, bx, by, cx, cy, ax, ay)
             ELSE
               format_string('MULTIPOINT((%s %s), (%s %s), (%s %s))', ax, ay, cx, cy, bx, by)
             END"""))
        .select(col("q_id"), posexplode(call_function("st_dump",
          call_function("st_geomfromwkt", col("wkt")))).as(Seq("part", "g")))
        .select(col("q_id"), col("part").cast("long").as("part"),
          call_function("st_geometrytype", col("g")).as("gtype"),
          posexplode(call_function("st_points", col("g"))).as(Seq("seq", "p")))
        .select(col("q_id"), col("part"), col("gtype"),
          col("seq").cast("long").as("seq"), col("p.x").as("x"), col("p.y").as("y"))
    }),
    "q104_identify" -> ((s, dir) => {
      // gdalmanage identify (apps/gdalmanage.cpp): route each tile
      // through a REAL codec chosen by tx % 3, then classify the binary
      // purely from magic bytes and count per format — grading that the
      // three JDK codecs emit their signatures AND that identification is
      // container-only (no decode). Oracle: the closed-form tx % 3 census
      // of the zoom-3 tile grid.
      val t = Synth.tiles(s, 3)
      val png = Media.encodePng(t.where(col("tx") % 3 === 0))
        .select(col("png").as("media"))
      val tif = Media.encodeTiff(t.where(col("tx") % 3 === 1))
        .select(col("tiff").as("media"))
      val jpg = Media.encodeJpeg(t.where(col("tx") % 3 === 2))
        .select(col("jpeg").as("media"))
      Media.identify(png.unionByName(tif).unionByName(jpg), "media")
        .groupBy("fmt").agg(count(lit(1)).as("n"))
    }),
    "q105_wrapdateline" -> ((s, dir) => {
      // ogr2ogr -wrapdateline (apps/ogr2ogr.cpp →
      // CutGeometryOnDateLineAndAddToMulti): boxes straddling lon 180 are
      // split — [−180,180] part in place, (180,540) part shifted −360 —
      // with non-crossing boxes passing through untouched. The corpus
      // lives on the 1/16 lattice offset so no edge can coincide with
      // 180 exactly; every part is a full-dimensional rectangle whose
      // envelope and area are closed-form, NO quantization. Shuffle-free.
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("ax", expr("170.0625D + CAST((q_id * 7919) % 160 AS DOUBLE) / 8.0D"))
        .withColumn("ay", expr("-50.0625D + CAST((q_id * 104729) % 640 AS DOUBLE) / 8.0D"))
        .withColumn("w", expr("2.0D + CAST(q_id % 9 AS DOUBLE) / 2.0D"))
        .withColumn("h", expr("1.0D + CAST(q_id % 5 AS DOUBLE) / 4.0D"))
        .withColumn("wkt", expr(
          """format_string('POLYGON((%s %s, %s %s, %s %s, %s %s, %s %s))',
               ax, ay, ax + w, ay, ax + w, ay + h, ax, ay + h, ax, ay)"""))
        .select(col("q_id"), posexplode(call_function("st_wrapdateline",
          call_function("st_geomfromwkt", col("wkt")))).as(Seq("part", "g")))
        .withColumn("env", call_function("st_env_bounds", col("g")))
        .select(col("q_id"), col("part").cast("long").as("part"),
          element_at(col("env"), 1).as("xmin"), element_at(col("env"), 2).as("ymin"),
          element_at(col("env"), 3).as("xmax"), element_at(col("env"), 4).as("ymax"),
          call_function("st_area", col("g")).as("area"))
    }),
    "q106_lineref" -> ((s, dir) => {
      // ogrlineref -create mileposts + -get_pos (apps/ogrlineref.cpp;
      // per-segment primitives ogr/ogrlinestring.cpp ::
      // OGRLineString::Value/Project): per-row dyadic 3-point LINESTRING
      // (the q92 corpus arithmetic), mileposts every `step` along the
      // line via st_line_interpolate at k·step for k = 0..floor(len/step),
      // plus the located fraction of an off-line lattice probe point.
      // The whole chain is −,·,/,sqrt — exactly rounded IEEE ops, zero
      // transcendentals — so the oracle replays every double BIT-exactly
      // with no quantization (LineRefOps' pinned op order). Shuffle-free
      // scan → project → generate.
      Synth.triangles(s, dir)
        .withColumn("step", expr("0.5 + CAST(q_id % 4 AS DOUBLE) / 8.0"))
        .withColumn("wkt", format_string("LINESTRING(%s %s, %s %s, %s %s)",
          col("ax"), col("ay"), col("bx"), col("by"), col("cx"), col("cy")))
        .withColumn("g", call_function("st_geomfromwkt", col("wkt")))
        .withColumn("tot", call_function("st_line_length", col("g")))
        .withColumn("loc", call_function("st_line_locate", col("g"),
          expr("ax + 1.0"), expr("ay + 2.0")))
        .withColumn("k", explode(sequence(lit(0L),
          expr("CAST(floor(tot / step) AS BIGINT)"))))
        .withColumn("p", call_function("st_line_interpolate", col("g"),
          expr("CAST(k AS DOUBLE) * step")))
        .select(col("q_id"), col("k"),
          call_function("st_x", col("p")).as("mx"),
          call_function("st_y", col("p")).as("my"),
          col("loc"))
    }),
    "q107_line_substring" -> ((s, dir) => {
      // ogrlineref -get_subline (apps/ogrlineref.cpp): the sub-line
      // between distances 0.25·len and 0.75·len (both exact ×2^-2
      // scalings) dumped to typed vertex rows. Endpoints interpolate
      // with the pinned LineRefOps op order; the middle vertex copies
      // through bit-exact iff its cumulative distance falls strictly
      // inside the window — both the within-one-segment and the
      // spanning cases fire on this corpus, and the oracle rebuilds the
      // same vertex list closed-form. NO quantization. Shuffle-free.
      Synth.triangles(s, dir)
        .withColumn("wkt", format_string("LINESTRING(%s %s, %s %s, %s %s)",
          col("ax"), col("ay"), col("bx"), col("by"), col("cx"), col("cy")))
        .withColumn("g", call_function("st_geomfromwkt", col("wkt")))
        .withColumn("tot", call_function("st_line_length", col("g")))
        .withColumn("sub", call_function("st_line_substring", col("g"),
          expr("tot * 0.25"), expr("tot * 0.75")))
        .select(col("q_id"), posexplode(call_function("st_points", col("sub"))))
        .select(col("q_id"), col("pos").cast("long").as("seq"),
          col("col.x").as("x"), col("col.y").as("y"))
    }),
    "q112_kml" -> ((s, dir) => {
      // OGR KML driver analog (ogr/ogrsf_frmts/kml/ogr2kmlgeometry.cpp
      // writer + kml/kmlnode.cpp reader): write each geometry as KML 2.2
      // text, parse it BACK, and dump vertex rows from the round-tripped
      // geometry. Same grading shape as q101: the oracle rebuilds the
      // KML string (the shared GeoJson.fmt integer-vs-shortest-decimal
      // contract, tuples x,y space-joined) AND the vertices from the
      // generating arithmetic, so writer and parser are both bit-exact
      // UNQUANTIZED. The q_id%4==3 branch routes a MULTILINESTRING
      // through <MultiGeometry> and the parser's homogeneous-promotion.
      // Shuffle-free scan → project → generate.
      Synth.shapeSeeds(s, dir)
        .withColumn("wkt", expr(shapeWkt4))
        .transform(textRoundTrip("kml", "kml"))
    }),
    "q175_gpx" -> ((s, dir) => {
      // OGR GPX driver analog (ogr/ogrsf_frmts/gpx/ogrgpxlayer.cpp):
      // fifth text-format driver, and the first where positions are XML
      // ATTRIBUTES (lat/lon on wpt/trkpt) rather than element text —
      // exercising the shared Xml reader's attribute capture. Write each
      // geometry as GPX, parse it BACK, dump vertex rows from the
      // round-tripped geometry; the oracle rebuilds the GPX string
      // (lat="y" lon="x" under the GeoJson.fmt contract) AND the
      // vertices from the generating arithmetic — writer and parser both
      // bit-exact UNQUANTIZED. Branches: waypoint, single-segment track,
      // TWO-segment track (MultiLineString ↔ multiple <trkseg>), and
      // MultiPoint ↔ a <gpx> waypoint layer. Shuffle-free.
      Synth.shapeSeeds(s, dir)
        .withColumn("wkt", expr(
          """CASE WHEN q_id % 4 = 0 THEN format_string('POINT(%s %s)', ax, ay)
             WHEN q_id % 4 = 1 THEN format_string('LINESTRING(%s %s, %s %s, %s %s)',
               ax, ay, ax + w, ay + h, ax, ay + 2.0D * h)
             WHEN q_id % 4 = 2 THEN format_string('MULTILINESTRING((%s %s, %s %s), (%s %s, %s %s))',
               ax, ay, ax + w, ay + h, ax, ay + h, ax + w, ay)
             ELSE format_string('MULTIPOINT(%s %s, %s %s)',
               ax, ay, ax + w, ay + h)
             END"""))
        .transform(textRoundTrip("gpx", "gpx"))
    }),
    "q147_tfidf_topk" -> ((s, dir) => {
      // TF-IDF top-3 terms per document — the classic two-agg + window
      // pipeline op: term frequencies, document frequencies, an integer
      // idf surrogate score = tf * ((N*1000) div df) (exact, no ln), and
      // a (score desc, term asc) row_number top-k. 100-TB shape: two hash
      // aggs on (doc,term)/(term) plus one window by doc — no driver
      // loop except the scalar corpus count.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      val terms = docs
        .select(col("doc_id"), explode(
          split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("term"))
        .where(col("term") =!= "")
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = terms.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score_milli").desc, col("term").asc)
      tf.join(dfreq, "term")
        .withColumn("score_milli", expr(s"tf * ((${n}L * 1000L) div df)"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("doc_id"), col("rank").cast("long").as("rank"),
          col("term"), col("score_milli"))
    }),
    "q211_rag_chunks" -> ((s, dir) => {
      // RAG-style sliding-window chunking: fixed 32-token windows at
      // stride 24 (8-token overlap) over the corpus tokenization law
      // (q29's whitespace tokens) — the retrieval-index prep step every
      // training/RAG pipeline runs. Starts at 0, 24, 48, … while < n;
      // the last window is short. Each chunk carries its token extent
      // and the q31 polynomial fingerprint of its canonical space-joined
      // text, so chunk identity (the dedup/index key) is graded, not
      // just the span arithmetic. Map-only: split + bounded
      // sequence-explode per doc, text never shuffles — at 100 TB this
      // is a pure scan→generate pass.
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("toks", split(trim(lower(regexp_replace(col("text"), "\\s+", " "))), " "))
        .withColumn("n", size(col("toks")))
        .select(col("doc_id"), col("toks"), col("n"),
          explode(expr("sequence(0, (n - 1) div 24)")).as("ci"))
        .withColumn("tok_start", col("ci") * 24)
        .withColumn("nt", least(lit(32), col("n") - col("tok_start")))
        .withColumn("ctext", expr("array_join(slice(toks, tok_start + 1, nt), ' ')"))
        .select(col("doc_id"), col("ci").cast("long").as("chunk_idx"),
          col("tok_start").cast("long").as("tok_start"),
          col("nt").cast("long").as("n_toks"),
          F.fingerprint64(col("ctext")).as("chunk_fp"))
    }),
    "q212_vocab_oov" -> ((s, dir) => {
      // Vocabulary construction + OOV audit: the top-256 corpus tokens
      // by frequency (ties → lexicographically smaller, the
      // deterministic cut every tokenizer-training run needs) become the
      // vocab; every document is then scored for out-of-vocabulary
      // tokens and an exact-integer OOV rate (1000·oov div n). 100-TB
      // shape: one (term) hash agg builds the model, the tiny vocab
      // broadcasts back against the token stream, one (doc) agg scores —
      // the q147/q202 model-build pattern; the corpus text never joins
      // anything bigger than the 256-row vocab.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val terms = docs
        .select(col("doc_id"), explode(
          split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("term"))
        .where(col("term") =!= "")
      // top-256 via sort+limit = TakeOrderedAndProject: per-partition
      // top-k then a k-row merge — never a single-partition global
      // window over the (unbounded) distinct-term table
      val vocab = terms.groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term").asc).limit(256)
        .select(col("term"), lit(1).as("in_vocab"))
      val perDoc = terms.join(broadcast(vocab), Seq("term"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_toks"), lit(0L)).as("n_toks"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          expr("CASE WHEN coalesce(n_toks, 0) = 0 THEN 0 ELSE (1000 * coalesce(n_oov, 0)) div n_toks END").as("oov_milli"))
    }),
    "q214_bpe_pairs" -> ((s, dir) => {
      // BPE tokenizer training, merge step 1 (Sennrich et al. 2016 §3.2):
      // the most frequent adjacent character pairs over the corpus,
      // counted per word OCCURRENCE via the word-frequency dictionary —
      // the exact quantity the first merge rule maximizes. 100-TB shape:
      // the token stream collapses to a distinct-word dictionary in one
      // hash agg (vocab ≪ corpus), pairs explode off the DICTIONARY (not
      // the corpus), one more agg, then TakeOrderedAndProject for the
      // top-32 cut — corpus text is touched exactly once, map-side.
      val words = s.read.parquet(s"$dir/documents.parquet")
        .select(explode(
          split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("term"))
        .where(col("term") =!= "")
        .groupBy("term").agg(count(lit(1)).as("wcnt"))
      // guard length >= 2 BEFORE sequence(): Spark's sequence(1, 0) yields
      // the descending [1, 0], not an empty array
      words.where(length(col("term")) >= 2)
        .select(col("wcnt"), explode(expr(
          "transform(sequence(1, length(term) - 1), i -> substring(term, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum(col("wcnt")).as("freq"))
        .orderBy(col("freq").desc, col("pair").asc).limit(32)
    }),
    "q215_bpe_train" -> ((s, dir) => {
      // BPE tokenizer training, the FULL iterative merge loop (Sennrich
      // et al. 2016 Algorithm 1; q214 was merge step 1 only): six merge
      // rules learned over the corpus, each iteration counting adjacent
      // symbol pairs weighted by word frequency and merging the argmax
      // (freq desc, lhs asc, rhs asc). 100-TB shape: the corpus collapses
      // to the cached distinct-word dictionary in ONE hash agg; each
      // iteration is a vocab-sized pair agg + a ONE-ROW collect (the
      // q170 kmeans literal-re-bake pattern); merge application is a
      // map-side replace() chain whose left-to-right non-overlapping
      // semantics ARE the greedy single-pass merge law — the oracle
      // unrolls the six levels and replays replace() op-for-op.
      import s.implicits._
      val rules = Bpe.train(s.read.parquet(s"$dir/documents.parquet"), 6)
      rules.zipWithIndex
        .map { case (r, i) => (i + 1L, r.lhs, r.rhs, r.freq) }
        .toDF("it", "lhs", "rhs", "freq")
    }),
    "q216_bpe_encode" -> ((s, dir) => {
      // BPE ENCODING: apply the six trained merge rules (q215's law) to
      // every document — the tokenizer-application pass every training
      // pipeline runs over the full corpus. Per doc: token count, source
      // char count, encoded SYMBOL count, the q31 polynomial fingerprint
      // of the space-joined encoded symbol stream in document order (the
      // grading key — symbol identity and order, not just counts), and
      // the exact-integer chars-per-symbol compression ratio. 100-TB
      // shape: rules come from vocab-sized aggs (six 1-row collects); the
      // corpus encodes by broadcasting the ENCODED DICTIONARY against the
      // token stream (text joins nothing bigger than the vocab) and one
      // per-doc agg assembles the stream.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // OPTIMIZATION r6: ONE dict build shared by training and encoding
      // (the old train/encodedDict pair each tokenized the corpus and
      // re-aggregated the dictionary). The cached dictionary belongs to
      // the result, which frees it once dropped.
      val d0 = graft.io.Checkpoints.cached(Bpe.dict(docs))
      val rules = Bpe.trainOn(d0, 6)
      val enc = Bpe.encodedDictFrom(d0, rules)
      val tok = graft.core.Par.fan(docs).select(col("doc_id"), posexplode(
          split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as(Seq("pos", "term")))
        .where(col("term") =!= "")
      val perDoc = tok.join(broadcast(enc), Seq("term"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"), sum(col("nch")).as("n_chars"),
          sum(col("nsym")).as("n_sym"),
          sort_array(collect_list(struct(col("pos"), col("encsp")))).as("ps"))
        .withColumn("stream", expr("array_join(transform(ps, x -> x.encsp), ' ')"))
      docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_toks"), lit(0L)).as("n_toks"),
          coalesce(col("n_chars"), lit(0L)).as("n_chars"),
          coalesce(col("n_sym"), lit(0L)).as("n_sym"),
          F.fingerprint64(coalesce(col("stream"), lit(""))).as("fp"),
          expr("CASE WHEN coalesce(n_sym, 0) = 0 THEN 0 ELSE (1000 * coalesce(n_chars, 0)) div coalesce(n_sym, 0) END").as("ratio_milli"))
    }),
    "q148_zonal_majority" -> ((s, dir) => {
      // Zonal MAJORITY (the raster-stats mode the q15 count/sum family
      // doesn't exercise): per region, the most frequent quantity class
      // among contained points, ties to the SMALLEST class via the
      // packed max_by key cnt*100 - cls (cls < 100). Same PIP plan as
      // q15 + one extra keyed agg.
      val polys = Synth.regionGeoms(s, dir)
      // project-before-probe (guide §2.3): only l_quantity feeds the
      // majority agg — drop the unused point columns before the probe
      SpatialJoin.pointInPolygon(polys, "geom",
        Synth.points(s, dir).select("l_quantity", "lon", "lat"),
        "lon", "lat", zoom = 7)
        .withColumn("cls", (col("l_quantity").cast("long") % 10))
        .groupBy(col("region_id").cast("long").as("box_id"), col("cls"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("box_id")
        .agg(expr("max_by(cls, cnt * 100 - cls)").as("major_cls"),
          max(col("cnt")).as("major_cnt"))
    }),
    "q149_frame_sample" -> ((s, dir) => {
      // Multimodal VIDEO plumbing (training-pipeline frame sampling):
      // synthetic containers carry a fixed-layout ASCII header
      // 'VID:nnn:www:hhh:' in a BINARY column; the engine recovers the
      // frame count and dims FROM THE BYTES (the only copy — the typed
      // columns are dropped before parsing), samples every 3rd frame
      // with a generator, and emits per-frame feature rows through the
      // deterministic stand-in decode (fingerprint64 of the frame seed —
      // the documented decodeStub class; no video codec exists in-JVM).
      // A wrong byte-level parse changes row counts AND features. The
      // oracle replays header arithmetic + the rolling-hash feature.
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("vid"))
        .withColumn("bin", expr(
          """CAST(format_string('VID:%03d:%03d:%03d:',
             4 + vid % 13, 16 + vid % 17, 9 + vid % 7)
             || repeat('x', CAST(vid % 5 AS INT)) AS BINARY)"""))
        .select(col("vid"), col("bin")) // dims live ONLY in the bytes now
        .withColumn("hdr", expr("CAST(bin AS STRING)"))
        .withColumn("n", expr("CAST(substring(hdr, 5, 3) AS INT)"))
        .withColumn("w", expr("CAST(substring(hdr, 9, 3) AS INT)"))
        .withColumn("h", expr("CAST(substring(hdr, 13, 3) AS INT)"))
        .withColumn("frame", explode(expr("sequence(0, n - 1, 3)")))
        .select(col("vid"), col("frame").cast("long").as("frame"),
          expr("CAST(w AS BIGINT) * h").as("npx"),
          expr("""fingerprint64(concat('f:', CAST(vid AS STRING), ':',
            CAST(frame AS STRING)))""").as("feat"))
    }),
    "q151_audio_windows" -> ((s, dir) => {
      // Multimodal AUDIO plumbing (the third modality beside images and
      // q149's video): containers carry 'AUD:nnnn:' sample counts in the
      // BINARY column; samples come from the deterministic stand-in
      // decode s(i) = ((aid*31 + i*17) % 256) - 128 (decodeStub class —
      // no in-JVM audio codec), and the engine computes per-16-sample
      // WINDOW features — energy = Σ s², peak = max|s| — in exact
      // integers via sequence/aggregate/transform HOFs. Short final
      // windows are real (n % 16 != 0 for most rows).
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("aid"))
        .withColumn("bin", expr(
          "CAST(format_string('AUD:%04d:', 64 + aid % 129) AS BINARY)"))
        .select(col("aid"), col("bin"))
        .withColumn("n", expr("CAST(substring(CAST(bin AS STRING), 5, 4) AS INT)"))
        .withColumn("win", explode(expr("sequence(0, (n - 1) div 16)")))
        .select(col("aid"), col("win").cast("long").as("win"),
          expr("""aggregate(sequence(win * 16, least(win * 16 + 15, n - 1)), 0L,
            (acc, i) -> acc + CAST(((aid * 31 + i * 17) % 256 - 128) AS BIGINT)
                            * CAST(((aid * 31 + i * 17) % 256 - 128) AS BIGINT))""")
            .as("energy"),
          expr("""array_max(transform(sequence(win * 16, least(win * 16 + 15, n - 1)),
            i -> abs((aid * 31 + i * 17) % 256 - 128)))""").as("peak"))
    }),
    "q152_embed_centroid" -> ((s, dir) => {
      // Embedding-space centroid update (the k-means step of
      // embedding-based curation): cluster = vec_id % 7; per (cluster,
      // dim), centroid_milli = Σ floor(x·1000) div n — exact BIGINT
      // fixed point, one hash agg over (cluster, dim) keys (64·7 groups
      // — never a per-vector shuffle of anything but the explode).
      s.read.parquet(s"$dir/embeddings.parquet")
        .select((col("vec_id") % 7).as("cluster"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("cluster", "dim")
        .agg(count(lit(1)).as("n"),
          expr("sum(CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))").as("sum_milli"))
        .select(col("cluster"), col("dim").cast("long").as("dim"),
          expr("sum_milli div n").as("centroid_milli"), col("n"))
    }),
    "q153_media_resize" -> ((s, dir) => {
      // Image RESIZE through the REAL codec path — the last media verb
      // in the brief after decode/feature-extract/frame-sample: PNG
      // bytes decode (JDK DEFLATE), a 2x box downsample runs as a
      // codegen'd transform with ROUND-HALF-UP integer arithmetic
      // ((sum + 2) div 4 — rint's half-even would diverge from the
      // oracle), the 32x32 result RE-ENCODES to PNG, decodes again, and
      // checksums — grading codec -> resample -> codec end-to-end.
      val dec = Media.decodePng(Media.encodePng(Synth.tiles(s, 3))).drop("png")
      val down = dec.withColumn("pixels", expr(
        """transform(sequence(0, 1023), i ->
           CAST((CAST(element_at(pixels, CAST((i div 32) * 2 * 64 + (i % 32) * 2 + 1 AS INT)) AS BIGINT)
               + CAST(element_at(pixels, CAST((i div 32) * 2 * 64 + (i % 32) * 2 + 2 AS INT)) AS BIGINT)
               + CAST(element_at(pixels, CAST(((i div 32) * 2 + 1) * 64 + (i % 32) * 2 + 1 AS INT)) AS BIGINT)
               + CAST(element_at(pixels, CAST(((i div 32) * 2 + 1) * 64 + (i % 32) * 2 + 2 AS INT)) AS BIGINT)
               + 2L) div 4 AS DOUBLE))"""))
        .withColumn("w", lit(32)).withColumn("h", lit(32))
      Media.decodePng(Media.encodePng(down))
        .select(col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q158_doc_reassembly" -> ((s, dir) => {
      // Interleaved-document RENDER — the input_hint shape end-to-end:
      // each doc's spans concatenate in offset order, text spans
      // verbatim, media spans as a <media:tile://…> placeholder (the
      // detokenized form a training pipeline feeds the tokenizer).
      // Output: render length + the rolling-hash fingerprint of the
      // render, so a span out of order, a wrong placeholder, or a
      // formatting drift breaks the compare. Shuffle = the one docs()
      // assembly agg; the render itself is a codegen'd transform+join.
      Synth.docs(s, dir)
        .withColumn("render", expr(
          """array_join(transform(spans, sp ->
             CASE WHEN sp.kind = 'text' THEN sp.text
             ELSE concat('<media:', sp.media_ref, '>') END), ' ')"""))
        .select(col("doc_id"),
          length(col("render")).cast("long").as("render_len"),
          call_function("fingerprint64", col("render")).as("fp"))
    }),
    "q160_cube" -> ((s, dir) =>
      // A10 (approx/cube) gets a query: CUBE over (returnflag,
      // linestatus) — all four grouping sets in one pass (Spark expands
      // to a union of aggregates under one shuffle). Rolled-up NULLs
      // surface as 'ALL' on both engines so the hash never sees nulls
      // (real values are single chars — no collision).
      s.read.parquet(s"$dir/lineitem.parquet")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))),
    "q161_infer_schema" -> ((s, dir) => {
      // S9 (inferred-schema sources) gets a query: docs dump to JSON
      // LINES text, then spark.read.json with NO schema — full
      // inference (the reference's OGR GeoJSON/CSV field-type-scan
      // path) — and an aggregate over the inferred columns. A wrong
      // inferred type breaks the BIGINT-typed compare.
      val tmp = scratch("q161json")
      s.read.parquet(s"$dir/documents.parquet")
        .select(to_json(struct(col("doc_id"), col("lang"),
          length(col("text")).as("len"))).as("j"))
        .write.mode("overwrite").text(tmp)
      s.read.json(tmp) // schema INFERRED: doc_id/len -> bigint, lang -> string
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("len")).as("sum_len"),
          min(col("doc_id")).as("min_doc"))
    }),
    "q145_split" -> ((s, dir) => {
      // Deterministic content-hash train/val/test split — the
      // leakage-safe pipeline rule: the split key is fingerprint64(text),
      // so IDENTICAL texts always land in the same split and an exact
      // duplicate can never straddle train/test. 0-89 train, 90-94 val,
      // 95-99 test. Pure expression, shuffle-free.
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("bucket", expr("fingerprint64(text) % 100"))
        .select(col("doc_id"),
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val")
            .otherwise("test").as("split"))
    }),
    "q146_redact" -> ((s, dir) => {
      // PII scrubbing: deterministic synthetic PII spans injected into
      // doc_id % 5 = 0 docs (a 10-digit phone run + an email), then
      // structural redaction — [0-9]{7,} -> <NUM>, a simple email shape
      // -> <EMAIL> — patterns whose semantics are identical in Java
      // regex and DuckDB RE2 (no backrefs, no anchors, literal '.' in a
      // class). Output: redacted text + per-doc redaction counts, so a
      // missed or over-eager match breaks the compare.
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("raw", when(col("doc_id") % 5 === 0,
          concat(col("text"), format_string(" call 555%07d or mail u%d@ex%d.com now",
            col("doc_id") % 1000000, col("doc_id"), col("doc_id") % 13)))
          .otherwise(col("text")))
        .withColumn("red", regexp_replace(
          regexp_replace(col("raw"), "[0-9]{7,}", "<NUM>"),
          "[a-z0-9]+@[a-z0-9.]+[a-z]", "<EMAIL>"))
        .select(col("doc_id"), col("red"),
          (size(split(col("red"), "<NUM>", -1)) - 1).as("n_num"),
          (size(split(col("red"), "<EMAIL>", -1)) - 1).as("n_email"))
    }),
    "q144_decontaminate" -> ((s, dir) => {
      // Training-pipeline benchmark decontamination: every corpus doc
      // sharing ANY word 3-shingle with the evaluation subset
      // (doc_id % 97 = 0) is flagged. Shingle hashes are the same
      // TextCore currency the minhash family uses, so the oracle replays
      // them in HUGEINT SplitMix arithmetic (q24's machinery); the join
      // is a LEFT-SEMI on 8-byte keys — text never shuffles.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.decontaminate(docs, "doc_id", "text",
        docs.where(col("doc_id") % 97 === 0), "text", k = 3)
    }),
    "q206_bloom_decontaminate" -> ((s, dir) => {
      // q144's decontamination through the BLOOM prefilter (the scale
      // path: broadcast 512-long filter + map-side bit probes; exact
      // confirm join only on survivors). mBits = 32768 is sized so the
      // false-positive branch measurably fires on this corpus (FP docs
      // appear as bloom_hit=1 / exact_hit=0 rows and are graded).
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.decontaminateBloom(docs, "doc_id", "text",
        docs.where(col("doc_id") % 97 === 0), "text", k = 3, mBits = 32768)
    }),
    "q142_csv_driver" -> ((s, dir) => {
      // OGR CSV driver analog (ogr/ogrsf_frmts/csv/ogrcsvlayer.cpp,
      // GEOMETRY=AS_WKT): each feature writes ONE RFC-4180 record —
      // id unquoted, a name field carrying commas AND embedded quotes
      // (doubled on write), the WKT geometry field quoted for its commas
      // — then the quote-aware splitter parses the record BACK and the
      // geometry re-parses from the recovered field to vertex rows.
      // Coordinates print %.2f (identical in Java and DuckDB printf;
      // quarters are exact), so the oracle rebuilds the ENTIRE record
      // string — writer, escaper, splitter, and WKT round-trip are all
      // graded bit-exact UNQUANTIZED. Shuffle-free scan->project->generate.
      Synth.shapeSeeds(s, dir)
        .withColumn("wkt", expr(
          """CASE WHEN q_id % 3 = 0 THEN format_string('POINT(%.2f %.2f)', ax, ay)
             WHEN q_id % 3 = 1 THEN format_string('LINESTRING(%.2f %.2f, %.2f %.2f)',
               ax, ay, ax + w, ay + h)
             ELSE format_string('POLYGON((%.2f %.2f, %.2f %.2f, %.2f %.2f, %.2f %.2f, %.2f %.2f))',
               ax, ay, ax + w, ay, ax + w, ay + h, ax, ay + h, ax, ay)
             END"""))
        .withColumn("name", format_string("n%d, \"v%d\"", col("q_id"), col("q_id") % 7))
        .withColumn("line", call_function("csv_line",
          array(col("q_id").cast("string"), col("name"), col("wkt"))))
        .withColumn("f", call_function("csv_fields", col("line")))
        .select(col("q_id"), col("line"), expr("f[1]").as("name_back"),
          posexplode(call_function("st_points",
            call_function("st_geomfromwkt", expr("f[2]")))).as(Seq("seq", "p")))
        .select(col("q_id"), col("line"), col("name_back"),
          col("seq").cast("long").as("seq"), col("p.x").as("x"), col("p.y").as("y"))
    }),
    "q159_gml" -> ((s, dir) => {
      // OGR GML driver analog (ogr/ogr2gmlgeometry.cpp writer +
      // gml2ogrgeometry.cpp reader) — the FOURTH text-format driver and
      // the OGC flagship: write each geometry as GML 2 (coordinates
      // syntax, gml: prefixes, Multi* member wrappers), parse it BACK
      // through the shared tolerant XML reader, and dump vertex rows.
      // Same grading shape as q112: the oracle rebuilds the GML string
      // under the GeoJson.fmt number contract AND the vertices from the
      // generating arithmetic — writer and parser bit-exact UNQUANTIZED.
      // Shuffle-free scan → project → generate.
      Synth.shapeSeeds(s, dir)
        .withColumn("wkt", expr(shapeWkt4))
        .transform(textRoundTrip("gml", "gml"))
    }),
    "q162_shapefile" -> ((s, dir) => {
      // OGR Shapefile driver analog — the FIRST binary-format driver
      // (ogr/ogrsf_frmts/shape :: shapelib SHPWriteObject/SHPReadObject +
      // DBFWriteAttribute/DBFReadAttribute). Each feature writes ONE .shp
      // record image (8-byte BE header + LE content; type 1/3/5/8) and
      // ONE fixed-width .dbf record, parses BOTH back, and dumps the
      // recovered record number, the record's byte length (grading the
      // binary layout — part/point array sizing — closed-form), the
      // round-tripped N/C attributes, and the parsed geometry's vertices
      // IN CANONICAL RING ORDER: the polygon branch writes its shell CCW
      // and its hole CW in the WKT, the writer rewinds to shells-CW/
      // holes-CCW (SHPRewindObject), so the oracle replays the REVERSED
      // coordinate sequences — writer rewind, parser ring regrouping, and
      // dbf padding are all graded bit-exact UNQUANTIZED. Shuffle-free
      // scan → project → generate; whole-file images (.shp/.shx/.dbf
      // headers) are composed in Shp.writeFile and graded in ShpSpec.
      val dbfSpec = "id:N8,name:C16"
      Synth.shapeSeeds(s, dir)
        .withColumn("wkt", expr(
          """CASE WHEN q_id % 4 = 0 THEN format_string('POINT(%s %s)', ax, ay)
             WHEN q_id % 4 = 1 THEN format_string('LINESTRING(%s %s, %s %s, %s %s)',
               ax, ay, ax + w, ay + h, ax, ay + 2.0D * h)
             WHEN q_id % 4 = 2 THEN format_string(
               'POLYGON((%s %s, %s %s, %s %s, %s %s, %s %s), (%s %s, %s %s, %s %s, %s %s, %s %s))',
               ax, ay, ax + w, ay, ax + w, ay + h, ax, ay + h, ax, ay,
               ax + w / 4.0D, ay + h / 4.0D, ax + w / 4.0D, ay + h / 2.0D,
               ax + w / 2.0D, ay + h / 2.0D, ax + w / 2.0D, ay + h / 4.0D,
               ax + w / 4.0D, ay + h / 4.0D)
             ELSE format_string('MULTIPOINT(%s %s, %s %s, %s %s, %s %s)',
               ax, ay, ax + w, ay + h, ax + w, ay, ax, ay + h)
             END"""))
        .withColumn("rec", call_function("shp_record", col("q_id").cast("int"),
          call_function("st_geomfromwkt", col("wkt"))))
        .withColumn("dbf", call_function("dbf_record",
          array(col("q_id").cast("string"), format_string("sup_%d", col("q_id") % 97)),
          lit(dbfSpec)))
        .withColumn("f", call_function("dbf_fields", col("dbf"), lit(dbfSpec)))
        .select(col("q_id"),
          length(col("rec")).cast("long").as("rec_len"),
          call_function("shp_recnum", col("rec")).cast("long").as("rn"),
          expr("f[0]").as("id_back"), expr("f[1]").as("name_back"),
          posexplode(call_function("st_points",
            call_function("shp_geom", col("rec")))).as(Seq("seq", "p")))
        .select(col("q_id"), col("rec_len"), col("rn"), col("id_back"),
          col("name_back"), col("seq").cast("long").as("seq"),
          col("p.x").as("x"), col("p.y").as("y"))
    }),
    "q118_layer_identity" -> ((s, dir) => {
      // ogr_layer_algebra Identity (reference swig/python/samples/
      // ogr_layer_algebra.py :: Identity, built on OGRLayer::Identity):
      // each input feature splits into its piece inside the method layer
      // (st_intersection) and its piece outside (st_difference), empty
      // pieces dropped — the layer-overlay analog of q103's one-window
      // clip. One method rectangle per 32-unit region, input boxes
      // confined to their region, so the pairing is a BROADCAST equi-join
      // on the region id (the 100-TB shape: no all-pairs, no cartesian).
      // A boxes live on the quarter lattice, B on the eighth-offset
      // lattice — edges can never coincide, so every intersection is a
      // full-dimensional rectangle and every difference a rectangle or an
      // L whose shoelace area and envelope are closed-form: the oracle
      // replays both UNQUANTIZED from the generating arithmetic,
      // including the covered-strip envelope collapse cases.
      val (a, b) = Synth.overlayRects(s, dir)
      a.join(broadcast(b), Seq("rid"))
        .select(col("q_id"), explode(array(
          struct(lit("int").as("kind"),
            call_function("st_intersection", col("ga"), col("gb")).as("g")),
          struct(lit("diff").as("kind"),
            call_function("st_difference", col("ga"), col("gb")).as("g")))).as("p"))
        .where(!call_function("st_isempty", col("p.g")))
        .withColumn("env", call_function("st_env_bounds", col("p.g")))
        .select(col("q_id"), col("p.kind").as("kind"),
          call_function("st_area", col("p.g")).as("area"),
          element_at(col("env"), 1).as("xmin"), element_at(col("env"), 2).as("ymin"),
          element_at(col("env"), 3).as("xmax"), element_at(col("env"), 4).as("ymax"))
    }),
    "q126_layer_update" -> ((s, dir) => {
      // ogr_layer_algebra Update (swig/python/samples/ogr_layer_algebra.py
      // :: Update, OGRLayer::Update): the method layer's features replace
      // the input wherever they overlap — output is every method feature
      // as-is ('upd') plus each input feature's outside piece
      // (st_difference, 'keep'; empty pieces dropped). Same corpus,
      // broadcast region join and closed-form rect/L oracle as q118.
      val (a, b) = Synth.overlayRects(s, dir)
      val keeps = overlayPieces(a.join(broadcast(b), Seq("rid")), "st_difference", "keep")
      val upds = b.select((col("rid") - 1000L).as("q_id"), lit("upd").as("kind"),
        col("gb").as("g"))
      pieceStats(keeps.unionByName(upds))
    }),
    "q210_layer_erase_symdiff" -> ((s, dir) => {
      // ogr_layer_algebra Erase + SymDifference (reference
      // swig/python/samples/ogr_layer_algebra.py :: Erase/SymDifference,
      // OGRLayer::Erase/SymDifference): Erase emits each INPUT feature's
      // piece outside the method layer; SymDifference adds each METHOD
      // feature's piece outside the input layer. Corpus: one method
      // rectangle per 32-unit region (eighth-offset lattice, so edges
      // never coincide with the quarter-lattice inputs); input boxes are
      // confined to per-(region, slot) 8x8 cells chosen so (a) no input
      // can contain a method-rectangle corner — the method piece's
      // envelope is then exactly the method rectangle's own — and (b)
      // same-region inputs are DISJOINT — the method piece's area is
      // closed-form: B area minus the sum of pairwise intersections.
      // Plan: erase side is the q118/q126 broadcast region join; method
      // side folds a per-region collect_list union (bounded at 8 boxes
      // by construction — the per-method-feature candidate set, exactly
      // the loop the reference runs per feature). Contained /
      // edge-crossed / disjoint input branches all fire. UNQUANTIZED:
      // every coordinate is dyadic and every shoelace product exact.
      val (a, b) = Synth.algebraRects(s, dir)
      val erase = overlayPieces(a.join(broadcast(b), Seq("rid")), "st_difference", "erase")
      val bside = methodPieces(a, b)
      pieceStats(erase.unionByName(bside))
    }),
    "q111_simplify" -> ((s, dir) => {
      // ogr2ogr -simplify (reference ogr/ogrgeometry.cpp ::
      // OGRGeometry::Simplify → GEOS Douglas–Peucker; JTS
      // DouglasPeuckerSimplifier here): per-row 3-point "tent" on a
      // horizontal dyadic base, apex height h ∈ {0, 0.25 … 1.75},
      // tolerance 0.875 — the apex's perpendicular distance IS h (base
      // horizontal, apex x strictly interior), so keep-vs-drop is
      // closed-form with a 0.125 decision margin (≫ the one-ulp FP noise
      // in JTS's point-to-segment distance) and the surviving vertices
      // are bit-exact originals. The oracle rebuilds the vertex list
      // from the generating arithmetic — grading the simplifier against
      // ground truth, NOT against a second simplifier. Shuffle-free.
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("ax", expr("CAST((q_id * 7919) % 1024 AS DOUBLE) / 64.0"))
        .withColumn("ay", expr("CAST((q_id * 104729) % 1024 AS DOUBLE) / 64.0"))
        .withColumn("ln", expr("4.0 + CAST(q_id % 3 AS DOUBLE)"))
        .withColumn("mx", expr("ax + 1.0 + CAST(q_id % 2 AS DOUBLE)"))
        .withColumn("h", expr("CAST(q_id % 8 AS DOUBLE) / 4.0"))
        .withColumn("my", expr("CASE WHEN q_id % 2 = 0 THEN ay + h ELSE ay - h END"))
        .withColumn("wkt", format_string("LINESTRING(%s %s, %s %s, %s %s)",
          col("ax"), col("ay"), col("mx"), col("my"),
          expr("ax + ln"), col("ay")))
        .withColumn("g", call_function("st_simplify",
          call_function("st_geomfromwkt", col("wkt")), lit(0.875)))
        .select(col("q_id"), posexplode(call_function("st_points", col("g"))))
        .select(col("q_id"), col("pos").cast("long").as("seq"),
          col("col.x").as("x"), col("col.y").as("y"))
    }),
    "q102_translate_scale" -> ((s, dir) => {
      // gdal_translate -scale/-exponent (apps/gdal_translate_lib.cpp →
      // frmts/vrt/vrtsources.cpp :: VRTComplexSource exponent scaling):
      // out = dst_min + (dst_max−dst_min)·ratio^exp, ratio = (v−src_min)/
      // (src_max−src_min) clamped to [0,1]. The SAME SQL string runs
      // through Spark expr() and the DuckDB oracle (q83 same-string
      // trick), so the only cross-engine gap is fdlibm-vs-libm exp/ln
      // ULPs — absorbed by milli quantization (min margin 0.11 milli on
      // this corpus, checked at authoring). Two bands: full-range
      // exp 1.5, and a clamping (2..13 → 10..250) exp 0.8 window.
      // Shuffle-free scan → generate → codegen'd project.
      Synth.maskTiles(s, 2)
        .select(col("tx"), col("ty"), posexplode(col("pixels")).as(Seq("i", "v")))
        .select((col("tx") * 8 + col("i") % 8).as("gx"),
          (col("ty") * 8 + (col("i") / 8).cast("long")).as("gy"), col("v"))
        .withColumn("scaled_milli",
          expr(s"CAST(floor(($scaleFullSql) * 1000.0 + 0.5) AS BIGINT)"))
        .withColumn("clamp_milli",
          expr(s"CAST(floor(($scaleClampSql) * 1000.0 + 0.5) AS BIGINT)"))
        .drop("v")
    }),
    "q103_clipsrc" -> ((s, dir) => {
      // ogr2ogr -clipsrc (apps/ogr2ogr.cpp: each feature's geometry is
      // intersected with the clip polygon; features whose intersection is
      // empty are dropped). Boxes live on the quarter lattice and the
      // clip window on the 1/8 lattice, so a box edge can never coincide
      // with a clip edge — every intersection is either empty or a
      // full-dimensional rectangle whose corners mix the two inputs'
      // exact dyadic coordinates, making area and envelope closed-form
      // oracle-replayable with NO quantization. Shuffle-free.
      val clip = "POLYGON((0.125 0.125, 256.125 0.125, 256.125 128.125, " +
        "0.125 128.125, 0.125 0.125))"
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("ax", expr("-100.0D + CAST((q_id * 7919) % 2048 AS DOUBLE) / 4.0D"))
        .withColumn("ay", expr("-50.0D + CAST((q_id * 104729) % 1024 AS DOUBLE) / 4.0D"))
        .withColumn("w", expr("2.0D + CAST(q_id % 13 AS DOUBLE) / 4.0D"))
        .withColumn("h", expr("3.0D + CAST(q_id % 7 AS DOUBLE) / 2.0D"))
        .withColumn("wkt", expr(
          """format_string('POLYGON((%s %s, %s %s, %s %s, %s %s, %s %s))',
               ax, ay, ax + w, ay, ax + w, ay + h, ax, ay + h, ax, ay)"""))
        .withColumn("clipped", call_function("st_intersection",
          call_function("st_geomfromwkt", col("wkt")),
          call_function("st_geomfromwkt", lit(clip))))
        .where(!call_function("st_isempty", col("clipped")))
        .withColumn("env", call_function("st_env_bounds", col("clipped")))
        .select(col("q_id"),
          call_function("st_area", col("clipped")).as("area"),
          element_at(col("env"), 1).as("xmin"), element_at(col("env"), 2).as("ymin"),
          element_at(col("env"), 3).as("xmax"), element_at(col("env"), 4).as("ymax"))
    }),
    "q101_geojson" -> ((s, dir) => {
      // OGR GeoJSON driver analog (ogr/ogrsf_frmts/geojson/
      // ogrgeojsonwriter.cpp + ogrgeojsonreader.cpp): write each geometry
      // as RFC 7946 text, parse it BACK, and dump vertex rows from the
      // round-tripped geometry. The oracle rebuilds both the JSON string
      // (the integer-vs-shortest-decimal formatting contract) and the
      // vertices from the generating arithmetic, so the compare grades
      // writer AND parser bit-exactly — shortest-round-trip decimals
      // parse back to the same doubles. Shuffle-free scan → project →
      // generate.
      Synth.shapeSeeds(s, dir)
        .withColumn("wkt", expr(shapeWkt3))
        .transform(textRoundTrip("geojson", "gjson"))
    }),
    "q92_segmentize" -> ((s, dir) => {
      // ogr2ogr -segmentize (reference ogr/ogrgeometry.cpp ::
      // OGRGeometry::segmentize): per-row dyadic 3-point LINESTRING
      // densified so no segment exceeds the per-row maxLen. The whole
      // pipeline is −,·,/,sqrt,ceil — exactly rounded IEEE ops, zero
      // transcendentals — so the oracle reproduces the output doubles
      // BIT-exactly with no quantization. Shuffle-free scan → generate.
      Synth.triangles(s, dir)
        .withColumn("ml", expr("0.5 + CAST(q_id % 4 AS DOUBLE) / 8.0"))
        .withColumn("wkt", format_string("LINESTRING(%s %s, %s %s, %s %s)",
          col("ax"), col("ay"), col("bx"), col("by"), col("cx"), col("cy")))
        .withColumn("g", call_function("st_segmentize",
          call_function("st_geomfromwkt", col("wkt")), col("ml")))
        .select(col("q_id"), posexplode(call_function("st_points", col("g"))))
        .select(col("q_id"), col("pos").cast("long").as("seq"),
          col("col.x").as("x"), col("col.y").as("y"))
    }),
    "q90_rat" -> ((s, dir) => {
      // raster attribute table (reference gcore/gdal_rat.cpp): per-class
      // count/min/max/sum over the zoom-3 band, classes = value/16
      // buckets over a 20-class domain (4 provably empty — dropped).
      // Per-tile partial rows via codegen'd HOFs (20 rows/tile, never
      // per-pixel), one hash agg, exact BIGINT sums.
      Raster.rat(Synth.tiles(s, 3), nClasses = 20, classWidth = 16.0)
    }),
    "q122_gdal2xyz" -> ((s, dir) =>
      // gdal2xyz (reference swig/python/scripts/gdal2xyz.py): dump every
      // pixel as (x, y, v) rows with world coordinates from the
      // geotransform — x = west + (gx+0.5)·res (pixel CENTER, the
      // script's default). Dyadic geotransform (res 1/4, origin −32/64)
      // keeps every coordinate exact, the oracle replays the arithmetic
      // closed-form, UNQUANTIZED. Skip-nodata (v=0) matches the script's
      // -skipnodata flag and keeps the output sparse. Shuffle-free
      // generate → filter.
      Synth.tiles(s, 3)
        .where(col("ty") === 0) // one tile row keeps the dump bounded
        .select(col("tx"), col("ty"), posexplode(col("pixels")).as(Seq("i", "v")))
        .where(col("v") =!= 0.0)
        .select(
          expr("-32.0D + (CAST(tx * 64 + i % 64 AS DOUBLE) + 0.5D) * 0.25D").as("x"),
          expr("64.0D - (CAST(ty * 64 + CAST(i / 64 AS BIGINT) AS DOUBLE) + 0.5D) * 0.25D").as("y"),
          col("v"))),
    "q123_gdalcompare" -> ((s, dir) =>
      // gdalcompare (reference swig/python/scripts/gdalcompare.py):
      // pixels-differing census between two rasters — count of differing
      // pixels, max |diff|, and sum of |diff| per band pair, computed as
      // per-tile HOF partials (zip_with over the two aligned tiles) →
      // ONE agg, never a per-pixel explode. The comparand is the same
      // grid warped by +1 zoom seed (a closed-form change), so the
      // oracle replays both value functions and the census exactly.
      Synth.tiles(s, 3).select(col("tx"), col("ty"), col("pixels"))
        .join(Synth.tiles(s, 4).where(col("tx") < 16 && col("ty") < 8)
          .select(col("tx"), col("ty"), col("pixels").as("pixels2")), Seq("tx", "ty"))
        .select(
          expr("CAST(aggregate(zip_with(pixels, pixels2, (a, b) -> IF(a <> b, 1.0D, 0.0D)), 0.0D, (s, x) -> s + x) AS BIGINT)").as("nd"),
          expr("aggregate(zip_with(pixels, pixels2, (a, b) -> abs(a - b)), 0.0D, (s, x) -> greatest(s, x))").as("mx"),
          expr("CAST(aggregate(zip_with(pixels, pixels2, (a, b) -> abs(a - b)), 0.0D, (s, x) -> s + x) AS BIGINT)").as("sm"))
        .agg(sum("nd").as("pixels_differing"),
          max("mx").cast("long").as("max_abs_diff"),
          sum("sm").as("sum_abs_diff"))),
    "q113_band_stats" -> ((s, dir) =>
      // gdalinfo -stats (reference gcore/gdalrasterband.cpp ::
      // ComputeStatistics): exact global band statistics, per-tile HOF
      // partials → ONE agg; mean/std replayed through the SAME SQL
      // string in the oracle — bit-exact UNQUANTIZED (exact integer
      // sums in, exactly-rounded /,*,−,sqrt out)
      Raster.bandStats(Synth.tiles(s, 3))),
    "q91_style" -> ((s, dir) => {
      // feature style strings (reference ogr/ogrfeaturestyle.cpp): build
      // a deterministic PEN/BRUSH/LABEL style per row, parse with
      // style_tool/style_params, emit one row per (q_id, param). The
      // LABEL branch exercises quoted values (quotes stripped, inner
      // spaces kept). Shuffle-free scan → project → generate.
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("style",
          when(col("q_id") % 3 === 0, format_string("PEN(c:#%06x,w:%spx)",
            pmod(col("q_id") * 2654435761L, lit(16777216L)), col("q_id") % 10 + 1))
          .when(col("q_id") % 3 === 1, format_string("BRUSH(fc:#%06x,bc:#%06x)",
            pmod(col("q_id") * 2654435761L, lit(16777216L)),
            pmod(col("q_id") * 40503L, lit(16777216L))))
          .otherwise(format_string("LABEL(f:\"Arial Narrow\",s:%spt,t:\"doc %s\")",
            col("q_id") % 31 + 6, col("q_id"))))
        .withColumn("tool", call_function("style_tool", col("style")))
        .select(col("q_id"), col("tool"),
          posexplode(call_function("style_params", col("style"))))
        .select(col("q_id"), col("tool"), col("pos").cast("long").as("seq"),
          col("col.k").as("k"), col("col.v").as("v"))
    }),
    "q89_curve_linearize" -> ((s, dir) => {
      // curve geometries (reference ogr/ogr_geometry.h ::
      // OGRCircularString [late-SVN], ogr/ogrgeometryfactory.cpp ::
      // curveToLineString): per-row CIRCULARSTRING WKT over a dyadic
      // lattice — exact circumcenter (Cramer on exact sums) and
      // axis-crossing endpoints, so both endpoints' angles are IEEE-exact
      // (atan2(±0,x)) — linearized on ingest by st_geomfromwkt at the 4°
      // step; vertex rows via st_points + posexplode, 1e-6-quantized.
      // Variants by q_id % 3: cw half, ccw half, ccw three-quarter arc.
      // Shuffle-free scan → project → generate.
      val arc = "CIRCULARSTRING(%s %s, %s %s, %s %s)"
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("u", expr("CAST((q_id * 7919) % 2048 AS DOUBLE) / 64.0 - 16.0"))
        .withColumn("v", expr("CAST((q_id * 104729) % 2048 AS DOUBLE) / 64.0 - 16.0"))
        .withColumn("r", expr("1.0 + CAST(q_id % 57 AS DOUBLE) / 64.0"))
        .withColumn("wkt",
          when(col("q_id") % 3 === 0, format_string(arc,
            col("u") - col("r"), col("v"), col("u"), col("v") + col("r"),
            col("u") + col("r"), col("v")))
          .when(col("q_id") % 3 === 1, format_string(arc,
            col("u") - col("r"), col("v"), col("u"), col("v") - col("r"),
            col("u") + col("r"), col("v")))
          .otherwise(format_string(arc,
            col("u") - col("r"), col("v"), col("u"), col("v") - col("r"),
            col("u"), col("v") + col("r"))))
        .withColumn("g", call_function("st_geomfromwkt", col("wkt")))
        .select(col("q_id"), posexplode(call_function("st_points", col("g"))))
        .select(col("q_id"), col("pos").cast("long").as("seq"),
          expr("CAST(floor(col.x * 1000000.0 + 0.5) AS BIGINT)").as("x_e6"),
          expr("CAST(floor(col.y * 1000000.0 + 0.5) AS BIGINT)").as("y_e6"))
    }),
    "q87_bng_forward" -> ((s, dir) => {
      // first cross-DATUM transform (reference ogr/ogrct.cpp :: OGRProj4CT
      // with towgs84): WGS84 → geocentric → 7-param position-vector
      // Helmert → Airy 1830 geodetic (5-step unrolled iteration) → TM
      // (core/Bng.scala). Dyadic UK-window points, cm-quantized; the
      // oracle replays the full 4-stage chain op-for-op with every
      // derived constant embedded as the engine's runtime double.
      // Shuffle-free scan → project.
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("lon", expr("CAST((q_id * 7919) % 12288 AS DOUBLE) / 1024.0 - 8.0"))
        .withColumn("lat", expr("CAST((q_id * 104729) % 11264 AS DOUBLE) / 1024.0 + 49.5"))
        .withColumn("u", F.st_transform(
          F.st_point(col("lon"), col("lat")), lit(4326), lit(27700)))
        .select(col("q_id"),
          expr("CAST(floor(st_x(u) * 100.0 + 0.5) AS BIGINT)").as("e_cm"),
          expr("CAST(floor(st_y(u) * 100.0 + 0.5) AS BIGINT)").as("n_cm"))
    }),
    "q88_bng_inverse" -> ((s, dir) => {
      // BNG inverse leg: integer-meter E/N across the grid's published
      // extent back to WGS84 through TM-inverse → Airy geocentric →
      // reverse-sign Helmert → WGS84 geodetic (core/Bng.inverse);
      // 1e-6-deg quantization (q76 trick). Shuffle-free.
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("e_m", expr("CAST(100000 + (q_id * 48271) % 500001 AS DOUBLE)"))
        .withColumn("n_m", expr("CAST((q_id * 16807) % 1100001 AS DOUBLE)"))
        .withColumn("u", F.st_transform(
          F.st_point(col("e_m"), col("n_m")), lit(27700), lit(4326)))
        .select(col("q_id"),
          expr("CAST(floor(st_x(u) * 1000000.0 + 0.5) AS BIGINT)").as("lon_e6"),
          expr("CAST(floor(st_y(u) * 1000000.0 + 0.5) AS BIGINT)").as("lat_e6"))
    }),
    "q85_ps_forward" -> ((s, dir) => {
      // third general-SRS family (reference ogr/ogrct.cpp :: OGRProj4CT
      // for PROJ's stere): polar stereographic variant B, EPSG:3031
      // Antarctic (even q_id, south aspect) / EPSG:3413 NSIDC Arctic
      // (odd, north aspect) via core/Ps.forward, cm-quantized; the oracle
      // replays the chain op-for-op with the single derived constant
      // k = a·mF/tF embedded per CRS (q73/q80 trick). Shuffle-free.
      Synth.queryPoints(s, dir)
        .withColumn("epsg", when(col("q_id") % 2 === 0, lit(3031))
          .otherwise(lit(3413)).cast("int"))
        .transform(forwardCm)
    }),
    "q86_ps_inverse" -> ((s, dir) => {
      // polar stereographic inverse leg: deterministic integer-meter E/N
      // in ±3000 km around each pole (exact doubles) back to 4326 through
      // core/Ps.inverse — north-form φ fixed-point chain unrolled to 5
      // steps (q81 trick), south aspect mirrored through φ→−φ which
      // commutes bit-exactly with the degrees conversion. 1e-6-degree
      // quantization absorbs transcendental ULPs. Shuffle-free.
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("epsg", when(col("q_id") % 2 === 0, lit(3031))
          .otherwise(lit(3413)).cast("int"))
        .withColumn("e_m", (((col("q_id") * 48271) % 6000001) - lit(3000000)).cast("double"))
        .withColumn("n_m", (((col("q_id") * 16807) % 6000001) - lit(3000000)).cast("double"))
        .transform(inverseE6)
    }),
    "q83_tps_forward" -> ((s, dir) => {
      // TPS transformer forward surface (reference alg/thinplatespline.cpp
      // :: VizGeorefSpline2D): per-row dst pixel coords (exact dyadic
      // doubles) map through the fitted core/Tps.demo spline. The engine
      // evaluates THE SAME SQL string (Tps.evalSql) via expr that the
      // oracle runs in DuckDB — op-sequence identity by construction;
      // Spark's `ln` codegen is StrictMath.log (fdlibm) vs DuckDB's libm,
      // the only gap, absorbed by milli-pixel quantization (q73 trick).
      // Plan: scan → project, shuffle-free, whole-stage codegen.
      val m = graft.core.Tps.demo
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("x", expr("CAST((q_id * 7919) % 1048576 AS DOUBLE) / 1024.0"))
        .withColumn("y", expr("CAST((q_id * 104729) % 524288 AS DOUBLE) / 1024.0"))
        .withColumn("samp", expr(graft.core.Tps.evalSql(m, "x", "y", 'x')))
        .withColumn("line", expr(graft.core.Tps.evalSql(m, "x", "y", 'y')))
        .select(col("q_id"),
          expr("CAST(floor(samp * 1000.0 + 0.5) AS BIGINT)").as("samp_mpx"),
          expr("CAST(floor(line * 1000.0 + 0.5) AS BIGINT)").as("line_mpx"))
    }),
    "q84_tps_warp" -> ((s, dir) => {
      // TPS-georeferenced warp (reference alg/thinplatespline.cpp +
      // gdalwarp): dst pixel coords map through the fitted spline and
      // floor-sample the zoom-3 source grid; same dst-driven tile routing
      // as q79/q82. The transform's +,·,− are IEEE-ordered; ln is the
      // only transcendental (StrictMath vs libm, ≤1 ulp), and a flip
      // needs samp within ~1e-13 of an integer — absent by construction
      // on this deterministic grid (verified bit-exact).
      Raster.warpTpsNear(Synth.tiles(s, 3), graft.core.Tps.demo,
        srcW = 1024, srcH = 512, dstW = 1024, dstH = 512)
        .select(col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
    }),
    "q67_grid_stats" -> ((s, dir) => {
      // gdalgrid data-metric family completing A4: moving average
      // (fixed-point milli), nearest (GDAL first-closest, ties resolved
      // to the smallest value: min_by on packed (d2, v) — d2 < 2^27,
      // v <= 50 < 2^6, so d2*64+v is an order-preserving 33-bit key),
      // and min/max within radius 8 deg on the zoom-5 grid
      gridCandidates(s, dir)
        .groupBy("tx", "ty")
        .agg(count(lit(1)).as("n"),
          expr("(sum(v) * 1000L) div count(1)").as("avg_milli"),
          min("v").as("vmin"), max("v").as("vmax"),
          expr("min_by(v, d2 * 64 + v)").as("nearest_v"))
    }),
    "q138_grid_ellipse" -> ((s, dir) =>
      // gdal_grid -a average:radius1=8:radius2=4:angle=0 (the anisotropic
      // search ellipse every gdalgrid metric accepts;
      // alg/gdalgrid.cpp GDALGridGetPointBounds ellipse membership):
      // count/average/min/max over candidates passing the exact-integer
      // ellipse test — same one-hash-agg plan as q67, different gate
      gridCandidatesEllipse(s, dir)
        .groupBy("tx", "ty")
        .agg(count(lit(1)).as("n"),
          expr("(sum(v) * 1000L) div count(1)").as("avg_milli"),
          min("v").as("vmin"), max("v").as("vmax"))),
    "q224_bm25_topk" -> ((s, dir) => {
      // BM25 (Robertson/Sparck Jones Okapi weighting; the Lucene default
      // similarity) top-5 docs per query — the lexical-retrieval step RAG
      // pipelines run beside the q26/q171 ANN path, completing the q147
      // TF-IDF family with BM25's two distinguishing behaviors: tf
      // SATURATION (k1) and document-length normalization (b). Exact
      // integer arithmetic throughout: with k1 = 5/4 and b = 3/4 the
      // per-term score idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
      // clears avgdl = S/N from every denominator and folds to
      //   idf_milli · ((36·tf·S·1000000) div (16·tf·S + 5·S + 15·dl·N))
      // with S = Σ dl (corpus token count) and N = corpus docs; idf is
      // the q147-style ln-free rational surrogate
      //   idf_milli = (1000·(2·(N−df)+1)) div (2·df+1)
      // (exactly ((N−df+0.5)/(df+0.5))·1000 truncated — the Robertson
      // idf's argument, monotone in df, no ln ULPs to flip the compare).
      // 100-TB shape: the query-term set broadcasts; df and tf aggregate
      // ONLY term occurrences matching a query term (broadcast semi-join
      // BEFORE the aggs, so the corpus-wide term table never shuffles);
      // S and N are two scalar aggregates (1-row collect, the q147
      // precedent); top-5 is one window partitioned by query. Long
      // headroom: 36·tf·S·1e6 requires tf·S < 2.5e11 — comfortable
      // through sf10; past that the 1e6 scale constant drops a decade.
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val toks = docs.select(col("doc_id"), expr(
        "filter(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '), t -> t <> '')")
        .as("toks"))
      val st = toks.agg(sum(size(col("toks"))).as("s"), count(lit(1)).as("n")).head()
      val sTot = st.getLong(0); val nDocs = st.getLong(1)
      val qterms = Seq(
        ("Q1", "spark"), ("Q1", "table"),
        ("Q2", "hash"), ("Q2", "join"), ("Q2", "merge"),
        ("Q3", "vector"), ("Q3", "stream")).toDF("qid", "term")
      val dl = toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      val rel = toks.select(col("doc_id"), explode(col("toks")).as("term"))
        .join(broadcast(qterms.select("term").distinct()), "term")
      val tf = rel.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = rel.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("qid")
        .orderBy(col("score").desc, col("doc_id").asc)
      tf.join(broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .join(broadcast(qterms), "term")
        .withColumn("idf_milli",
          expr(s"(1000L * (2L * (${nDocs}L - df) + 1L)) div (2L * df + 1L)"))
        .withColumn("tfp_micro", expr(
          s"(36L * tf * ${sTot}L * 1000000L) div " +
            s"(16L * tf * ${sTot}L + 5L * ${sTot}L + 15L * dl * ${nDocs}L)"))
        .groupBy("qid", "doc_id")
        .agg(sum(expr("idf_milli * tfp_micro")).as("score"),
          count(lit(1)).as("n_terms"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("score"), col("n_terms"))
    }),
    "q225_feistel_shuffle" -> ((s, dir) => {
      // Deterministic per-epoch data shuffle — the dataloader-order step
      // every multi-epoch training run needs (public recipe: format-
      // preserving Feistel permutation, Black & Rogaway 2002, as used for
      // seedable index shuffling). A 4-round Feistel network over the
      // 32-bit id domain (16-bit halves; at 10^12 docs the halves widen
      // to 24 bits, nothing else changes) with the corpus hash64 as the
      // keyed round function F(e,i,R) = hash64('fs<e>_<i>_<R>') & 0xFFFF
      // is injective by construction, so NO cycle-walking loop is needed:
      // rank compression (row_number over the permuted value) lands the
      // N real ids densely on 0..N−1 while preserving the Feistel order.
      // 100-TB shape: map-side rounds (4 hash evaluations/row), then ONE
      // range-partitioned sort per epoch — exactly the shuffle a real
      // dataloader order materialization is; no state, no joins.
      val rounds = (1 to 4).foldLeft(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"),
            explode(expr("array(1L, 2L)")).as("epoch"))
          .withColumn("l", expr("doc_id div 65536L"))
          .withColumn("r", expr("doc_id % 65536L"))) { (df, i) =>
        df.select(col("doc_id"), col("epoch"), col("r").as("l"),
          expr(s"l ^ (hash64(concat('fs', CAST(epoch AS STRING), '_', " +
            s"'$i', '_', CAST(r AS STRING))) & 65535L)").as("r"))
      }
      val w = Window.partitionBy("epoch")
        .orderBy(col("perm").asc, col("doc_id").asc)
      rounds.withColumn("perm", expr("l * 65536L + r"))
        .withColumn("new_pos", (row_number().over(w) - 1).cast("long"))
        .select(col("epoch"), col("doc_id"), col("perm"), col("new_pos"))
    }),
    "q226_audio_resample" -> ((s, dir) => {
      // Multimodal AUDIO resample — linear interpolation at the rational
      // 5/8 rate (the 8 kHz→5 kHz downsample speech pipelines run before
      // feature extraction; torchaudio/librosa's linear-kernel resample
      // is this law at factor L/M). Sixth audio/video verb on the
      // q151/q193 byte plumbing: sample count and silence margins are
      // recovered FROM the container bytes; output length
      // m = (n−1)·5 div 8 + 1; out[k] sits at source phase k·8/5 with
      // q = (k·8) div 5, r = (k·8) % 5 and exact-integer interpolation
      // s[q] + (s[q+1]−s[q])·r div 5 (both engines truncate toward
      // zero). Graded per row: m, sum/min/max AND a base-31 polynomial
      // hash of the resampled stream — one wrong sample breaks the row.
      // Map-only per-row HOFs: zero shuffle at 100 TB.
      audioHeaders(s, dir)
        .withColumn("smp", expr(
          """transform(sequence(0, n - 1), i ->
               CASE WHEN i < ld OR i >= n - tl THEN 0L
                    ELSE (aid*31 + i*17) % 256 - 128 END)"""))
        .withColumn("m", expr("((n - 1) * 5) div 8 + 1"))
        .withColumn("res", expr(
          """transform(sequence(0, m - 1), k ->
               CASE WHEN (k * 8) % 5 = 0
                 THEN element_at(smp, CAST((k * 8) div 5 + 1 AS INT))
                 ELSE element_at(smp, CAST((k * 8) div 5 + 1 AS INT))
                      + ((element_at(smp, CAST((k * 8) div 5 + 2 AS INT))
                          - element_at(smp, CAST((k * 8) div 5 + 1 AS INT)))
                         * ((k * 8) % 5)) div 5 END)"""))
        .select(col("aid"), col("m").cast("long").as("m"),
          expr("aggregate(res, 0L, (a, x) -> a + x)").as("sum_s"),
          expr("CAST(array_min(res) AS BIGINT)").as("min_s"),
          expr("CAST(array_max(res) AS BIGINT)").as("max_s"),
          expr("aggregate(res, 0L, (a, x) -> (a * 31 + (x + 128)) % 1000000007L)")
            .as("h"))
    }),
    "q227_unigram_viterbi" -> ((s, dir) => {
      // SentencePiece unigram-LM tokenization (Kudo 2018 §3 — the OTHER
      // tokenizer family beside q215/q216's BPE): per word, the min-cost
      // segmentation over a literal piece vocabulary (integer centinat
      // costs, the q220 literal-pretrained-model stand-in; shared with
      // the oracle via OracleHashSql.unigramVocab) by exact Viterbi DP.
      // Tie law: min cost, then LONGEST last piece — packed key
      // cost·16 + (8 − len), min over candidates. 100-TB shape: the DP
      // runs once per DISTINCT word (the corpus vocabulary, tiny beside
      // the corpus), never per occurrence — per-unique-key compute with
      // occurrence counts aggregated beside it is exactly how
      // SentencePiece encodes at scale; the map literal constant-folds,
      // so the whole DP is one codegen'd projection after one tf agg.
      val vmap = "map(" + OracleHashSql.unigramVocab
        .map { case (p, c) => s"'$p', ${c}L" }.mkString(", ") + ")"
      s.read.parquet(s"$dir/documents.parquet")
        .select(explode(expr(
          "filter(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '), t -> t <> '')"))
          .as("term"))
        .groupBy("term").agg(count(lit(1)).as("n_occ"))
        .withColumn("best", expr(
          s"""aggregate(sequence(1, length(term)),
              array(named_struct('c', 0L, 'bl', 0)),
              (acc, j) -> concat(acc, array(
                element_at(transform(array(
                    element_at(array_sort(transform(
                      filter(sequence(greatest(1, j - 4), j),
                        st -> element_at($vmap, substring(term, st, j - st + 1)) IS NOT NULL),
                      st -> (element_at(acc, st).c
                             + element_at($vmap, substring(term, st, j - st + 1))) * 16
                            + 8 - (j - st + 1))), 1)),
                  k -> named_struct('c', k div 16,
                    'bl', CAST(8 - (k % 16) AS INT))), 1))))"""))
        .withColumn("cost", expr("element_at(best, length(term) + 1).c"))
        .withColumn("seg", expr(
          """element_at(transform(array(
               aggregate(sequence(1, length(term)),
                 named_struct('pos', length(term), 'str', ''),
                 (stt, z) -> CASE WHEN stt.pos > 0 THEN named_struct(
                     'pos', stt.pos - element_at(best, stt.pos + 1).bl,
                     'str', CASE WHEN stt.str = ''
                       THEN substring(term, stt.pos - element_at(best, stt.pos + 1).bl + 1,
                                      element_at(best, stt.pos + 1).bl)
                       ELSE concat(substring(term,
                              stt.pos - element_at(best, stt.pos + 1).bl + 1,
                              element_at(best, stt.pos + 1).bl), ' ', stt.str) END)
                   ELSE stt END)), v -> v.str), 1)"""))
        .select(col("term"), col("n_occ"),
          expr("CAST(size(split(seg, ' ')) AS BIGINT)").as("n_sym"),
          col("cost"), col("seg"))
    }),
    "q228_stream_full_outer" -> ((s, dir) => {
      // Stream-stream FULL OUTER interval join — the eighth streaming
      // shape, completing the join family (inner q140, LEFT OUTER q154,
      // LEFT SEMI q223): BOTH unmatched sides emit null-padded rows once
      // the min-across-sources watermark passes their window, answering
      // "which views converted AND which clicks were orphans" in one
      // pass. Same sentinel protocol as q154 (both streams advance);
      // -1 sentinels for hash stability; range bound on the raw
      // watermarked ts columns so state eviction stays derivable.
      // 8 state stores, scoped to the streaming query (q154 rationale)
      streamJoin(s, dir, "q228", "1 minute", sentinels = true) { (views, clicks) =>
        views.join(clicks, expr(
            "v_user = c_user AND cts >= vts AND cts <= vts + interval 1 hour"),
            "fullOuter")
          .select(coalesce(col("view_id"), lit(-1L)).as("view_id"),
            coalesce(col("click_id"), lit(-1L)).as("click_id"),
            coalesce(col("v_user"), col("c_user")).as("u"),
            coalesce(unix_millis(col("cts")) - unix_millis(col("vts")), lit(-1L))
              .as("delta_ms"))
      }.where(col("u") >= 0)
        .select(col("view_id"), col("click_id"), col("delta_ms"))
    }),
    "q229_rrf_fusion" -> ((s, dir) => {
      // Reciprocal-rank fusion (Cormack et al. 2009 — the hybrid-
      // retrieval step that merges lexical and second-system rankings in
      // every production RAG stack): fuse q224's BM25 ranking with the
      // q147-law TF-IDF ranking over the same literal query set. Exact
      // integers: contribution = 1000000 div (60 + rank) per system
      // (k = 60, the published constant), summed; each system feeds its
      // top-20. 100-TB shape: both rankings aggregate only query-term
      // occurrences (broadcast semi-join first), fusion is one hash agg
      // over ≤ 40 rows per query + one top-5 window.
      import s.implicits._
      // OPTIMIZATION r6: ONE tokenization pass instead of three. The old
      // plan tokenized once for the corpus-stats action, once for dl and
      // once for the full-token explode (then filtered 7 literal terms via
      // a broadcast join AFTER materializing every token as a row). The
      // query terms are literals, so filter the token ARRAY map-side and
      // explode only matches; dl/stats come from the same tiny projection
      // (fan: single-split source, guide §2.5). `tk` is 3 narrow columns
      // per doc — caching it makes the stats action + both rankings
      // share one tokenize.
      val qtermList = Seq("spark", "table", "hash", "join", "merge", "vector", "stream")
      val docs = graft.core.Par.fan(s.read.parquet(s"$dir/documents.parquet"))
      val tk = docs.select(col("doc_id"), expr(
          "filter(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '), t -> t <> '')")
          .as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
          expr(s"filter(toks, t -> t IN (${qtermList.map("'" + _ + "'").mkString(",")}))")
            .as("mt"))
        .transform(graft.io.Checkpoints.cached)
      val st = tk.agg(sum(col("dl")).as("s"), count(lit(1)).as("n")).head()
      val sTot = st.getLong(0); val nDocs = st.getLong(1)
      val qterms = Seq(
        ("Q1", "spark"), ("Q1", "table"),
        ("Q2", "hash"), ("Q2", "join"), ("Q2", "merge"),
        ("Q3", "vector"), ("Q3", "stream")).toDF("qid", "term")
      val dl = tk.select(col("doc_id"), col("dl"))
      val rel = tk.where(size(col("mt")) > 0)
        .select(col("doc_id"), explode(col("mt")).as("term"))
      val tf = rel.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = rel.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val base = tf.join(broadcast(dfreq), "term")
        .join(dl, "doc_id").join(broadcast(qterms), "term")
        .withColumn("idf_milli",
          expr(s"(1000L * (2L * (${nDocs}L - df) + 1L)) div (2L * df + 1L)"))
        .transform(graft.io.Checkpoints.cached)
      val bm25 = base
        .withColumn("tfp_micro", expr(
          s"(36L * tf * ${sTot}L * 1000000L) div " +
            s"(16L * tf * ${sTot}L + 5L * ${sTot}L + 15L * dl * ${nDocs}L)"))
        .groupBy("qid", "doc_id")
        .agg(sum(expr("idf_milli * tfp_micro")).as("sc"))
      val tfidf = base
        .groupBy("qid", "doc_id")
        .agg(sum(expr("tf * idf_milli")).as("sc"))
      def ranked(df: DataFrame): DataFrame = {
        val w = Window.partitionBy("qid").orderBy(col("sc").desc, col("doc_id").asc)
        df.withColumn("rank", row_number().over(w)).where(col("rank") <= 20)
          .select(col("qid"), col("doc_id"),
            expr("1000000L div (60L + rank)").as("contrib"))
      }
      val w2 = Window.partitionBy("qid")
        .orderBy(col("rrf_micro").desc, col("doc_id").asc)
      ranked(bm25).unionByName(ranked(tfidf))
        .groupBy("qid", "doc_id")
        .agg(sum(col("contrib")).as("rrf_micro"), count(lit(1)).as("n_systems"))
        .withColumn("rank", row_number().over(w2))
        .where(col("rank") <= 5)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("rrf_micro"), col("n_systems"))
    }),
    "q230_kneser_ney" -> ((s, dir) => {
      // Interpolated Kneser-Ney bigram estimation (Kneser & Ney 1995;
      // Chen & Goodman 1999 eq. 4.25) — the smoothing family beside
      // q202's Stupid Backoff, with KN's two signature quantities built
      // EXACTLY: absolute discount d = 3/4 and the CONTINUATION
      // probability (bigram TYPE counts, not token counts). Exact
      // integer micro law per observed bigram, two fixed-order divs:
      //   leg1 = (max(4·c12 − 3, 0)·1e6) div (4·c1)
      //   leg2 = (3·N1p_fwd(w1)·N1p_bwd(w2)·1e6) div (4·c1·Ntypes)
      // 100-TB shape: bigrams built MAP-SIDE from the token array (no
      // per-doc lag window), then everything is hash aggs on the bigram
      // table — vocab², tiny beside the corpus.
      val bi = s.read.parquet(s"$dir/documents.parquet")
        .select(expr(
          "filter(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '), t -> t <> '')")
          .as("tk"))
        .select(explode(expr(
          """CASE WHEN size(tk) >= 2 THEN transform(sequence(1, size(tk) - 1),
               i -> named_struct('w1', element_at(tk, i), 'w2', element_at(tk, i + 1)))
             ELSE array() END""")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .transform(graft.io.Checkpoints.cached)
      val ntypes = c12.count()
      val c1 = c12.groupBy("w1")
        .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p_fwd"))
      val bwd = c12.groupBy("w2").agg(count(lit(1)).as("n1p_bwd"))
      c12.join(c1, "w1").join(bwd, "w2")
        .select(col("w1"), col("w2"), col("c12"), col("c1"),
          expr(s"""(greatest(4L * c12 - 3L, 0L) * 1000000L) div (4L * c1)
            + (3L * n1p_fwd * n1p_bwd * 1000000L) div (4L * c1 * ${ntypes}L)""")
            .as("p_micro"))
    }),
    "q231_layer_union" -> ((s, dir) => {
      // ogr_layer_algebra UNION mode (reference swig/python/samples/
      // ogr_layer_algebra.py :: Union, OGRLayer::Union) — the last of
      // the seven algebra modes (Intersection q51/q12, Clip q103,
      // Identity q118, Update q126, Erase+SymDifference q210): output =
      // A∩B pieces (kind 'int') ∪ A−B pieces ('erase') ∪ B−A pieces
      // ('bside'), on the shared q210 rectangle corpus whose invariants
      // keep every leg closed-form for the oracle. Plan: the int/erase
      // legs are the q118/q126 broadcast region join (32-row method
      // side); the bside leg folds the bounded per-region cover — one
      // broadcast join + one 8-bounded agg, no cartesian anywhere.
      val (a, b) = Synth.algebraRects(s, dir)
      val ab = a.join(broadcast(b), Seq("rid"))
      val inter = overlayPieces(ab, "st_intersection", "int")
      val erase = overlayPieces(ab, "st_difference", "erase")
      val bside = methodPieces(a, b)
      pieceStats(inter.unionByName(erase).unionByName(bside))
    }),
    "q233_url_canonicalize" -> ((s, dir) => {
      // URL canonicalization + URL-level dedup — the crawl-pipeline step
      // CCNet/C4 run before any content dedup (public recipe: RFC-3986
      // normalization + tracking-param strip). Law: lowercase scheme and
      // host, strip the https default port :443, drop the fragment, drop
      // utm_* query params (KEEP others), then group by the canonical
      // URL (keeper = min doc_id). URLs are synthesized deterministically
      // with mixed-case hosts, default ports, utm-only/mixed/absent
      // queries and fragments so every branch fires. Parsing is pure
      // instr/substring arithmetic (no regex) — map-only, then ONE hash
      // agg on the canonical key; at 100 TB this is the exact shape of
      // crawl dedup (canonical key never exceeds the URL length).
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"))
        .withColumn("url", expr(
          """concat(
               CASE doc_id % 2 WHEN 0 THEN 'HTTPS' ELSE 'https' END, '://',
               CASE doc_id % 3 WHEN 0 THEN 'WWW.Example.COM:443'
                 WHEN 1 THEN 'www.example.com' ELSE 'WwW.ExAmPlE.CoM:443' END,
               '/Docs/Page', CAST(doc_id % 50 AS STRING),
               CASE doc_id % 4
                 WHEN 0 THEN concat('?utm_source=feed&id=', CAST(doc_id % 50 AS STRING))
                 WHEN 1 THEN '#section-2'
                 WHEN 2 THEN '?utm_only=1'
                 ELSE '' END)"""))
        .withColumn("i1", expr("instr(url, '://')"))
        .withColumn("scheme", expr("lower(substring(url, 1, i1 - 1))"))
        .withColumn("rest", expr("substring(url, i1 + 3)"))
        .withColumn("sl", expr("instr(rest, '/')"))
        .withColumn("hp", expr("substring(rest, 1, sl - 1)"))
        .withColumn("host", expr(
          """lower(CASE WHEN substring(hp, length(hp) - 3) = ':443'
             THEN substring(hp, 1, length(hp) - 4) ELSE hp END)"""))
        .withColumn("pq", expr("substring(rest, sl)"))
        .withColumn("nofrag", expr(
          "CASE WHEN instr(pq, '#') > 0 THEN substring(pq, 1, instr(pq, '#') - 1) ELSE pq END"))
        .withColumn("qp", expr("instr(nofrag, '?')"))
        .withColumn("path", expr(
          "CASE WHEN qp > 0 THEN substring(nofrag, 1, qp - 1) ELSE nofrag END"))
        .withColumn("kept", expr(
          """array_join(filter(split(CASE WHEN qp > 0 THEN substring(nofrag, qp + 1) ELSE '' END, '&'),
             p -> p <> '' AND substring(p, 1, 4) <> 'utm_'), '&')"""))
        .withColumn("canon", expr(
          "concat(scheme, '://', host, path, CASE WHEN kept <> '' THEN concat('?', kept) ELSE '' END)"))
        .groupBy("canon")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"),
          countDistinct(col("url")).as("n_raw"))
    }),
    "q234_crs_wkt" -> ((s, dir) => {
      // CRS WKT1 export + import (gdalsrsinfo; ogr/ogrspatialreference.cpp
      // :: exportToWkt / importFromWkt) over the engine's own projection
      // registry (LCC 2154/3978, UTM 32633, PS 3031, BNG 27700): the WKT
      // text is RENDERED in-engine (ordered parameter fold over a params
      // table — array_sort(collect_list(struct)) keeps the spec order),
      // then every parameter is PARSED BACK from the text by instr
      // arithmetic and graded against the original; hash64(wkt) pins the
      // whole serialization byte-for-byte (the q142/q187 whole-text
      // discipline). Param values live as STRINGS end to end — no
      // float→text formatting divergence between engines can exist.
      import s.implicits._
      val crs = Seq(
        (2154L, "RGF93 / Lambert-93",
          """GEOGCS["RGF93",DATUM["RGF93",SPHEROID["GRS 1980",6378137,298.257222101]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]""",
          "Lambert_Conformal_Conic_2SP"),
        (3978L, "NAD83 / Canada Atlas Lambert",
          """GEOGCS["NAD83",DATUM["North_American_Datum_1983",SPHEROID["GRS 1980",6378137,298.257222101]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]""",
          "Lambert_Conformal_Conic_2SP"),
        (32633L, "WGS 84 / UTM zone 33N",
          """GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]""",
          "Transverse_Mercator"),
        (3031L, "WGS 84 / Antarctic Polar Stereographic",
          """GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]""",
          "Polar_Stereographic"),
        (27700L, "OSGB 1936 / British National Grid",
          """GEOGCS["OSGB 1936",DATUM["OSGB_1936",SPHEROID["Airy 1830",6377563.396,299.3249646]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]""",
          "Transverse_Mercator")).toDF("epsg", "name", "geog", "proj")
      val params = Seq(
        (2154L, 1, "standard_parallel_1", "49"), (2154L, 2, "standard_parallel_2", "44"),
        (2154L, 3, "latitude_of_origin", "46.5"), (2154L, 4, "central_meridian", "3"),
        (2154L, 5, "false_easting", "700000"), (2154L, 6, "false_northing", "6600000"),
        (3978L, 1, "standard_parallel_1", "49"), (3978L, 2, "standard_parallel_2", "77"),
        (3978L, 3, "latitude_of_origin", "49"), (3978L, 4, "central_meridian", "-95"),
        (3978L, 5, "false_easting", "0"), (3978L, 6, "false_northing", "0"),
        (32633L, 1, "latitude_of_origin", "0"), (32633L, 2, "central_meridian", "15"),
        (32633L, 3, "scale_factor", "0.9996"),
        (32633L, 4, "false_easting", "500000"), (32633L, 5, "false_northing", "0"),
        (3031L, 1, "latitude_of_origin", "-71"), (3031L, 2, "central_meridian", "0"),
        (3031L, 3, "false_easting", "0"), (3031L, 4, "false_northing", "0"),
        (27700L, 1, "latitude_of_origin", "49"), (27700L, 2, "central_meridian", "-2"),
        (27700L, 3, "scale_factor", "0.9996012717"),
        (27700L, 4, "false_easting", "400000"), (27700L, 5, "false_northing", "-100000"))
        .toDF("epsg", "ord", "k", "v")
      val pstr = params.groupBy("epsg").agg(expr(
        """array_join(transform(array_sort(collect_list(named_struct('ord', ord, 'k', k, 'v', v))),
           p -> concat('PARAMETER["', p.k, '",', p.v, ']')), ',')""").as("pstr"))
      val wkt = crs.join(pstr, "epsg").withColumn("wkt", expr(
        """concat('PROJCS["', name, '",', geog, ',PROJECTION["', proj, '"],',
           pstr, ',UNIT["metre",1],AUTHORITY["EPSG","', CAST(epsg AS STRING), '"]]')"""))
      params.join(wkt.select("epsg", "wkt"), Seq("epsg"))
        .withColumn("needle", expr("""concat('PARAMETER["', k, '",')"""))
        .withColumn("tail", expr("substring(wkt, instr(wkt, needle) + length(needle))"))
        .select(col("epsg"), col("k"),
          expr("substring(tail, 1, instr(tail, ']') - 1)").as("v_parsed"),
          call_function("hash64", col("wkt")).as("wkt_fp"))
    }),
    "q235_chat_template" -> ((s, dir) => {
      // SFT chat-template rendering + loss-mask accounting over the
      // interleaved-span table (the input_hint shape, q158's sibling):
      // spans alternate roles by offset parity (even = user, odd =
      // assistant), media spans render as their placeholder INSIDE the
      // turn, and the loss mask is the standard SFT law — only
      // assistant-turn content trains. Output per doc: turn count,
      // trainable/masked char counts, and the fingerprint of the fully
      // templated render (a role token out of place, a span out of
      // order, or a wrong mask boundary breaks the row). Same one-agg
      // shuffle as the docs() assembly; render + mask are codegen'd
      // HOFs — map-only after the span sort at any scale.
      Synth.docs(s, dir)
        .withColumn("turns", expr(
          """transform(spans, sp -> named_struct(
             'role', sp.offset % 2,
             'p', CASE WHEN sp.kind = 'text' THEN sp.text
                  ELSE concat('<media:', sp.media_ref, '>') END))"""))
        .withColumn("render", expr(
          """array_join(transform(turns, t ->
             concat(CASE WHEN t.role = 0 THEN '<|user|>' ELSE '<|assistant|>' END, t.p)), '')"""))
        .select(col("doc_id"),
          size(col("turns")).cast("long").as("n_turns"),
          expr("""aggregate(turns, 0L, (a, t) ->
             a + CASE WHEN t.role = 1 THEN length(t.p) ELSE 0 END)""").as("n_train_chars"),
          expr("""aggregate(turns, 0L, (a, t) ->
             a + CASE WHEN t.role = 0 THEN length(t.p) ELSE 0 END)""").as("n_mask_chars"),
          call_function("fingerprint64", col("render")).as("fp"))
    }),
    "q236_bucketed_pack" -> ((s, dir) =>
      // Length-bucketed packing — the SECOND packing law beside q183's
      // concat-then-chunk: documents are never split; they bucket by the
      // smallest power-of-two token length and context div bucket
      // same-bucket docs share a training sequence (the SFT/seq2seq
      // batching standard; the last bin's residue is padding). The
      // per-bucket global rank reuses pack()'s TWO-PHASE distributed
      // scan (range partition + keyed per-partition window + a bounded
      // (partitions × buckets) driver prefix) — no single-partition
      // window at any scale, bit-stable at any parallelism (the 7-core
      // probe checks exactly this).
      Pack.bucketedPack(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", context = 256L)),
    "q237_format_convert" -> ((s, dir) => {
      // ogr2ogr format-conversion chain (apps/ogr2ogr.cpp — read with
      // one driver, write with another): geometry → GeoJSON text (the
      // q101 writer) → GeoJSON parser → KML text (the q112 writer) →
      // KML parser. Grades hash64 of BOTH intermediate texts (each byte
      // pinned by its own driver law) and end-to-end canonical-WKB
      // identity, so a drift in either writer, either parser, or the
      // canonicalization breaks the row. Shuffle-free map chain — the
      // conversion never leaves the row at any scale.
      Synth.shapeSeeds(s, dir)
        .withColumn("wkt", expr(shapeWkt3))
        .withColumn("geom", call_function("st_geomfromwkt", col("wkt")))
        .withColumn("gj", call_function("st_asgeojson", col("geom")))
        .withColumn("g2", call_function("st_geomfromgeojson", col("gj")))
        .withColumn("kml", call_function("st_askml", col("g2")))
        .withColumn("g3", call_function("st_geomfromkml", col("kml")))
        .select(col("q_id"),
          call_function("hash64", col("gj")).as("gj_fp"),
          call_function("hash64", col("kml")).as("kml_fp"),
          expr("CAST(CASE WHEN g3 = geom THEN 1 ELSE 0 END AS BIGINT)")
            .as("roundtrip_ok"))
    }),
    "q238_vrt_resolution" -> ((s, dir) => {
      // gdalbuildvrt -resolution highest|lowest|average grid negotiation
      // (apps/gdalbuildvrt_lib.cpp :: VRTBuilder::AnalyseRaster — the
      // metadata pass that runs BEFORE any pixel work): scene origins,
      // sizes and pixel sizes in exact 1/1024-degree integer units; the
      // union extent is the min/max fold, the negotiated resolution is
      // min (highest), max (lowest) or the truncated mean (average), and
      // the output grid dims are ceil((extent)/res) — all one metadata
      // aggregate per mode over a 3-row mode table. 100-TB shape: this
      // is a pure scene-CATALOG aggregate (one row per scene, never per
      // pixel) crossed with 3 modes.
      import s.implicits._
      val scenes = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("sid"))
        .withColumn("px_u", expr("element_at(array(256L, 512L, 1024L, 2048L), CAST(sid % 4 + 1 AS INT))"))
        .withColumn("x0_u", expr("(sid % 16) * 65536L"))
        .withColumn("y0_u", expr("(sid % 8) * 65536L"))
        .withColumn("w_px", expr("64L + (sid % 5) * 32L"))
        .withColumn("h_px", expr("48L + (sid % 3) * 16L"))
        .withColumn("x1_u", expr("x0_u + w_px * px_u"))
        .withColumn("y1_u", expr("y0_u + h_px * px_u"))
      val agg = scenes.agg(
        min("x0_u").as("xmin_u"), min("y0_u").as("ymin_u"),
        max("x1_u").as("xmax_u"), max("y1_u").as("ymax_u"),
        min("px_u").as("res_hi"), max("px_u").as("res_lo"),
        expr("sum(px_u) div count(1)").as("res_avg"))
      agg.crossJoin(Seq("highest", "lowest", "average").toDF("mode"))
        .withColumn("res_u", expr(
          """CASE mode WHEN 'highest' THEN res_hi
             WHEN 'lowest' THEN res_lo ELSE res_avg END"""))
        .select(col("mode"), col("res_u"),
          col("xmin_u"), col("ymin_u"), col("xmax_u"), col("ymax_u"),
          expr("(xmax_u - xmin_u + res_u - 1L) div res_u").as("nx"),
          expr("(ymax_u - ymin_u + res_u - 1L) div res_u").as("ny"))
    }),
    "q239_dpo_pairs" -> ((s, dir) => {
      // DPO/RLHF preference-pair construction (Rafailov et al. 2023 data
      // prep — the chosen/rejected pairing every alignment pipeline runs
      // over a scored candidate pool): candidates group by a prompt key
      // (doc_id % 32, the synthetic prompt id), scored by the q220
      // fastText-margin law; chosen = (margin desc, doc_id asc) rank 1
      // per group, rejected = (margin asc, doc_id asc) rank 1, and a
      // pair emits only when the gap is STRICTLY positive (equal-margin
      // groups produce nothing to prefer). 100-TB shape: two hash aggs
      // for the margins, then per-group extremes — windows partition by
      // the prompt key, whose fan-in is the candidate count per prompt
      // (bounded in any real pool), never corpus-wide.
      // OPTIMIZATION r6: the q220 margin law is LINEAR in per-feature
      // occurrences (tf-then-sign-then-dim-sum == per-occurrence
      // sign·weight sum), so the whole dot product folds into a map-side
      // HOF over the feature hash array — no feature-string shuffle, no
      // (doc,feat)/(doc,dim) aggs, and crucially no 3× recompute of that
      // pipeline for the chosen/rejected/count branches. The per-group
      // extremes are ONE hash agg with max_by/min_by (VERDICT r5 #1) —
      // partial aggregation map-side, no WindowExec — instead of two
      // row_number() windows + a 3-way self-join. Identical rows: the
      // (margin, doc_id) orderings are total (doc_id unique), so argmax/
      // argmin match rank-1 rows exactly; all arithmetic stays BIGINT.
      val m = graft.core.Par.fan(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), explode(q220HashArr).as("hs"))
        .select(col("doc_id"), expr("doc_id % 32").as("g"),
          (coalesce(q220Dot, lit(0L)) + 3L).as("margin"))
      m.groupBy("g").agg(
          expr("max_by(doc_id, struct(margin, -doc_id))").as("chosen_id"),
          max(col("margin")).as("cm"),
          expr("min_by(doc_id, struct(margin, doc_id))").as("rejected_id"),
          min(col("margin")).as("rm"),
          count(lit(1)).as("n_cand"))
        .where(col("cm") > col("rm"))
        .select(col("g"), col("chosen_id"), col("rejected_id"),
          (col("cm") - col("rm")).as("gap"), col("n_cand"))
    }),
    "q240_fim_transform" -> ((s, dir) => {
      // Fill-in-the-Middle transform (Bavarian et al. 2022 §2 — the FIM
      // corruption code-model pipelines apply beside q222's T5 spans):
      // per doc a deterministic middle span (start = (doc_id·7919) %
      // (n−1), len = max(1, n div 4), clipped to the end) splits tokens
      // into prefix/middle/suffix; BOTH orderings render — PSM
      // <PRE>p<SUF>s<MID>m and SPM <SUF>s<PRE>p<MID>m — and hash64 of
      // each is graded with the span arithmetic. Docs under 3 tokens
      // pass through uncorrupted (len 0). Map-only HOFs, no shuffle.
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("tk", expr(
          "filter(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '), t -> t <> '')"))
        .withColumn("n", size(col("tk")))
        .withColumn("st", expr(
          "CASE WHEN n >= 3 THEN CAST((doc_id * 7919) % (n - 1) AS INT) ELSE 0 END"))
        .withColumn("ln", expr(
          "CASE WHEN n >= 3 THEN CAST(least(greatest(n div 4, 1), n - st) AS INT) ELSE 0 END"))
        .withColumn("p", expr("array_join(slice(tk, 1, st), ' ')"))
        .withColumn("m", expr("array_join(slice(tk, st + 1, ln), ' ')"))
        .withColumn("sf", expr("array_join(slice(tk, st + ln + 1, n - st - ln), ' ')"))
        .select(col("doc_id"), col("n").cast("long").as("n_toks"),
          col("st").cast("long").as("m_start"), col("ln").cast("long").as("m_len"),
          call_function("hash64",
            expr("concat('<PRE>', p, '<SUF>', sf, '<MID>', m)")).as("psm_fp"),
          call_function("hash64",
            expr("concat('<SUF>', sf, '<PRE>', p, '<MID>', m)")).as("spm_fp"))
    }),
    "q241_matryoshka" -> ((s, dir) => {
      // Matryoshka representation truncation audit (Kusupati et al. 2022
      // — MRL's deploy step keeps the first k dims of a 64-dim
      // embedding): exact-integer energy accounting under the corpus
      // quantization law q = floor(x·2^20) (no +2 offset — norms must
      // not be offset-dominated): squared norms of the full vector and
      // the 16-dim prefix, and the retained-energy ratio in exact milli
      // (n2_16·1000 div n2_64 — bounded 2.8e17, Long-safe). Map-only.
      s.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("q", expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0D) AS BIGINT))"))
        .select(col("vec_id"),
          expr("aggregate(q, 0L, (a, v) -> a + v * v)").as("n2_full"),
          expr("aggregate(slice(q, 1, 16), 0L, (a, v) -> a + v * v)").as("n2_16"))
        .withColumn("retain_milli", expr(
          "CASE WHEN n2_full = 0 THEN 0L ELSE (n2_16 * 1000L) div n2_full END"))
    }),
    "q242_skew_census" -> ((s, dir) => {
      // Hot-cell skew census — the diagnostic pre-aggregate the adaptive
      // salting path (SpatialJoin.pointInPolygon adaptive mode, SURVEY §5
      // skew row) consumes before planning: per zoom-7 cell point count,
      // corpus share in exact milli, (count desc, cell asc) hot rank,
      // and the salt factor the blanket path would assign under the
      // pinned self-scaling law salt = least(cnt div max(total div 256,
      // 1) + 1, 8). 100-TB shape: ONE cell hash agg (16 B rows) + one
      // scalar total; the top-16 window runs over the bounded CELL table
      // (≤ 2^13 rows at z7), never over points.
      val pts = Synth.points(s, dir)
        .select(F.cell_encode(col("lon"), col("lat"), lit(7)).as("cell"))
      val total = pts.count()
      val w = Window.orderBy(col("cnt").desc, col("tx").asc, col("ty").asc)
      pts.groupBy("cell").agg(count(lit(1)).as("cnt"))
        .select(F.cell_tx(col("cell")).as("tx"), F.cell_ty(col("cell")).as("ty"),
          col("cnt"))
        .withColumn("share_milli", expr(s"cnt * 1000L div ${total}L"))
        .withColumn("salt", expr(
          s"least(cnt div greatest(${total}L div 256L, 1L) + 1L, 8L)"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 16)
        .select(col("rank"), col("tx"), col("ty"), col("cnt"),
          col("share_milli"), col("salt"))
    }),
    "q243_gpkg" -> ((s, dir) => {
      // OGR GeoPackage driver analog (ogr/ogrsf_frmts/gpkg ::
      // OGRGeoPackageLayer::CreateFeature/GetNextFeature) — the SECOND
      // binary driver after q162's Shapefile, and the one whose container
      // is a full SQLite database file. Each feature writes ONE SQLite
      // table-leaf CELL image (varint payload + varint rowid + record
      // (fid INTEGER, name TEXT, geom GPKG-blob)), parses it back, and
      // dumps the cell's byte length plus every recovered field and
      // geometry vertex. Integers take minimal serial types and the GPKG
      // blob is 8B header + 32B XY envelope + JTS WKB, so the cell
      // length is CLOSED-FORM in (q_id, geometry class, name digits) —
      // the oracle replays varint/serial/WKB sizing arithmetically,
      // grading the whole binary layout bit-exact. Shuffle-free scan →
      // project → generate; whole-database images (100-byte header,
      // sqlite_master, gpkg_* system tables, 2-level b-trees) are
      // composed by Gpkg.writeFile and graded in SqliteSpec.
      Synth.shapeSeeds(s, dir)
        .withColumn("wkt", expr(shapeWkt3))
        .withColumn("cell", call_function("gpkg_cell",
          col("q_id").cast("long"), col("q_id").cast("long"),
          format_string("f_%d", col("q_id") % 89),
          call_function("gpkg_blob", lit(4326),
            call_function("st_geomfromwkt", col("wkt")))))
        .withColumn("f", call_function("gpkg_cell_fields", col("cell")))
        .select(col("q_id"),
          length(col("cell")).cast("long").as("cell_len"),
          col("f.rowid").as("rowid_back"), col("f.fid").as("fid_back"),
          col("f.name").as("name_back"),
          col("f.srs_id").cast("long").as("srs_back"),
          posexplode(call_function("st_points", col("f.geom"))).as(Seq("seq", "p")))
        .select(col("q_id"), col("cell_len"), col("rowid_back"),
          col("fid_back"), col("name_back"), col("srs_back"),
          col("seq").cast("long").as("seq"),
          col("p.x").as("x"), col("p.y").as("y"))
    }),
    "q244_temperature_sampling" -> ((s, dir) => {
      // Temperature-based language sampling (mT5, Xue et al. 2021 §3.1 /
      // XLM-R, Conneau et al. 2020 eq. 1): p_l ∝ c_l^α — the POWER-law
      // companion to q219's UniMax waterfilling (which computes caps,
      // not exponents). α = 1/2 is the exactly-gradable power: IEEE-754
      // sqrt is correctly rounded in both engines and ·2^20 shifts the
      // exponent only, so s_l = floor(sqrt(c_l)·2^20) is bit-pinned with
      // zero transcendental risk. Weights in exact ppm by integer
      // division; per-language doc targets from the total-doc budget;
      // per-doc copies via q219's fractional-epoch law on (doc_id·7919)
      // % 1000. 100-TB shape: ONE lang hash agg (bounded by #languages),
      // a 1-row total cross-joined in, the L-row weight table BROADCAST
      // back to the corpus, map-only copy assignment — no doc-keyed
      // shuffle anywhere.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val l = docs.groupBy("lang")
        .agg(sum("n_chars").as("c"), count(lit(1)).as("n"))
        .withColumn("sl",
          expr("CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1048576.0D) AS BIGINT)"))
      val t = l.agg(sum("sl").as("tot"), sum("n").as("b"))
      val e = l.crossJoin(broadcast(t))
        .withColumn("w_ppm", expr("sl * 1000000L div tot"))
        .withColumn("e_milli", expr("(b * sl div tot) * 1000L div n"))
        .select("lang", "sl", "w_ppm", "e_milli")
      docs.join(broadcast(e), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("sl"), col("w_ppm"),
          expr("e_milli div 1000 + CASE WHEN (doc_id * 7919) % 1000 < e_milli % 1000 THEN 1 ELSE 0 END").as("n_copies"))
    }),
    "q245_hillshade_igor" -> ((s, dir) =>
      // gdaldem hillshade -igor (apps/gdaldem_lib.cpp ::
      // GDALHillshadeIgorAlg): the soft-shadow law 255·(1 −
      // slopeStrength·aspectStrength) over the Horn gradient —
      // slopeStrength = atan(|∇|)/(π/2), aspectStrength = minimal
      // angular distance from the light direction / π (fmod-folded; a
      // bare subtraction would round differently than fmod's exact
      // remainder). Unlike the cos-product shade chain (q39/q96/q99),
      // igor darkens LINEARLY in both slope and aspect misalignment and
      // never reads the altitude. Milli-quantized like the q94/q95
      // family; same map-only tiled plan.
      focalPixels(s, "hillshade_igor")
        .select(col("gx"), col("gy"),
          expr("CAST(floor(val * 1000.0 + 0.5) AS BIGINT)").as("shade_milli"))),
    "q246_slm_token_select" -> ((s, dir) => {
      // Selective Language Modeling token selection (Rho-1, Lin et al.
      // 2024): score every token by reference-vs-policy excess and keep
      // the tokens the reference model likes better — here the two
      // "models" are add-one unigram LMs trained on the doc_id-parity
      // halves of the corpus, and the excess-probability test
      // p_B(t) > p_A(t) is graded EXACTLY by cross-multiplication:
      // (c_B+1)(N_A+V) > (c_A+1)(N_B+V) — zero logs, zero floats. Per
      // doc: token count, selected count, selected share in exact milli
      // (empty docs emit 0/0/0 through the LEFT join). 100-TB shape:
      // ONE token hash agg (partial-agg friendly), a 1-row totals
      // cross-join, a token-keyed equi-join back (sort-merge on the
      // 8-byte-ish token key; text itself never re-shuffles), one
      // doc-keyed count agg.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val toks = docs.select(col("doc_id"), explode(expr(
        "filter(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '), t -> t <> '')"))
        .as("tok"))
      val st = toks.groupBy("tok").agg(
        sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("cb"))
      val tt = st.agg(sum("ca").as("na"), sum("cb").as("nb"),
        count(lit(1)).as("v"))
      val sel = toks.join(st, Seq("tok")).crossJoin(broadcast(tt))
        .select(col("doc_id"),
          expr("CASE WHEN (cb + 1) * (na + v) > (ca + 1) * (nb + v) THEN 1L ELSE 0L END").as("s"))
      val agg = sel.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("s").as("n_selected"))
      docs.select("doc_id").join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_selected"), lit(0L)).as("n_selected"),
          expr("CAST(CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0 ELSE n_selected * 1000 div n_tokens END AS BIGINT)").as("sel_milli"))
    }),
    "q248_gauss_kruger" -> ((s, dir) => {
      // Generalized Transverse Mercator / Gauss-Krüger (reference:
      // ogr/ogr_spatialref.cpp :: OGRSpatialReference::SetTM — the
      // parametric projection whose SetUTM is the fixed-parameter
      // wrapper): each query point forward-transforms into its 3°-band
      // GK zone (lon0 = band center, k0 = 1, zone-encoded false easting
      // z·10⁶+500000 — the classic GK easting convention) and then
      // ROUND-TRIPS through the inverse, both legs the q73/q76 Krüger
      // series with explicit parameters (core/Utm.forwardTm/inverseTm).
      // cm + 1e-6-deg quantization absorbs transcendental ULPs; plan is
      // scan → project, shuffle-free.
      Synth.queryPoints(s, dir)
        .withColumn("zone", least(lit(119L),
          greatest(lit(0L), floor((col("lon") + 180.0) / 3.0).cast("long"))))
        .withColumn("lon0", expr("CAST(zone AS DOUBLE) * 3.0D - 178.5D"))
        .withColumn("e0", expr("CAST(zone AS DOUBLE) * 1000000.0D + 500000.0D"))
        .withColumn("fwd", call_function("tm_forward", col("lon"), col("lat"),
          col("lon0"), lit(1.0), col("e0"), lit(0.0)))
        .withColumn("inv", call_function("tm_inverse", col("fwd.x"), col("fwd.y"),
          col("lon0"), lit(1.0), col("e0"), lit(0.0)))
        .select(col("q_id"), col("zone"),
          expr("CAST(floor(fwd.x * 100.0 + 0.5) AS BIGINT)").as("e_cm"),
          expr("CAST(floor(fwd.y * 100.0 + 0.5) AS BIGINT)").as("n_cm"),
          // round-trip quantization offset is 0.3, NOT the family's 0.5:
          // the synth lon/lat grid is k/1024°, so x·10⁶ + 0.5 lands
          // EXACTLY on a floor boundary whenever k ≡ 0 (mod 16) and the
          // round-trip's ±ulp residual would flip it per-engine; 0.3 is
          // ≥ 1/80 away from every multiple of 1/16, so no boundary sits
          // within reach of the ~1e-4-µdeg series residual
          expr("CAST(floor(inv.x * 1000000.0 + 0.3) AS BIGINT)").as("lon_udeg"),
          expr("CAST(floor(inv.y * 1000000.0 + 0.3) AS BIGINT)").as("lat_udeg"))
    }),
    "q249_albers_forward" -> ((s, dir) => {
      // Albers Equal-Area conic forward (reference: ogr/ogr_spatialref.cpp
      // :: OGRSpatialReference::SetACEA via ogrct.cpp; Snyder/EPSG 9822,
      // core/Albers.forward): each query point forward-projects into an
      // AEA CRS chosen per row — EPSG:5070 Conus Albers (even q_id, n>0)
      // or EPSG:3577 Australian Albers (odd, the southern-parallel n<0
      // case) — cm-quantized; the oracle replays the Snyder chain
      // op-for-op with the engine's derived constants as literals (q80
      // trick). Plan: scan → project, shuffle-free.
      Synth.queryPoints(s, dir)
        .withColumn("epsg", when(col("q_id") % 2 === 0, lit(5070))
          .otherwise(lit(3577)).cast("int"))
        .transform(forwardCm)
    }),
    "q250_albers_inverse" -> ((s, dir) => {
      // Albers Equal-Area inverse leg: deterministic integer-meter
      // easting/northing around each CRS's (0,0) false origin back to
      // 4326 through core/Albers.inverse — asin(q'/2) seed + the Snyder
      // 3-16 Newton step unrolled to exactly 6 iterations so the oracle
      // replays the same chain; the n<0 CRS exercises the sign-reversed
      // atan2. 1e-6-degree quantization (q81 trick). Shuffle-free.
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("epsg", when(col("q_id") % 2 === 0, lit(5070))
          .otherwise(lit(3577)).cast("int"))
        .withColumn("e_m", ((col("q_id") * 69621) % 2000001).cast("double") - 1000000.0)
        .withColumn("n_m", ((col("q_id") * 40692) % 3000001).cast("double") - 1500000.0)
        .transform(inverseE6)
    }),
    "q266_asof_join" -> ((s, dir) => {
      // AS-OF JOIN (backward, inclusive) — the canonical event-to-
      // latest-snapshot temporal join (public semantics: pandas
      // merge_asof / kdb aj): each event picks the newest per-user
      // dimension snapshot with sts <= ts. Spark-first law: UNION-TAG
      // both sides and take a running last(snapshot, ignoreNulls) over
      // (user, ts, kind) — ONE user-keyed shuffle with an in-partition
      // sort, NO range explosion, no per-event scan; this is the
      // scale-correct distributed as-of (a theta join would be O(n·m)).
      // Snapshot at exactly the event ts wins (kind orders snapshots
      // first) — matching the oracle's inclusive argmax.
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"), col("ts"))
      val snaps = ev.select("user_id").distinct()
        .withColumn("k", explode(expr("sequence(0, 9)")))
        .withColumn("sts", expr(
          """timestamp'2023-12-30 00:00:00'
             + make_interval(0, 0, 0, 0, CAST(user_id % 7 AS INT), 0, 0)
             + make_interval(0, 0, 0, CAST(k * 3 AS INT), 0, 0, 0)"""))
        .withColumn("sval", expr("user_id * 100L + k"))
      val tagged = snaps.select(col("user_id"), col("sts").as("ts"),
          lit(0).as("kind"), lit(null).cast("long").as("event_id"), col("sval"))
        .unionByName(ev.select(col("user_id"), col("ts"), lit(1).as("kind"),
          col("event_id"), lit(null).cast("long").as("sval")))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("kind"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("asof_val", last(col("sval"), ignoreNulls = true).over(w))
        .where(col("kind") === 1)
        .select(col("user_id"), col("event_id"), col("asof_val"))
    }),
    "q267_range_join" -> ((s, dir) => {
      // RANGE JOIN (interval containment) via TIME-BUCKET equi-join —
      // the temporal twin of the engine's cells_cover spatial prune:
      // windows explode to the 4-hour buckets they overlap, events key
      // to their single bucket, and an ordinary equi-join on (bucket)
      // plus the exact containment gate finds every (event, window)
      // pair — never a theta/BNL join, and AQE handles bucket skew like
      // any hot cell. Windows: 24 global 9-hour maintenance windows
      // every 29 hours from Dec 31 16:00 (offsets chosen so windows
      // straddle bucket boundaries and some events match 0 or 2 windows).
      val bucketSec = 14400L
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("ts"))
        // events.ts is TIMESTAMP_NTZ; the cast is epoch-preserving under
        // the session's pinned UTC timeZone (the q120-family precedent)
        .withColumn("b", expr(
          s"CAST(unix_micros(CAST(ts AS TIMESTAMP)) div (${bucketSec}L * 1000000L) AS BIGINT)"))
      val win = s.range(0, 24).toDF("w")
        .withColumn("wstart", expr(
          "timestamp'2023-12-31 16:00:00' + make_interval(0, 0, 0, 0, CAST(w * 29 AS INT), 0, 0)"))
        .withColumn("wend", expr(
          "wstart + make_interval(0, 0, 0, 0, 9, 0, 0)"))
        .withColumn("b", explode(expr(
          s"""sequence(unix_micros(wstart) div (${bucketSec}L * 1000000L),
              unix_micros(wend) div (${bucketSec}L * 1000000L))""")))
      ev.join(win, Seq("b"))
        .where(col("ts") >= col("wstart") && col("ts") < col("wend"))
        .select(col("event_id"), col("w").as("window_id"))
    }),
    "q265_bpe_fertility" -> ((s, dir) => {
      // Tokenizer FERTILITY equity audit (the public multilingual-equity
      // metric — BPE symbols per whitespace word, per language; mT5/
      // XLM-R-era analyses use fertility to show a mixed-corpus
      // tokenizer over-fragments low-resource languages): the q215
      // 6-merge BPE applied via the q216 broadcast encoded dictionary,
      // aggregated per lang in exact integer milli — fertility =
      // Σ symbols ·1000 div Σ words, plus chars-per-symbol compression.
      // 100-TB shape: vocab-sized broadcast join + ONE lang hash agg.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // OPTIMIZATION r6: ONE dict build shared by training and encoding
      // (q216 rationale)
      val d0 = graft.io.Checkpoints.cached(Bpe.dict(docs))
      val rules = Bpe.trainOn(d0, 6)
      val enc = Bpe.encodedDictFrom(d0, rules)
      val tok = docs.select(col("lang"), explode(
          split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("term"))
        .where(col("term") =!= "")
      tok.join(broadcast(enc), Seq("term"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"), sum(col("nsym")).cast("long").as("n_sym"),
          sum(col("nch")).cast("long").as("n_chars"))
        .select(col("lang"), col("n_words"), col("n_sym"),
          expr("n_sym * 1000L div n_words").as("fertility_milli"),
          expr("CASE WHEN n_sym = 0 THEN 0L ELSE n_chars * 1000L div n_sym END").as("cps_milli"))
    }),
    "q264_curriculum" -> ((s, dir) => {
      // Curriculum data ordering (public recipe family: Bengio et al.
      // 2009 curriculum learning; practical LLM pipelines interleave
      // difficulty buckets at a fixed ratio rather than sorting the
      // corpus monotonically): docs bucket by length as the difficulty
      // proxy (easy/medium/hard), shuffle WITHIN a bucket by the mix64
      // epoch-shuffle law, and the global training order interleaves the
      // buckets 3:2:1 on the fixed period-6 pattern [e,m,e,h,e,m] —
      // step(r,b) = (r div c_b)·6 + off_b[r mod c_b], a CLOSED FORM per
      // row, so the schedule is map-side after the per-bucket rank.
      // When a bucket exhausts, its steps simply stop occurring (the
      // schedule keeps holes rather than re-weighting — deterministic
      // and replayable). 100-TB shape: the only sort is the per-bucket
      // rank window (3 partitions — the q225 Feistel permutation is the
      // sort-free scale path for per-bucket ranks, noted there); the
      // schedule arithmetic is codegen'd projection.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("bucket").orderBy(col("shuf"), col("doc_id"))
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("bucket", expr(
          "CASE WHEN n_chars < 250 THEN 0L WHEN n_chars < 400 THEN 1L ELSE 2L END"))
        .withColumn("shuf", expr("mix64(doc_id)"))
        .withColumn("r", (row_number().over(w) - 1).cast("long"))
        .withColumn("step", expr(
          """CASE bucket
             WHEN 0L THEN (r div 3L) * 6L + element_at(array(0L, 2L, 4L), CAST(r % 3L AS INT) + 1)
             WHEN 1L THEN (r div 2L) * 6L + element_at(array(1L, 5L), CAST(r % 2L AS INT) + 1)
             ELSE r * 6L + 3L END"""))
        .select(col("doc_id"), col("bucket"), col("r"), col("step"))
    }),
    "q263_network_sssp" -> ((s, dir) => {
      // GNM single-source shortest path (reference: gnm/gnmgraph.cpp ::
      // GNMGraph::DijkstraShortestPath behind gnmanalyse --dijkstra,
      // [late-SVN]): a deterministic weighted road grid over the
      // supplier ids (width-10 lattice + two express-edge tiers so the
      // diameter stays in the tens at every SF) relaxed to the exact
      // distance fixpoint by operators/Network.shortestPaths — BSP
      // Bellman-Ford rounds on the io/Checkpoints.iterate driver.
      // The oracle replays the graph with a recursive CTE bounded by a
      // distance cap strictly above the true diameter. All integer.
      Network.shortestPaths(gnmEdges(s, dir)._2, source = 0L)
    }),
    "q275_geo_manifest" -> ((s, dir) => {
      // GeoParquet/Iceberg-style PARTITION METADATA emission (public
      // specs: GeoParquet per-file bbox metadata, Iceberg manifest
      // column bounds — the stats a scan planner prunes on): per zoom-2
      // cell partition of the point corpus — the explicit partition key
      // a 100-TB geo layout writes by — the exact bbox in 1/1024-degree
      // integer units (the synth lattice, so min/max are EXACT — no
      // float quantization at all), the row count, and the manifest
      // JSON line itself, byte-pinned like the driver texts. Map-side
      // key + ONE partial+final hash agg; nothing else moves.
      val pts = Synth.points(s, dir)
        .withColumn("tx", expr("CAST(floor((lon + 180.0D) / 360.0D * 4) AS BIGINT)"))
        .withColumn("ty", expr("CAST(floor((90.0D - lat) / 180.0D * 4) AS BIGINT)"))
        .withColumn("li", expr("CAST(lon * 1024.0D AS BIGINT)"))
        .withColumn("la", expr("CAST(lat * 1024.0D AS BIGINT)"))
      pts.groupBy("tx", "ty")
        .agg(count(lit(1)).as("n_rows"),
          min(col("li")).as("xmin_m"), max(col("li")).as("xmax_m"),
          min(col("la")).as("ymin_m"), max(col("la")).as("ymax_m"))
        .withColumn("manifest", format_string(
          """{"cell":"2/%d/%d","rows":%d,"bbox_1024":[%d,%d,%d,%d]}""",
          col("tx"), col("ty"), col("n_rows"),
          col("xmin_m"), col("ymin_m"), col("xmax_m"), col("ymax_m")))
    }),
    "q276_robots_match" -> ((s, dir) => {
      // Robots-exclusion LONGEST-MATCH verdict (public: RFC 9309 §2.2.2
      // — "the most specific match found MUST be used", the rule-set law
      // every crawl pipeline applies before fetching): deterministic
      // per-row URL paths match a 12-rule allow/deny table by longest
      // matching PREFIX (ties break allow, the RFC rule). Distributed
      // law: the URL explodes to its path-prefix chain (bounded by path
      // depth), equi-joins the BROADCAST rule table on the prefix, and
      // one argmax window per URL picks (len desc, allow desc) — never
      // a per-rule scan of the corpus, never a LIKE theta join.
      val rules = Seq(
        ("/", 1), ("/private/", 0), ("/private/share/", 1), ("/tmp/", 0),
        ("/api/", 0), ("/api/pub/", 1), ("/static/", 1), ("/static/int/", 0),
        ("/user/", 1), ("/user/admin/", 0), ("/data/", 0), ("/data/open/", 1))
      val spark = s
      import spark.implicits._
      val ruleDf = rules.toDF("prefix", "allow")
      val segs = Seq("private", "share", "tmp", "api", "pub", "static",
        "int", "user", "admin", "data", "open", "x")
      val urls = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("p1", expr(s"element_at(array(${segs.map("'" + _ + "'").mkString(",")}), CAST(q_id % 12 AS INT) + 1)"))
        // half the URLs (decided by a modulus INDEPENDENT of the p1 pick,
        // so every child rule can fire) descend into p1's OWN child, so the
        // two-level rules (/private/share/, /api/pub/, ...) genuinely
        // fire; otherwise p2 is an unrelated segment
        .withColumn("p2", expr(
          s"""CASE WHEN (q_id div 12) % 2 = 0 THEN
                CASE p1 WHEN 'private' THEN 'share' WHEN 'api' THEN 'pub'
                        WHEN 'static' THEN 'int' WHEN 'user' THEN 'admin'
                        WHEN 'data' THEN 'open' ELSE 'x' END
              ELSE element_at(array(${segs.map("'" + _ + "'").mkString(",")}), CAST((q_id * 5) % 12 AS INT) + 1) END"""))
        .withColumn("path", expr("concat('/', p1, '/', p2, '/page', CAST(q_id % 7 AS STRING))"))
      // prefix chain: '/', '/p1/', '/p1/p2/' (every boundary the rules
      // could sit on — rule prefixes here always end in '/')
      val cand = urls.select(col("q_id"), col("path"),
          explode(expr("array('/', concat('/', p1, '/'), concat('/', p1, '/', p2, '/'))")).as("prefix"))
        .join(broadcast(ruleDf), Seq("prefix"))
      val w = Window.partitionBy("q_id")
        .orderBy(length(col("prefix")).desc, col("allow").desc)
      cand.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("q_id"), col("path"), col("prefix").as("rule"),
          col("allow").cast("long").as("allow"))
    }),
    "q274_dissolve" -> ((s, dir) => {
      // DISSOLVE / ST_Union-by-attribute (the classic ogr2ogr + SQLite-
      // dialect aggregate-union workflow; reference: ogr/ogrsf_frmts/
      // sqlite :: OGR2SQLITE spatial functions): the synth boxes
      // dissolve into 16 attribute groups, the union folding LEFT-ASSOC
      // over (region_id)-sorted geometries. The grade is CROSS-DERIVED:
      // JTS area and total ring length of each dissolved geometry —
      // exact dyadic shoelace on the ε-shifted integer lattice — must
      // equal the oracle's INDEPENDENT covered-cell count and
      // boundary-edge count, so the union geometry, its holes, and both
      // measures confirm each other with no common code path. 100-TB
      // shape: one group agg; a mega-group cascades tile-local folds
      // (union is associative) — noted in the expression doc.
      // OPTIMIZATION r6 (VERDICT r5 #2): TWO-LEVEL union cascade. The
      // single-level fold collected EVERY group geometry into one
      // aggregation-buffer row — a hot attribute group at 100-TB scale
      // OOMs that buffer. Now tile-keyed partial unions (sub, each folded
      // in-task) feed a final fold of ≤64 partial geometries per group.
      // Union is associative+commutative and the grade is the dissolved
      // geometry's exact dyadic area/perimeter — invariant under fold
      // grouping (pinned by GeomCascadeSpec against the single fold).
      Synth.regionWkt(s, dir)
        .withColumn("g", col("region_id") % 16)
        .withColumn("sub", (col("region_id") / 16) % 16)
        .withColumn("geom", call_function("st_geomfromwkt", col("wkt")))
        .groupBy("g", "sub")
        .agg(count(lit(1)).as("n_part"),
          sort_array(collect_list(struct(col("region_id"), col("geom")))).as("gs"))
        .withColumn("pu", call_function("st_union_fold",
          expr("transform(gs, x -> x.geom)")))
        .groupBy("g")
        .agg(sum(col("n_part")).as("n_boxes"),
          sort_array(collect_list(struct(col("sub"), col("pu")))).as("ps"))
        .withColumn("u", call_function("st_union_fold",
          expr("transform(ps, x -> x.pu)")))
        .select(col("g"), col("n_boxes"),
          expr("CAST(st_area(u) AS BIGINT)").as("area_cells"),
          expr("CAST(st_length(u) AS BIGINT)").as("perim_units"))
    }),
    "q273_equalize" -> ((s, dir) => {
      // Histogram EQUALIZATION (reference: apps/gdalenhance.cpp — the
      // enhancement utility's -equalize mode; classic law: LUT[v] =
      // (cdf(v) − cdf_min)·255 div (N − cdf_min), all integer): over the
      // q122 synthetic 1024×64 raster, ONE value histogram (256-bounded
      // agg), a cumulative window over that tiny histogram, the scalar
      // cdf_min/N folded in via a 1-row cross join — never a per-pixel
      // second pass; the LUT is the graded artifact (256 rows) plus the
      // equalized-image weighted checksum Σ lut[v]·cnt[v] mod 65535.
      // 100-TB shape: per-pixel work is the map-side value projection;
      // everything after is value-space (≤ 256 rows).
      import org.apache.spark.sql.expressions.Window
      val px = s.range(0L, 65536L).toDF("i")
        .withColumn("gx", expr("i % 1024"))
        .withColumn("gy", expr("i div 1024"))
        .withColumn("v", expr(
          "((gx div 64) * 131 + (gy div 64) * 173 + (gx % 64) * 7 + (gy % 64) * 11 + 3) % 256"))
      val hist = px.groupBy("v").agg(count(lit(1)).as("cnt"))
      val wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cdf", sum(col("cnt")).over(wc))
      val mins = cum.agg(min(col("cdf")).as("cdf_min"), sum(col("cnt")).as("n"))
      cum.crossJoin(broadcast(mins))
        .withColumn("lut", expr("(cdf - cdf_min) * 255L div (n - cdf_min)"))
        .select(col("v"), col("cnt"), col("cdf"), col("lut"),
          expr("(lut * cnt) % 65535L").as("wsum_mod"))
    }),
    "q272_tile_modality_census" -> ((s, dir) => {
      // Interleaved-doc TILE MODALITY CENSUS — the north-star table's
      // per-tile content inventory (which zoom-8 tiles carry text
      // evidence, media evidence, or both: the co-location signal a
      // multimodal trainer samples by): text spans parse their WKT
      // point back to the tile grid, media spans parse their tile://
      // ref, and a TWO-LEVEL agg — (tile, doc) then tile — yields span
      // counts, EXACT distinct docs, and the modality verdict. 100-TB
      // shape: map-side span parsing (no join anywhere), two bounded
      // hash aggs; the doc-distinct level never holds more than one row
      // per (tile, doc).
      val spans = Synth.docs(s, dir)
        .select(col("doc_id"), posexplode(col("spans")).as(Seq("i", "sp")))
        .select(col("doc_id"), col("sp.kind").as("kind"),
          col("sp.text").as("text"), col("sp.media_ref").as("mr"))
      // OPTIMIZATION r6: parse the WKT point ONCE per text span (tx and
      // ty each re-parsed it); the CASE keeps the parse conditional on
      // kind exactly like the old when/otherwise branches
      val tiled = spans
        .withColumn("__pt", expr(
          "CASE WHEN kind = 'media' THEN NULL ELSE st_geomfromwkt(text) END"))
        .withColumn("tx", when(col("kind") === "media",
            expr("CAST(split(mr, '/')[3] AS BIGINT)"))
          .otherwise(expr(
            "CAST(floor((st_x(__pt) + 180.0D) / 360.0D * 512) AS BIGINT)")))
        .withColumn("ty", when(col("kind") === "media",
            expr("CAST(split(mr, '/')[4] AS BIGINT)"))
          .otherwise(expr(
            "CAST(floor((90.0D - st_y(__pt)) / 180.0D * 256) AS BIGINT)")))
      tiled.groupBy("tx", "ty", "doc_id")
        .agg(sum(when(col("kind") === "text", 1L).otherwise(0L)).as("nt"),
          sum(when(col("kind") === "media", 1L).otherwise(0L)).as("nm"))
        .groupBy("tx", "ty")
        .agg(sum(col("nt")).as("n_text"), sum(col("nm")).as("n_media"),
          count(lit(1)).as("n_docs"))
        .withColumn("modality", expr(
          """CASE WHEN n_text > 0 AND n_media > 0 THEN 'mixed'
             WHEN n_media > 0 THEN 'media' ELSE 'text' END"""))
    }),
    "q271_layout_audit" -> ((s, dir) => {
      // Storage-layout PRUNING AUDIT — Hilbert vs Z-order row-group
      // touch counts (the measurable version of q253's locality claim,
      // and the decision input for how a 100-TB tile table should be
      // key-sorted): on the full order-8 grid both curves are
      // bijections, so a tile's ROW GROUP under either layout is just
      // its curve index div 32 — closed form, no sort anywhere. Each
      // query rectangle explodes to its tiles and counts DISTINCT row
      // groups touched under each ordering; fewer groups = fewer
      // min-max-pruned reads. The audit MEASURES rather than assumes:
      // at this grid/box regime the curves tie on average (28 wins
      // each, 44 ties at sf0.01) — rectangle-query group counts are
      // near-equal between Hilbert and Morton, while Hilbert wins the
      // envelope-area clustering metric (CoreSpec's pin); both facts
      // inform the 100-TB layout choice. All integer, one bounded
      // explode + one per-query agg.
      val morton = (0 until 8).map(b =>
        s"(shiftleft(shiftright(tx, $b) & 1L, ${2 * b + 1}) + shiftleft(shiftright(ty, $b) & 1L, ${2 * b}))")
        .mkString(" + ")
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("x0", expr("(q_id * 37) % 230"))
        .withColumn("y0", expr("(q_id * 53) % 230"))
        .withColumn("w", expr("4L + q_id % 17"))
        .withColumn("h", expr("4L + q_id % 11"))
        .withColumn("tx", explode(expr("sequence(x0, x0 + w)")))
        .withColumn("ty", explode(expr("sequence(y0, y0 + h)")))
        .withColumn("hd", call_function("hilbert_d", col("tx"), col("ty"), lit(8)))
        .withColumn("md", expr(morton))
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_tiles"),
          countDistinct(expr("hd div 32L")).as("rg_hilbert"),
          countDistinct(expr("md div 32L")).as("rg_morton"))
    }),
    "q270_langid_confusion" -> ((s, dir) => {
      // Language-ID CONFUSION MATRIX — the evaluation half of q27 (every
      // production lang-ID gate ships with its confusion audit against
      // labeled data; CLD/fastText-lid papers report exactly this
      // table): corpus truth label × q27's n-gram-heuristic prediction,
      // with per-cell counts and the per-true-lang recall in exact ppm.
      // 100-TB shape: map-side predict, ONE (true, pred) hash agg
      // (5×6-bounded), a broadcast per-lang total joined back.
      val pred = s.read.parquet(s"$dir/documents.parquet")
        .select(col("lang"), F.lang_id(col("text")).as("pred_lang"))
      val cells = pred.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      val tot = cells.groupBy("lang").agg(sum(col("n")).as("nt"))
      cells.join(broadcast(tot), "lang")
        .select(col("lang"), col("pred_lang"), col("n"),
          expr("n * 1000000L div nt").as("cell_ppm"))
    }),
    "q268_kmv_sketch" -> ((s, dir) => {
      // KMV (k-minimum-values) distinct-count sketch (public: Bar-Yossef
      // et al. 2002 — the mergeable distinct-sketch family HLL belongs
      // to; KMV is the member whose estimate is EXACTLY replayable,
      // being a pure order statistic of deterministic hashes: est =
      // (k−1)·2^53 div h_(k) over the 53-bit mix64 uniform). Per
      // part-class group: sketch estimate NEXT TO exact distinct
      // supplier count, so the sketch error itself is graded. 100-TB
      // shape: one pair-distinct agg, a bounded top-k window (fan-in k
      // per group), one group agg; sketches merge by unioning hash sets
      // — the property that makes the family the distributed standard.
      val pairs = s.read.parquet(s"$dir/lineitem.parquet")
        .select(expr("CASE WHEN l_partkey % 2 = 0 THEN l_partkey % 256 ELSE 100000 + l_partkey END").as("grp"), col("l_suppkey")).distinct()
        .withColumn("h", expr("mix64(l_suppkey) & 9007199254740991L"))
      val w = Window.partitionBy("grp").orderBy(col("h"), col("l_suppkey"))
      val sk = pairs.withColumn("rn", row_number().over(w)).where(col("rn") <= 32)
        .groupBy("grp").agg(count(lit(1)).as("nk"), max(col("h")).as("hk"))
      val exact = pairs.groupBy("grp").agg(count(lit(1)).as("exact_n"))
      sk.join(exact, "grp")
        .select(col("grp"), col("exact_n"),
          expr("CASE WHEN nk < 32L THEN nk ELSE (31L * 9007199254740992L) div hk END")
            .as("est_n"))
    }),
    "q269_pagerank" -> ((s, dir) => {
      // Integer PageRank over the q263 road network (Brin & Page 1998 —
      // the link-quality prior web-corpus pipelines attach to documents;
      // operators/Network.pagerankInt): 10 damped rounds in exact micro
      // mass — floor-division contributions keep every sum BIGINT and
      // order-independent, so the oracle unrolls the identical ten
      // iterations and matches bit-for-bit (a float PageRank could not
      // be hash-graded: shuffle-order ULP drift).
      val (nodes, edges) = gnmEdges(s, dir)
      Network.pagerankInt(edges, nodes, iters = 10)
    }),
    "q262_domain_tv" -> ((s, dir) => {
      // Exact-integer TOTAL VARIATION distance between each source
      // domain's token unigram distribution and the whole corpus — the
      // domain-drift diagnostic behind mixture rebalancing (DoReMi-class
      // pipelines reweight domains by distributional divergence; TV is
      // the exactly-gradable family member: χ²/KL need per-term float
      // division, TV over the COMMON denominator N_d·N stays BIGINT):
      //   tv_milli = (Σ_t |o_t·N − c_t·N_d|) · 1000 div (2·N_d·N),
      // where corpus terms ABSENT from the domain contribute the closed
      // form N_d·(N − C_D) — no absent-pair materialization (C_D = the
      // domain's corpus-count mass). 100-TB shape: one (source, term)
      // hash agg, a vocab-bounded term agg, a term-keyed join back, the
      // tiny per-source table broadcast; only driver value is scalar N.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val toks = docs.select(col("source"), explode(
          split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("term"))
        .where(col("term") =!= "")
      val dom = toks.groupBy("source", "term").agg(count(lit(1)).as("o"))
        .transform(graft.io.Checkpoints.cached)
      val corp = dom.groupBy("term").agg(sum(col("o")).as("c"))
      val nd = dom.groupBy("source").agg(sum(col("o")).as("nd"))
      val nTotal = corp.agg(sum(col("c"))).collect()(0).getLong(0)
      dom.join(corp, "term").join(broadcast(nd), "source")
        .withColumn("dterm", abs(col("o") * nTotal - col("c") * col("nd")))
        .groupBy("source")
        .agg(max(col("nd")).as("nd"), sum(col("dterm")).as("dsum"), sum(col("c")).as("cd"))
        .select(col("source"), col("nd"),
          expr(s"(dsum + nd * (${nTotal}L - cd)) * 1000L div (2L * nd * ${nTotal}L)")
            .as("tv_milli"))
    }),
    "q261_geohash" -> ((s, dir) => {
      // Geohash cell keys (public: Niemeyer 2008; the base32 sibling of
      // the engine's Z-order/Hilbert families — same Morton interleave,
      // lon bit first, 5 bits per character): encode each query point to
      // 8 characters (20+20 bits) and DECODE the string back to the two
      // 20-bit indices — the graded output carries the decoded indices,
      // so an encode OR decode bug breaks the oracle equality (which
      // recomputes the indices from the raw arithmetic). All integer
      // bit ops after one identical-IEEE floor snap; bit-exact,
      // shuffle-free scan → codegen'd projection.
      val alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
      // char j covers interleaved bit positions 5j..5j+4 (0 = MSB);
      // even global position p → lon bit (19 - p/2), odd → lat bit
      def bitExpr(p: Int): String =
        if (p % 2 == 0) s"(shiftright(lonidx, ${19 - p / 2}) & 1L)"
        else s"(shiftright(latidx, ${19 - (p - 1) / 2}) & 1L)"
      val chars = (0 until 8).map { j =>
        val idx = (0 until 5).map(t => s"${bitExpr(5 * j + t)} * ${1L << (4 - t)}L").mkString(" + ")
        s"substring('$alpha', CAST(($idx) AS INT) + 1, 1)"
      }
      val ghExpr = s"concat(${chars.mkString(", ")})"
      // decode: alphabet position of char j contributes its 5 bits back
      val decBits = (0 until 8).flatMap { j =>
        (0 until 5).map { t =>
          val p = 5 * j + t
          val bit = s"(shiftright(CAST(instr('$alpha', substring(gh, ${j + 1}, 1)) - 1 AS BIGINT), ${4 - t}) & 1L)"
          (p, bit)
        }
      }
      val lonDec = decBits.filter(_._1 % 2 == 0)
        .map { case (p, b) => s"$b * ${1L << (19 - p / 2)}L" }.mkString(" + ")
      val latDec = decBits.filter(_._1 % 2 == 1)
        .map { case (p, b) => s"$b * ${1L << (19 - (p - 1) / 2)}L" }.mkString(" + ")
      Synth.queryPoints(s, dir)
        .withColumn("lonidx", expr("CAST(floor((lon + 180.0D) / 360.0D * 1048576.0D) AS BIGINT)"))
        .withColumn("latidx", expr("CAST(floor((lat + 90.0D) / 180.0D * 1048576.0D) AS BIGINT)"))
        // the +180/+90 edge: clamp the (impossible at this grid, but
        // lawful) idx == 2^20 case back into 20 bits
        .withColumn("lonidx", expr("least(lonidx, 1048575L)"))
        .withColumn("latidx", expr("least(latidx, 1048575L)"))
        .withColumn("gh", expr(ghExpr))
        .select(col("q_id"), col("gh"),
          expr(s"CAST($lonDec AS BIGINT)").as("lon_idx"),
          expr(s"CAST($latDec AS BIGINT)").as("lat_idx"))
    }),
    "q260_merge_upsert" -> ((s, dir) => {
      // Iceberg-style MERGE INTO / copy-on-write upsert on the CatalogIO
      // seam (S11; Iceberg spec v2 row-level ops): snap1 commits the base
      // document index; a batch of updates (doc_id % 7 — new fingerprint,
      // version 2) plus inserts (doc_id % 13 shifted ids) merges into
      // snap2 via ONE full-outer key shuffle with row-level source-wins;
      // the SECOND mergeStage call is a manifest no-op (idempotent
      // resume, graded by the read-back being single-merge). Oracle: the
      // full-outer-join law in SQL over the same fingerprint replay.
      val root = scratch("q260merge")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val base = docs.select(col("doc_id"), col("lang"),
        call_function("fingerprint64", col("text")).as("fp"), lit(1L).as("version"))
      graft.io.CatalogIO.commitStage(s, base, root, "job260", "snap1")
      val batch = docs.where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("lang"),
          call_function("fingerprint64", concat(col("text"), lit(" v2"))).as("fp"),
          lit(2L).as("version"))
        .unionByName(docs.where(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
            call_function("fingerprint64", col("text")).as("fp"), lit(1L).as("version")))
      graft.io.CatalogIO.mergeStage(s, batch, root, "job260", "snap1", "snap2", "doc_id")
      graft.io.CatalogIO.mergeStage(s, batch, root, "job260", "snap1", "snap2", "doc_id")
      graft.io.CatalogIO.readStage(s, root, "job260", "snap2")
        .select(col("doc_id"), col("lang"), col("fp"), col("version"))
    }),
    "q259_sinusoidal" -> ((s, dir) => {
      // Sinusoidal (MODIS grid) projection round trip (reference:
      // ogr/ogr_spatialref.cpp :: OGRSpatialReference::SetSinusoidal via
      // ogrct.cpp; Snyder pp. 243–248 spherical form — the projection of
      // the MODIS land tiles every gdalwarp MODIS workflow reprojects
      // from): x = R·λ·cosφ, y = R·φ on the MODIS authalic sphere
      // R = 6371007.181; inverse φ = y/R, λ = x/(R·cosφ). Pure
      // mul/div/cos chain — identical IEEE ops both engines, only
      // cos/toRadians ULPs remain, absorbed by cm / 1e-6-deg quanta.
      // Equal-area like q249 (the spec's Jacobian law re-applies). Plan:
      // scan → project, shuffle-free.
      Synth.queryPoints(s, dir)
        .withColumn("phi", expr("(lat / 180.0D) * pi()"))
        .withColumn("lam", expr("(lon / 180.0D) * pi()"))
        .withColumn("x", expr("6371007.181D * lam * cos(phi)"))
        .withColumn("y", expr("6371007.181D * phi"))
        .withColumn("phib", expr("y / 6371007.181D"))
        .withColumn("lamb", expr("x / (6371007.181D * cos(phib))"))
        .select(col("q_id"),
          expr("CAST(floor(x * 100.0D + 0.5D) AS BIGINT)").as("x_cm"),
          expr("CAST(floor(y * 100.0D + 0.5D) AS BIGINT)").as("y_cm"),
          expr("CAST(floor(((lamb * 180.0D) / pi()) * 1000000.0D + 0.3D) AS BIGINT)").as("lon_udeg"),
          expr("CAST(floor(((phib * 180.0D) / pi()) * 1000000.0D + 0.3D) AS BIGINT)").as("lat_udeg"))
    }),
    "q258_mmr_rerank" -> ((s, dir) =>
      // MMR diversified re-ranking (Carbonell & Goldstein 1998; λ=1/2,
      // exact BIGINT fixed-point objective — operators/Ann.mmrTopK):
      // top-20 relevance pool per query via the broadcast brute top-k,
      // then the greedy rel−max-sim selection of 5, every step
      // bit-replayed by the oracle's recursive CTE
      Ann.mmrTopK(
        s.read.parquet(s"$dir/embeddings.parquet").where(col("vec_id") % 100 === 0),
        "vec_id", "embedding",
        s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
        poolK = 20, outK = 5)),
    "q257_ogr_parse_date" -> ((s, dir) => {
      // OGR datetime field parsing (reference: ogr/ogrutils.cpp ::
      // OGRParseDate, the scanner behind every text driver's
      // Date/DateTime fields): six per-row format variants — '-' and '/'
      // separators, ' ' and 'T' time separators, date-only, fractional
      // seconds, and the 'Z' / '+HH:MM' / '-HH:MM' / bare '+HH' timezone
      // suffixes — parse back to components with the reference's TZFlag
      // encoding (100 = GMT, ±15-minute steps: +02:30→110, -05:00→80,
      // +03→112). Writer and parser graded together, all-integer,
      // UNQUANTIZED. Shuffle-free scan → project.
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("y", expr("CAST(1970 + q_id % 55 AS INT)"))
        .withColumn("mo", expr("CAST(1 + q_id % 12 AS INT)"))
        .withColumn("dd", expr("CAST(1 + q_id % 28 AS INT)"))
        .withColumn("hh", expr("CAST(q_id % 24 AS INT)"))
        .withColumn("mi", expr("CAST((q_id * 7) % 60 AS INT)"))
        .withColumn("ss", expr("CAST((q_id * 13) % 60 AS INT)"))
        .withColumn("str", expr(
          """CASE CAST(q_id % 6 AS INT)
             WHEN 0 THEN format_string('%04d-%02d-%02d %02d:%02d:%02d', y, mo, dd, hh, mi, ss)
             WHEN 1 THEN format_string('%04d/%02d/%02d %02d:%02d:%02d+02:30', y, mo, dd, hh, mi, ss)
             WHEN 2 THEN format_string('%04d-%02d-%02dT%02d:%02d:%02dZ', y, mo, dd, hh, mi, ss)
             WHEN 3 THEN format_string('%04d-%02d-%02d', y, mo, dd)
             WHEN 4 THEN format_string('%04d-%02d-%02d %02d:%02d:%02d-05:00', y, mo, dd, hh, mi, ss)
             ELSE format_string('%04d-%02d-%02d %02d:%02d:%02d.5+03', y, mo, dd, hh, mi, ss)
             END"""))
        .withColumn("p", call_function("ogr_parse_date", col("str")))
        .select(col("q_id"), col("str"),
          col("p.y").as("py"), col("p.m").as("pm"), col("p.d").as("pd"),
          col("p.hh").as("phh"), col("p.mi").as("pmi"),
          col("p.ss_milli").as("pss_milli"), col("p.tz").as("ptz"))
    }),
    "q256_ogr_vrt" -> ((s, dir) => {
      // OGR VRT virtual-vector driver (reference: ogr/ogrsf_frmts/vrt/
      // ogrvrtlayer.cpp :: OGRVRTLayer::FullInitialize): an XML layer
      // config — parsed ONCE at plan time through the shared tolerant
      // XML reader, exercising comments AND a CDATA description — maps a
      // CSV source's fields (rename name→label, v→metric) and
      // synthesizes point geometry from the lon/lat columns
      // (encoding="PointFromColumns"). Per row: RFC-4180 write →
      // quote-aware split → index shuffle → WKT parse-back; %.2f quarter
      // coordinates keep every leg bit-exact UNQUANTIZED (q142 law).
      // Shuffle-free scan → project.
      val vrt = """<?xml version="1.0"?>
<!-- VRT layer over the per-row CSV source -->
<OGRVRTDataSource>
  <OGRVRTLayer name="docs">
    <SrcDataSource relativeToVRT="1">features.csv</SrcDataSource>
    <Description><![CDATA[synthetic layer <for> the VRT driver]]></Description>
    <GeometryType>wkbPoint</GeometryType>
    <GeometryField encoding="PointFromColumns" x="lon" y="lat"/>
    <Field name="label" src="name" type="String"/>
    <Field name="metric" src="v" type="Integer"/>
  </OGRVRTLayer>
</OGRVRTDataSource>"""
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("lon", expr("CAST((q_id * 7919) % 1441 AS DOUBLE) / 4.0D - 180.0D"))
        .withColumn("lat", expr("CAST((q_id * 104729) % 641 AS DOUBLE) / 4.0D - 80.0D"))
        .withColumn("name", format_string("doc %d, \"t%d\"", col("q_id"), col("q_id") % 5))
        .withColumn("line", call_function("csv_line", array(
          col("q_id").cast("string"), col("name"),
          format_string("%.2f", col("lon")), format_string("%.2f", col("lat")),
          (col("q_id") % 97).cast("string"))))
        .withColumn("f", call_function("vrt_feature", col("line"),
          lit(vrt), lit("id,name,lon,lat,v")))
        .select(col("q_id"),
          expr("f[0]").as("layer"), expr("f[1]").as("label"),
          expr("CAST(f[2] AS BIGINT)").as("metric"),
          F.st_x(call_function("st_geomfromwkt", expr("f[3]"))).as("x"),
          F.st_y(call_function("st_geomfromwkt", expr("f[3]"))).as("y"))
    }),
    "q255_suggested_warp" -> ((s, dir) => {
      // GDALSuggestedWarpOutput (reference: alg/gdaltransformer.cpp ::
      // GDALSuggestedWarpOutput2 — the gdalwarp output-grid negotiation
      // every warp run starts with): sample the source edge ring (21
      // points per edge, the reference's density), transform to the dst
      // CRS (web mercator here), take the bbox; the suggested SQUARE
      // pixel size is transformed-corner-diagonal distance over source
      // diagonal pixel count; out size = bbox/pixel-size rounded with
      // the reference's (int)(x+0.5); dst GT anchors north-up at
      // (minX, maxY). 100-TB shape: per-raster edge ring explodes
      // map-side (84 rows/raster), ONE hash agg keyed by raster id, then
      // closed-form per-row math — negotiating a million rasters is one
      // shuffle of 84M 24-byte rows.
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("w", expr("20L * (1L + q_id % 4)"))
        .withColumn("h", expr("20L * (1L + q_id % 3)"))
        .withColumn("x0", expr("-100.0D + CAST(q_id % 9 AS DOUBLE) * 16.0D"))
        .withColumn("y0", expr("60.0D - CAST(q_id % 7 AS DOUBLE) * 12.0D"))
        .withColumn("i", explode(expr("sequence(0, 20)")))
        .withColumn("j", explode(expr("sequence(0, 3)")))
        .withColumn("px", expr(
          """CASE WHEN j < 2 THEN CAST(i AS DOUBLE) * CAST(w AS DOUBLE) / 20.0D
             WHEN j = 2 THEN 0.0D ELSE CAST(w AS DOUBLE) END"""))
        .withColumn("py", expr(
          """CASE WHEN j = 0 THEN 0.0D WHEN j = 1 THEN CAST(h AS DOUBLE)
             ELSE CAST(i AS DOUBLE) * CAST(h AS DOUBLE) / 20.0D END"""))
        .withColumn("lon", expr("x0 + px * 0.5D"))
        .withColumn("lat", expr("y0 + py * -0.5D"))
        .withColumn("mx", expr("lon * (pi() * 6378137.0D) / 180.0D"))
        .withColumn("my", expr("ln(tan((90.0D + lat) * pi() / 360.0D)) * 6378137.0D"))
        .groupBy("q_id", "w", "h", "x0", "y0")
        .agg(min("mx").as("minx"), max("mx").as("maxx"),
          min("my").as("miny"), max("my").as("maxy"))
        .withColumn("c1x", expr("x0 * (pi() * 6378137.0D) / 180.0D"))
        .withColumn("c1y", expr("ln(tan((90.0D + y0) * pi() / 360.0D)) * 6378137.0D"))
        .withColumn("c2x", expr("(x0 + CAST(w AS DOUBLE) * 0.5D) * (pi() * 6378137.0D) / 180.0D"))
        .withColumn("c2y", expr(
          "ln(tan((90.0D + (y0 + CAST(h AS DOUBLE) * -0.5D)) * pi() / 360.0D)) * 6378137.0D"))
        .withColumn("diag", expr(
          "sqrt((c2x - c1x) * (c2x - c1x) + (c2y - c1y) * (c2y - c1y))"))
        .withColumn("psize", expr(
          "diag / sqrt(CAST(w * w + h * h AS DOUBLE))"))
        .select(col("q_id"), col("w"), col("h"),
          expr("CAST(floor((maxx - minx) / psize + 0.5D) AS BIGINT)").as("npx"),
          expr("CAST(floor((maxy - miny) / psize + 0.5D) AS BIGINT)").as("npy"),
          expr("CAST(floor(psize * 1000000.0D + 0.5D) AS BIGINT)").as("psize_u"),
          expr("CAST(floor(minx * 100.0D + 0.5D) AS BIGINT)").as("gt_x0_cm"),
          expr("CAST(floor(maxy * 100.0D + 0.5D) AS BIGINT)").as("gt_y0_cm"))
    }),
    "q254_rotated_gt" -> ((s, dir) => {
      // ROTATED/SHEARED geotransform apply + invert (reference:
      // gcore/gdaltransformer.cpp :: GDALApplyGeoTransform +
      // GDALInvGeoTransform — the full 6-coefficient affine with nonzero
      // rotation terms GT[2]/GT[4], which the tile-grid rasters elsewhere
      // in this engine never exercise): per row a dyadic-exact sheared GT
      // maps integer pixel (px,py) → geo (X,Y) EXACTLY, then the
      // 2×2-inversion law (det, inv_det, the six inverse coefficients)
      // maps it back; the only rounding is the inv_det division chain,
      // identical IEEE ops on both engines, absorbed by the micro-pixel
      // quantum. Plan: scan → codegen'd projection, shuffle-free.
      s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("q_id"))
        .withColumn("x0", expr("-64.0D + CAST(q_id % 17 AS DOUBLE) / 4.0D"))
        .withColumn("dx", expr("0.25D + CAST(q_id % 5 AS DOUBLE) / 64.0D"))
        .withColumn("rx", expr("CAST(q_id % 9 - 4 AS DOUBLE) / 64.0D"))
        .withColumn("y0", expr("32.0D - CAST(q_id % 13 AS DOUBLE) / 8.0D"))
        .withColumn("ry", expr("CAST(q_id % 7 - 3 AS DOUBLE) / 64.0D"))
        .withColumn("dy", expr("-(0.25D + CAST(q_id % 3 AS DOUBLE) / 32.0D)"))
        .withColumn("px", expr("CAST(q_id % 50 AS DOUBLE)"))
        .withColumn("py", expr("CAST((q_id * 3) % 40 AS DOUBLE)"))
        .withColumn("gx", expr("x0 + px * dx + py * rx"))
        .withColumn("gy", expr("y0 + px * ry + py * dy"))
        .withColumn("det", expr("dx * dy - rx * ry"))
        .withColumn("inv_det", expr("1.0D / det"))
        .withColumn("g0", expr("(rx * y0 - dy * x0) * inv_det"))
        .withColumn("g1", expr("dy * inv_det"))
        .withColumn("g2", expr("-(rx) * inv_det"))
        .withColumn("g3", expr("(ry * x0 - dx * y0) * inv_det"))
        .withColumn("g4", expr("-(ry) * inv_det"))
        .withColumn("g5", expr("dx * inv_det"))
        .withColumn("pxb", expr("g0 + gx * g1 + gy * g2"))
        .withColumn("pyb", expr("g3 + gx * g4 + gy * g5"))
        .select(col("q_id"),
          expr("CAST(floor(gx * 1048576.0D + 0.5D) AS BIGINT)").as("gx_fx"),
          expr("CAST(floor(gy * 1048576.0D + 0.5D) AS BIGINT)").as("gy_fx"),
          expr("CAST(floor(pxb * 1000000.0D + 0.5D) AS BIGINT)").as("px_u"),
          expr("CAST(floor(pyb * 1000000.0D + 0.5D) AS BIGINT)").as("py_u"))
    }),
    "q253_hilbert_locality" -> ((s, dir) => {
      // Hilbert-curve cell keys (north star: "Hilbert/Z-order interleaved
      // cell keys"; core/Hilbert.xy2d — the rotate-and-flip bit walk):
      // each query point lands on the order-8 (256×256) geodetic tile
      // grid and gets its Hilbert index plus the index DELTA to the
      // east-neighbor tile — the locality signal that makes
      // Hilbert-sorted layouts tighten row-group min-max envelopes past
      // Z-order (HilbertLocalitySpec quantifies the advantage; the
      // oracle replays the full 8-level integer chain unrolled).
      // Plan: scan → codegen'd projection, shuffle-free.
      Synth.queryPoints(s, dir)
        .withColumn("tx", expr("CAST(floor((lon + 180.0D) / 360.0D * 256.0D) AS BIGINT)"))
        .withColumn("ty", expr("CAST(floor((90.0D - lat) / 180.0D * 256.0D) AS BIGINT)"))
        .withColumn("txr", expr("(tx + 1L) % 256L"))
        .withColumn("h", call_function("hilbert_d", col("tx"), col("ty"), lit(8)))
        .withColumn("hr", call_function("hilbert_d", col("txr"), col("ty"), lit(8)))
        .select(col("q_id"), col("tx"), col("ty"), col("h"),
          (col("hr") - col("h")).as("dh"))
    }),
    "q251_weighted_reservoir" -> ((s, dir) => {
      // A-Res weighted reservoir sampling WITHOUT replacement (Efraimidis
      // & Spirakis 2006 — the standard distributed weighted sampler; each
      // item draws key u^(1/w) and the k largest keys per stratum are the
      // sample, exactly equivalent to sequential weighted draws). The
      // per-doc uniform is the 53-bit mix64(doc_id) hash mapped into
      // (0, 1]; weights are POWER-OF-TWO length buckets (1/2/4/8), so
      // u^(1/w) is 0–3 applications of IEEE-754 sqrt — correctly rounded
      // in every engine — and the key is BIT-EXACT with zero
      // transcendental risk (the q244 sqrt discipline; an arbitrary-w
      // u^(1/w) would need pow/exp and per-engine ULP drift in the
      // ORDERING, not just the output).
      // 100-TB shape: key synthesis is map-side; a SALTED partial top-k
      // window (lang, um % S) prunes to ≤ S·k rows per stratum before
      // the exact per-stratum window — the top-k of the per-bucket
      // top-ks IS the global top-k (every global winner survives its own
      // bucket's cut), so the corpus never sorts on one stratum key and
      // a mega-stratum costs S bounded sorts.
      val k = 10; val salts = 8
      val keyed = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("w", expr(
          "CASE WHEN n_chars < 150 THEN 1L WHEN n_chars < 300 THEN 2L WHEN n_chars < 450 THEN 4L ELSE 8L END"))
        .withColumn("um", expr("mix64(doc_id) & 9007199254740991L"))
        .withColumn("u", expr("CAST(um + 1L AS DOUBLE) / 9007199254740992.0D"))
        .withColumn("key", expr(
          "CASE w WHEN 1L THEN u WHEN 2L THEN sqrt(u) WHEN 4L THEN sqrt(sqrt(u)) ELSE sqrt(sqrt(sqrt(u))) END"))
      val pre = Window.partitionBy(col("lang"), pmod(col("um"), lit(salts)))
        .orderBy(col("key").desc, col("doc_id"))
      val fin = Window.partitionBy("lang").orderBy(col("key").desc, col("doc_id"))
      keyed
        .withColumn("prank", row_number().over(pre)).where(col("prank") <= k)
        .withColumn("rnk", row_number().over(fin).cast("long")).where(col("rnk") <= k)
        .select(col("lang"), col("rnk"), col("doc_id"), col("w"),
          // key ∈ (0, 1] scaled by 2^52 — a pure exponent shift, so the
          // BIGINT is the key's exact leading bits on both engines
          expr("CAST(floor(key * 4503599627370496.0D) AS BIGINT)").as("key_f"))
    }),
    "q252_char_entropy" -> ((s, dir) => {
      // Character-distribution Shannon entropy — the gibberish /
      // low-diversity quality gate (keyboard-mash and repeated-char docs
      // score near 0 bits; natural prose sits ~4 bits/char): over the
      // fingerprint-law normalization (lower + whitespace collapse +
      // trim), H = −Σ p_c·ln(p_c) / ln 2 with the sum folded LEFT-ASSOC
      // over codepoint-SORTED distinct chars — a fixed op order both
      // engines replay; only ln ULPs remain, absorbed by the milli
      // quantum. 100-TB shape: pure map-side HOF chain (no explode, no
      // shuffle — the alphabet is bounded, so the per-doc
      // distinct×filter scan is O(|Σ|·n) flat compute inside codegen).
      graft.core.Par.fan(s.read.parquet(s"$dir/documents.parquet"))
        .withColumn("norm", expr("trim(regexp_replace(lower(text), '\\\\s+', ' '))"))
        .withColumn("n", expr("CAST(length(norm) AS BIGINT)"))
        .withColumn("cs", expr(
          "CASE WHEN n = 0 THEN CAST(array() AS ARRAY<STRING>) " +
            "ELSE transform(sequence(1, CAST(n AS INT)), i -> substring(norm, i, 1)) END"))
        .withColumn("ds", expr("array_sort(array_distinct(cs))"))
        .withColumn("ps", expr(
          "transform(ds, ch -> CAST(size(filter(cs, c -> c = ch)) AS DOUBLE) / CAST(n AS DOUBLE))"))
        .withColumn("ent", expr(
          "-(aggregate(transform(ps, p -> p * ln(p)), 0.0D, (acc, t) -> acc + t)) / ln(2.0D)"))
        .select(col("doc_id"), col("n").as("n_chars_norm"),
          expr("CAST(size(ds) AS BIGINT)").as("n_distinct"),
          expr("CAST(floor(ent * 1000.0D + 0.5D) AS BIGINT)").as("ent_milli"),
          expr("CASE WHEN CAST(floor(ent * 1000.0D + 0.5D) AS BIGINT) < 4000L THEN 'low' ELSE 'ok' END")
            .as("verdict"))
    }),
    "q247_best_of_n" -> ((s, dir) =>
      // Best-of-N rejection sampling (RAFT, Dong et al. 2023; the
      // rejection-sampling fine-tuning step of Llama-2-chat): candidates
      // group 8-per-prompt by doc_id div 8, a deterministic integer
      // reward scores each, and ONLY the argmax survives — ties broken
      // by lowest doc_id (the stable-keeper rule q169's dedup clusters
      // pin). Graded per candidate: keeper verdict + margin to the
      // keeper's reward (0 for the keeper itself). The window partitions
      // by the prompt key — fan-in bounded at N=8, never a global sort.
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), (col("doc_id") / 8).cast("long").as("prompt_id"),
          expr("(doc_id * 7919) % 256").as("reward"))
        .withColumn("best", max("reward").over(
          Window.partitionBy(col("prompt_id"))))
        .withColumn("keeper_id", min(when(col("reward") === col("best"),
          col("doc_id"))).over(Window.partitionBy(col("prompt_id"))))
        .select(col("prompt_id"), col("doc_id"), col("reward"),
          (col("doc_id") === col("keeper_id")).as("is_keeper"),
          (col("best") - col("reward")).as("margin")))
  )

  /** q35 oracle: full sieve replica in SQL — CCL by min-label
    * transitive closure (the q33 pattern), per-small largest-neighbor
    * targeting with the engine's (n_pixels, -label) tie-break, merge-chain
    * grouping by a SECOND recursive closure over the pointer edges (named
    * r2: DuckDB resolves nested recursive CTEs by name across CTE bodies,
    * so reusing `r` silently references the first closure), and the
    * surviving member's dn. Matches the engine bit-for-bit. */
  private def q35SieveSql: String = sieveSql(conn8 = false)

  /** q116 is q35 with the -8 stencil: the SAME sieve replica over the
    * 8-connected neighbor condition in BOTH the same-dn closure and the
    * different-label adjacency (the reference applies connectedness to
    * component building and merge targeting alike). */
  private def q116Sieve8Sql: String = sieveSql(conn8 = true)

  private def sieveSql(conn8: Boolean): String = {
    val adj =
      if (conn8)
        """((b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1)
           OR (b.gx = a.gx + 1 AND b.gy = a.gy + 1) OR (b.gx = a.gx + 1 AND b.gy = a.gy - 1))"""
      else
        """((b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1))"""
    s"""WITH px AS (
         SELECT gx.x AS gx, gy.y AS gy,
           ((gx.x // 8)*131 + (gy.y // 8)*173 + (gx.x % 8)*7 + (gy.y % 8)*11) % 16 AS v
         FROM generate_series(0, 31) gx(x), generate_series(0, 15) gy(y)),
       nodes AS (SELECT gx, gy, gy*32 + gx AS id, v // 4 AS dn FROM px),
       edges AS (
         SELECT a.id AS a, b.id AS b FROM nodes a JOIN nodes b
           ON a.dn = b.dn AND $adj
         UNION ALL
         SELECT b.id, a.id FROM nodes a JOIN nodes b
           ON a.dn = b.dn AND $adj),
       reach AS (
         WITH RECURSIVE r(id, root) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.a, r.root FROM r JOIN edges e ON e.b = r.id WHERE r.root < e.a
         ) SELECT * FROM r),
       lbl AS (SELECT id, min(root) AS label FROM reach GROUP BY id),
       comps AS (
         SELECT l.label, min(n.dn) AS dn, count(*) AS n_pixels,
           min(n.gx) AS min_gx, max(n.gx) AS max_gx, min(n.gy) AS min_gy, max(n.gy) AS max_gy
         FROM lbl l JOIN nodes n ON n.id = l.id GROUP BY 1),
       adjpairs AS (
         SELECT DISTINCT la.label AS la, lb.label AS lb
         FROM nodes a JOIN nodes b
           ON $adj
         JOIN lbl la ON la.id = a.id JOIN lbl lb ON lb.id = b.id
         WHERE la.label != lb.label),
       sym AS (SELECT la, lb FROM adjpairs UNION SELECT lb AS la, la AS lb FROM adjpairs),
       target AS (
         SELECT la AS label, lb AS merged_into FROM (
           SELECT s.la, s.lb,
             row_number() OVER (PARTITION BY s.la ORDER BY cb.n_pixels DESC, s.lb ASC) AS rn
           FROM sym s JOIN comps ca ON ca.label = s.la JOIN comps cb ON cb.label = s.lb
           WHERE ca.n_pixels < 3) WHERE rn = 1),
       medges AS (
         SELECT label AS a, merged_into AS b FROM target
         UNION ALL SELECT merged_into, label FROM target),
       greach AS (
         WITH RECURSIVE r2(id, root) AS (
           SELECT label, label FROM comps
           UNION
           SELECT e.a, r2.root FROM r2 JOIN medges e ON e.b = r2.id WHERE r2.root < e.a
         ) SELECT * FROM r2),
       grp AS (SELECT id AS label, min(root) AS g FROM greach GROUP BY id),
       finals AS (
         SELECT g, label AS final FROM (
           SELECT gr.g, c.label,
             row_number() OVER (PARTITION BY gr.g ORDER BY c.n_pixels DESC, c.label ASC) AS rn
           FROM grp gr JOIN comps c ON c.label = gr.label) WHERE rn = 1),
       merged AS (
         SELECT f.final AS flabel, c.dn, c.n_pixels, c.min_gx, c.max_gx, c.min_gy, c.max_gy
         FROM comps c JOIN grp gr ON gr.label = c.label JOIN finals f ON f.g = gr.g),
       picked AS (
         SELECT c.label AS flabel, c.dn FROM comps c JOIN finals f ON f.final = c.label)
       SELECT m.flabel AS label, CAST(p.dn AS DOUBLE) AS dn,
         CAST(sum(m.n_pixels) AS BIGINT) AS n_pixels,
         min(m.min_gx) AS min_gx, max(m.max_gx) AS max_gx,
         min(m.min_gy) AS min_gy, max(m.max_gy) AS max_gy
       FROM merged m JOIN picked p USING (flabel)
       GROUP BY 1, 2 ORDER BY 1"""
  }

  /** Shared q41/q42 oracle body: marching-squares segments at level 7.5
    * over the zoom-2 grid with reduced-rational endpoints (exactly
    * core.Contour's arithmetic). q41 selects it directly; q42 packs the
    * engine's seg_id and runs endpoint-equality connected components. */
  private def contourSegmentsSql: String = contourSegmentsSqlFor(15L)

  /** The q41 marching-squares oracle parameterized by the half-integer
    * level (level = lvl/2): corner tests 2*v >= lvl, crossing numerators
    * (lvl - 2*v), saddle mean test sum >= 2*lvl. The idx bitmask 15 in
    * NOT IN (0, 15) is the all-corners mask, NOT the level. */
  private def contourSegmentsSqlFor(lvl: Long): String =
    s"""WITH b AS (
           SELECT gx.x AS gx, gy.y AS gy
           FROM generate_series(0, 62) gx(x), generate_series(0, 30) gy(y)),
         c AS (
           SELECT gx, gy,
             ((gx//8)*131 + (gy//8)*173 + (gx%8)*7 + (gy%8)*11) % 16 AS v00,
             (((gx+1)//8)*131 + (gy//8)*173 + ((gx+1)%8)*7 + (gy%8)*11) % 16 AS v10,
             ((gx//8)*131 + ((gy+1)//8)*173 + (gx%8)*7 + ((gy+1)%8)*11) % 16 AS v01,
             (((gx+1)//8)*131 + ((gy+1)//8)*173 + ((gx+1)%8)*7 + ((gy+1)%8)*11) % 16 AS v11
           FROM b),
         i AS (
           SELECT *,
             (CASE WHEN 2*v00 >= $lvl THEN 1 ELSE 0 END) + (CASE WHEN 2*v10 >= $lvl THEN 2 ELSE 0 END)
           + (CASE WHEN 2*v11 >= $lvl THEN 4 ELSE 0 END) + (CASE WHEN 2*v01 >= $lvl THEN 8 ELSE 0 END) AS idx
           FROM c WHERE (CASE WHEN 2*v00 >= $lvl THEN 1 ELSE 0 END) + (CASE WHEN 2*v10 >= $lvl THEN 2 ELSE 0 END)
           + (CASE WHEN 2*v11 >= $lvl THEN 4 ELSE 0 END) + (CASE WHEN 2*v01 >= $lvl THEN 8 ELSE 0 END) NOT IN (0, 15)),
         pts0 AS (
           SELECT gx, gy, e.e AS edge,
             CASE e.e WHEN 'T' THEN gx*(2*(v10-v00)) + ($lvl - 2*v00)
                      WHEN 'B' THEN gx*(2*(v11-v01)) + ($lvl - 2*v01)
                      WHEN 'R' THEN gx + 1 ELSE gx END AS xn,
             CASE e.e WHEN 'T' THEN 2*(v10-v00)
                      WHEN 'B' THEN 2*(v11-v01) ELSE 1 END AS xd,
             CASE e.e WHEN 'L' THEN gy*(2*(v01-v00)) + ($lvl - 2*v00)
                      WHEN 'R' THEN gy*(2*(v11-v10)) + ($lvl - 2*v10)
                      WHEN 'B' THEN gy + 1 ELSE gy END AS yn,
             CASE e.e WHEN 'L' THEN 2*(v01-v00)
                      WHEN 'R' THEN 2*(v11-v10) ELSE 1 END AS yd
           FROM i, (VALUES ('T'), ('R'), ('B'), ('L')) e(e)),
         pts AS (
           SELECT gx, gy, edge,
             (CASE WHEN xd < 0 THEN -xn ELSE xn END) // gcd(abs(xn), abs(xd)) AS xn,
             (CASE WHEN xd < 0 THEN -xd ELSE xd END) // gcd(abs(xn), abs(xd)) AS xd,
             (CASE WHEN yd < 0 THEN -yn ELSE yn END) // gcd(abs(yn), abs(yd)) AS yn,
             (CASE WHEN yd < 0 THEN -yd ELSE yd END) // gcd(abs(yn), abs(yd)) AS yd
           FROM pts0),
         s AS (
           SELECT i.gx, i.gy, i.idx, sg.si AS seg_idx, sg.a AS ea, sg.b AS eb
           FROM i, unnest(CASE
             WHEN idx IN (1, 14) THEN [{'si': 0, 'a': 'L', 'b': 'T'}]
             WHEN idx IN (2, 13) THEN [{'si': 0, 'a': 'T', 'b': 'R'}]
             WHEN idx IN (4, 11) THEN [{'si': 0, 'a': 'R', 'b': 'B'}]
             WHEN idx IN (8, 7)  THEN [{'si': 0, 'a': 'B', 'b': 'L'}]
             WHEN idx IN (3, 12) THEN [{'si': 0, 'a': 'L', 'b': 'R'}]
             WHEN idx IN (6, 9)  THEN [{'si': 0, 'a': 'T', 'b': 'B'}]
             WHEN idx = 5 AND v00+v10+v01+v11 >= ${2 * lvl}
               THEN [{'si': 0, 'a': 'L', 'b': 'T'}, {'si': 1, 'a': 'R', 'b': 'B'}]
             WHEN idx = 5
               THEN [{'si': 0, 'a': 'T', 'b': 'R'}, {'si': 1, 'a': 'B', 'b': 'L'}]
             WHEN idx = 10 AND v00+v10+v01+v11 >= ${2 * lvl}
               THEN [{'si': 0, 'a': 'T', 'b': 'R'}, {'si': 1, 'a': 'B', 'b': 'L'}]
             ELSE [{'si': 0, 'a': 'L', 'b': 'T'}, {'si': 1, 'a': 'R', 'b': 'B'}]
             END) t(sg))
         SELECT s.gx, s.gy, CAST(s.idx AS INT) AS case_idx, CAST(s.seg_idx AS INT) AS seg_idx,
           a.xn AS x0n, a.xd AS x0d, a.yn AS y0n, a.yd AS y0d,
           b.xn AS x1n, b.xd AS x1d, b.yn AS y1n, b.yd AS y1d
         FROM s
         JOIN pts a ON a.gx = s.gx AND a.gy = s.gy AND a.edge = s.ea
         JOIN pts b ON b.gx = s.gx AND b.gy = s.gy AND b.edge = s.eb"""

  /** q42 oracle: stitch = connected components of the segment graph
    * (segments adjacent iff they share a reduced-rational endpoint),
    * polyline_id = min member seg_id with the engine's bit-packed id
    * (gy<<31 | gx)<<2 | seg_idx, n_segments = component size. */
  private def q42StitchSql: String =
    s"""WITH segs AS ($contourSegmentsSql),
       sid AS (
         SELECT *, (gy * 2147483648 + gx) * 4 + seg_idx AS seg_id FROM segs),
       ep AS (
         SELECT seg_id, x0n AS xn, x0d AS xd, y0n AS yn, y0d AS yd FROM sid
         UNION ALL
         SELECT seg_id, x1n, x1d, y1n, y1d FROM sid),
       edges0 AS (
         SELECT DISTINCT a.seg_id AS a, b.seg_id AS b
         FROM ep a JOIN ep b
           ON a.xn = b.xn AND a.xd = b.xd AND a.yn = b.yn AND a.yd = b.yd
         WHERE a.seg_id < b.seg_id),
       edges AS (SELECT a, b FROM edges0 UNION ALL SELECT b AS a, a AS b FROM edges0),
       reach AS (
         WITH RECURSIVE rr(id, root) AS (
           SELECT seg_id, seg_id FROM sid
           UNION
           SELECT e.a, rr.root FROM rr JOIN edges e ON e.b = rr.id WHERE rr.root < e.a
         ) SELECT * FROM rr),
       lbl AS (SELECT id, min(root) AS polyline_id FROM reach GROUP BY id)
       SELECT polyline_id, count(*) AS n_segments FROM lbl GROUP BY 1"""

  /** q57 oracle: full ordered-polyline replica. Every marching-squares
    * vertex has degree ≤ 2 (one crossing per block edge, shared by exactly
    * 2 blocks; crossings never land on grid nodes at half-integer levels
    * over integer data), so the engine's walk is a FORCED successor chain:
    * start at the smallest degree-1 endpoint (open) or smallest endpoint
    * (ring; first hop toward the smaller neighbor), then always leave via
    * the segment not used to arrive, stopping at a dead end (open) or on
    * return to start (ring). Exact rational point ordering via the integer
    * key xn·(L/xd)·2·10^14 + yn·(L/yd) with L = lcm(1..30) (denominators
    * are reduced 2·Δv with |Δv| ≤ 15·2, so xd|L), lifted to HUGEINT.
    * MATERIALIZED on the walk's upstream chain is load-bearing: without it
    * DuckDB re-evaluates the (recursive) reach closure on every walk
    * iteration — minutes instead of seconds. */
  private def q57PolylinesSql: String =
    s"""WITH segs AS ($contourSegmentsSql),
       sid AS (
         SELECT *, (gy * 2147483648 + gx) * 4 + seg_idx AS seg_id FROM segs),
       ep AS (
         SELECT seg_id, 0 AS side, x0n AS xn, x0d AS xd, y0n AS yn, y0d AS yd FROM sid
         UNION ALL
         SELECT seg_id, 1, x1n, x1d, y1n, y1d FROM sid),
       epk AS (
         SELECT *, CAST(xn * (2329089562800 // xd) AS HUGEINT) * 200000000000000
                   + yn * (2329089562800 // yd) AS k
         FROM ep),
       adj AS (
         SELECT a.seg_id, a.k AS kf, b.k AS kt,
                b.xn AS txn, b.xd AS txd, b.yn AS tyn, b.yd AS tyd
         FROM epk a JOIN epk b ON a.seg_id = b.seg_id AND a.side <> b.side),
       deg AS MATERIALIZED (SELECT kf AS k, count(*) AS d FROM adj GROUP BY 1),
       edges0 AS (
         SELECT DISTINCT a.seg_id AS a, b.seg_id AS b
         FROM epk a JOIN epk b ON a.k = b.k WHERE a.seg_id < b.seg_id),
       edges AS (SELECT a, b FROM edges0 UNION ALL SELECT b AS a, a AS b FROM edges0),
       reach AS (
         WITH RECURSIVE rr(id, root) AS (
           SELECT seg_id, seg_id FROM sid
           UNION
           SELECT e.a, rr.root FROM rr JOIN edges e ON e.b = rr.id WHERE rr.root < e.a
         ) SELECT * FROM rr),
       lbl AS MATERIALIZED (SELECT id AS seg_id, min(root) AS pid FROM reach GROUP BY 1),
       adjl AS MATERIALIZED (
         SELECT l.pid, a.* FROM adj a JOIN lbl l ON l.seg_id = a.seg_id),
       comp AS (
         SELECT a.pid,
           min(CASE WHEN d.d = 1 THEN a.kf END) AS k1,
           min(a.kf) AS kall
         FROM adjl a JOIN deg d ON d.k = a.kf
         GROUP BY 1),
       starts AS MATERIALIZED (
         SELECT pid, coalesce(k1, kall) AS ks, (k1 IS NULL) AS closed FROM comp),
       firsts AS MATERIALIZED (
         SELECT pid, seg_id, kt, txn, txd, tyn, tyd FROM (
           SELECT s.pid, a.seg_id, a.kt, a.txn, a.txd, a.tyn, a.tyd,
             row_number() OVER (PARTITION BY s.pid ORDER BY a.kt, a.seg_id) AS rn
           FROM starts s JOIN adjl a ON a.pid = s.pid AND a.kf = s.ks)
         WHERE rn = 1),
       walk AS (
         WITH RECURSIVE ww(pid, seq, seg_id, k, xn, xd, yn, yd) AS (
           SELECT f.pid, CAST(1 AS BIGINT), f.seg_id, f.kt,
                  f.txn, f.txd, f.tyn, f.tyd
           FROM firsts f
           UNION ALL
           SELECT ww.pid, ww.seq + 1, a.seg_id, a.kt, a.txn, a.txd, a.tyn, a.tyd
           FROM ww
           JOIN starts s ON s.pid = ww.pid
           JOIN adjl a ON a.pid = ww.pid AND a.kf = ww.k AND a.seg_id <> ww.seg_id
           WHERE NOT (s.closed AND ww.k = s.ks)
         ) SELECT * FROM ww),
       verts AS (
         SELECT pid, seq, xn, xd, yn, yd FROM walk
         UNION ALL
         SELECT s.pid, CAST(0 AS BIGINT), e.xn, e.xd, e.yn, e.yd
         FROM starts s JOIN (SELECT DISTINCT k, xn, xd, yn, yd FROM epk) e
           ON e.k = s.ks)
       SELECT v.pid AS polyline_id, v.seq, v.xn, v.xd, v.yn, v.yd, s.closed
       FROM verts v JOIN starts s ON s.pid = v.pid"""

  /** q34 oracle: full shell+holes ring replica over the zoom-1 mask grid.
    * The engine's rightmost-turn boundary walk (Ccl.traceRings) is a
    * STATIC successor permutation on the directed boundary edges: at a
    * checkerboard pinch vertex the two incomings' rightmost choices are
    * always distinct, so edge consumption never alters a choice and each
    * ring is an orbit of succ. Orbit root = min (vy,vx,dir) edge (the
    * engine's start order); a vertex is emitted where the direction
    * changes; shell = max |shoelace|, ties and hole order by trace order. */
  private def q34RingsSql: String =
    """WITH px AS (
         SELECT (t.tx * 8 + i.i % 8) AS gx, (t.ty * 8 + i.i // 8) AS gy,
                (t.tx*131 + t.ty*173 + (i.i % 8)*7 + (i.i // 8)*11) % 16 AS v
         FROM (SELECT gx.x AS tx, gy.y AS ty
               FROM generate_series(0, 3) gx(x), generate_series(0, 1) gy(y)) t,
              generate_series(0, 63) i(i)),
       nodes AS (SELECT gx, gy, gy * 32 + gx AS id FROM px WHERE v < 7),
       cedges AS (
         SELECT a.id AS a, b.id AS b FROM nodes a JOIN nodes b
           ON (b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1)
         UNION ALL
         SELECT b.id AS a, a.id AS b FROM nodes a JOIN nodes b
           ON (b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1)),
       reach AS (
         WITH RECURSIVE rr(id, root) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.a, rr.root FROM rr JOIN cedges e ON e.b = rr.id WHERE rr.root < e.a
         ) SELECT * FROM rr),
       lbl AS (SELECT id, min(root) AS label FROM reach GROUP BY id),
       npx AS (SELECT n.gx, n.gy, l.label FROM lbl l JOIN nodes n ON n.id = l.id),
       de AS (
         SELECT p.label, p.gx AS vx, p.gy AS vy, 0 AS d FROM npx p
           WHERE NOT EXISTS (SELECT 1 FROM nodes q WHERE q.gx = p.gx AND q.gy = p.gy - 1)
         UNION ALL
         SELECT p.label, p.gx + 1, p.gy, 1 FROM npx p
           WHERE NOT EXISTS (SELECT 1 FROM nodes q WHERE q.gx = p.gx + 1 AND q.gy = p.gy)
         UNION ALL
         SELECT p.label, p.gx + 1, p.gy + 1, 2 FROM npx p
           WHERE NOT EXISTS (SELECT 1 FROM nodes q WHERE q.gx = p.gx AND q.gy = p.gy + 1)
         UNION ALL
         SELECT p.label, p.gx, p.gy + 1, 3 FROM npx p
           WHERE NOT EXISTS (SELECT 1 FROM nodes q WHERE q.gx = p.gx - 1 AND q.gy = p.gy)),
       dek AS MATERIALIZED (
         SELECT *, (vy * 64 + vx) * 4 + d AS ek,
           vx + CASE d WHEN 0 THEN 1 WHEN 2 THEN -1 ELSE 0 END AS hx,
           vy + CASE d WHEN 1 THEN 1 WHEN 3 THEN -1 ELSE 0 END AS hy
         FROM de),
       succ AS MATERIALIZED (
         SELECT e.ek, f.ek AS nek FROM dek e JOIN dek f
           ON f.label = e.label AND f.vx = e.hx AND f.vy = e.hy
         QUALIFY row_number() OVER (PARTITION BY e.ek
           ORDER BY (f.d - e.d - 1 + 8) % 4) = 1),
       redges0 AS (SELECT ek AS a, nek AS b FROM succ),
       redges AS (SELECT a, b FROM redges0 UNION ALL SELECT b AS a, a AS b FROM redges0),
       rreach AS (
         WITH RECURSIVE r2(id, root) AS (
           SELECT ek, ek FROM dek
           UNION
           SELECT e.a, r2.root FROM r2 JOIN redges e ON e.b = r2.id WHERE r2.root < e.a
         ) SELECT * FROM r2),
       rring AS MATERIALIZED (SELECT id AS ek, min(root) AS ring_root FROM rreach GROUP BY 1),
       rwalk AS (
         WITH RECURSIVE w2(root, step, ek) AS (
           SELECT ring_root, CAST(0 AS BIGINT), ring_root
           FROM (SELECT DISTINCT ring_root FROM rring)
           UNION ALL
           SELECT w2.root, w2.step + 1, s.nek FROM w2 JOIN succ s ON s.ek = w2.ek
           WHERE s.nek <> w2.root
         ) SELECT * FROM w2),
       rw AS (
         SELECT w.root, w.step, e.label, e.vx, e.vy, e.d,
           lag(e.d) OVER (PARTITION BY w.root ORDER BY w.step) AS pd
         FROM rwalk w JOIN dek e ON e.ek = w.ek),
       rvs AS (
         SELECT root, label, vx, vy,
           row_number() OVER (PARTITION BY root ORDER BY step) - 1 AS seq
         FROM rw WHERE pd IS NULL OR d <> pd),
       rarea AS (
         SELECT r.ring_root AS root, sum(e.vx * e.hy - e.hx * e.vy) AS a2
         FROM rring r JOIN dek e ON e.ek = r.ek
         GROUP BY 1),
       rmeta AS (
         SELECT m.label, ra.root, ra.a2
         FROM rarea ra JOIN (SELECT DISTINCT root, label FROM rvs) m ON m.root = ra.root),
       r1x AS (
         SELECT label, root,
           row_number() OVER (PARTITION BY label ORDER BY abs(a2) DESC, root) AS rn
         FROM rmeta),
       ridx AS (
         SELECT label, root, CASE WHEN rn = 1 THEN 0 ELSE hrank END AS ring FROM (
           SELECT label, root, rn,
             row_number() OVER (PARTITION BY label, rn = 1 ORDER BY root) AS hrank
           FROM r1x))
       SELECT x.label, CAST(x.ring AS BIGINT) AS ring, v.seq,
         CAST(v.vx AS BIGINT) AS x, CAST(v.vy AS BIGINT) AS y
       FROM rvs v JOIN ridx x ON x.root = v.root"""

  /** q74 oracle: closed-form cutline-blend replica. mask from the q61 box
    * rule; edge8 via 8 clamped neighbors; min-d² by expanding boundary
    * targets over the ≤ blend² offset disk; milli-weights replicate the
    * engine's floor(500 ± (500·sqrt(d²))/6) IEEE op order exactly. */
  private def q74CutlineBlendSql: String = {
    def maskOf(cx: String, cy: String): String =
      s"CASE WHEN (($cx) >= 100 AND ($cx) < 300 AND ($cy) >= 50 AND ($cy) < 200) " +
        s"OR (($cx) >= 600 AND ($cx) < 800 AND ($cy) >= 100 AND ($cy) < 400) " +
        s"OR (($cx) >= 40 AND ($cx) < 90 AND ($cy) >= 400 AND ($cy) < 470) THEN 1 ELSE 0 END"
    val nbrMask = maskOf("least(1023, greatest(0, p.gx + o.dx))",
      "least(511, greatest(0, p.gy + o.dy))")
    s"""WITH tiles AS (
         SELECT gx.x AS tx, gy.y AS ty
         FROM generate_series(0, 15) gx(x), generate_series(0, 7) gy(y)),
       px AS (
         SELECT t.tx, t.ty, i.i AS i,
           t.tx*64 + (i.i % 64) AS gx, t.ty*64 + (i.i // 64) AS gy,
           (t.tx*131 + t.ty*173 + (i.i % 64)*7 + (i.i // 64)*11 + 3) % 256 AS v
         FROM tiles t, generate_series(0, 4095) i(i)),
       m AS (SELECT *, ${maskOf("gx", "gy")} AS mask FROM px),
       edgepix AS (
         SELECT p.gx AS gx, p.gy AS gy,
           max(CASE WHEN ($nbrMask) != p.mask THEN 1 ELSE 0 END) AS edge
         FROM m p, (VALUES (-1,-1),(0,-1),(1,-1),(-1,0),(1,0),(-1,1),(0,1),(1,1)) o(dx,dy)
         GROUP BY 1, 2),
       me AS (SELECT m.*, e.edge FROM m JOIN edgepix e USING (gx, gy)),
       offs AS (
         SELECT dx.d AS dx, dy.d AS dy, dx.d*dx.d + dy.d*dy.d AS d2
         FROM generate_series(-6, 6) dx(d), generate_series(-6, 6) dy(d)
         WHERE dx.d*dx.d + dy.d*dy.d <= 36),
       dout AS (
         SELECT t.gx + o.dx AS gx, t.gy + o.dy AS gy, min(o.d2) AS d2o
         FROM me t, offs o WHERE t.mask = 0 AND t.edge = 1 GROUP BY 1, 2),
       din AS (
         SELECT t.gx + o.dx AS gx, t.gy + o.dy AS gy, min(o.d2) AS d2i
         FROM me t, offs o WHERE t.mask = 1 AND t.edge = 1 GROUP BY 1, 2),
       wgt AS (
         SELECT me.tx, me.ty, me.i, me.v,
           CASE WHEN me.mask = 1 THEN
             CASE WHEN d.d2o IS NULL THEN 1000
                  ELSE CAST(floor(500.0 + (500.0 * sqrt(CAST(d.d2o AS DOUBLE))) / 6.0) AS BIGINT) END
           ELSE
             CASE WHEN n.d2i IS NULL THEN 0
                  ELSE CAST(floor(500.0 - (500.0 * sqrt(CAST(n.d2i AS DOUBLE))) / 6.0) AS BIGINT) END
           END AS w_milli
         FROM me LEFT JOIN dout d USING (gx, gy) LEFT JOIN din n USING (gx, gy))
       SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
         CAST(sum((CAST(v AS BIGINT) * w_milli) * (i % 49 + 1)) % 65535 AS INT) AS cks
       FROM wgt GROUP BY 1, 2"""
  }

  /** Shared q61/q74 cutline fixture: three boxes on the integer zoom-3
    * pixel grid (dyadic 45/128-degree coords → exact WKT round-trip). */
  private def cutBoxes(s: SparkSession): DataFrame = {
    val c = 45.0 / 128.0
    val boxesPx = Seq((1L, 100L, 50L, 300L, 200L), (2L, 600L, 100L, 800L, 400L),
      (3L, 40L, 400L, 90L, 470L))
    import s.implicits._
    boxesPx.toDF("cut_id", "x0", "y0", "x1", "y1")
      .withColumn("geom", F.st_geomfromwkt(format_string(
        "POLYGON((%.10f %.10f, %.10f %.10f, %.10f %.10f, %.10f %.10f, %.10f %.10f))",
        lit(-180.0) + col("x0") * c, lit(90.0) - col("y0") * c,
        lit(-180.0) + col("x1") * c, lit(90.0) - col("y0") * c,
        lit(-180.0) + col("x1") * c, lit(90.0) - col("y1") * c,
        lit(-180.0) + col("x0") * c, lit(90.0) - col("y1") * c,
        lit(-180.0) + col("x0") * c, lit(90.0) - col("y0") * c)))
  }

  /** Shared q56/q67 candidate builder (gdalgrid's search ellipse as a
    * cell-disk explode): zoom-5 grid cells within radius 8192 units
    * (8 deg) of each point, with integer-unit coords and exact d2 —
    * point-side explode, one hash aggregate, no shuffle of the grid. */
  /** q220/q239 shared fastText-feature law, map-only form (OPTIMIZATION
    * r6): the 1-element outer array binds the token array once, so the
    * tokenize → bigram-concat → hash64 chain evaluates exactly once per
    * document even though two downstream expressions consume it
    * (explode/Generate materializes the hash array as a real attribute —
    * the q187 evaluate-once discipline). Callers explode this and read
    * the ARRAY<BIGINT> element as `hs`. */
  private val q220HashArr: org.apache.spark.sql.Column = expr(
    """transform(array(filter(split(trim(regexp_replace(lower(text), '\\s+', ' ')), ' '),
                              t -> t <> '')),
         tk -> transform(concat(tk, CASE WHEN size(tk) >= 2
             THEN transform(sequence(1, size(tk) - 1),
               i -> concat(element_at(tk, i), '_', element_at(tk, i + 1)))
             ELSE CAST(array() AS ARRAY<STRING>) END),
           f -> hash64(f)))""")

  /** The q220 dot product folded per row over `hs` (see q220HashArr):
    * Σ sign(h)·w(dim(h)) — equal to the original tf→sv→dim-sum→weighted
    * sum pipeline by linearity, in exact BIGINT arithmetic. */
  private val q220Dot: org.apache.spark.sql.Column = expr(
    """aggregate(hs, 0L, (acc, h) ->
         acc + (CASE WHEN (shiftright(h, 5) & 1) = 0 THEN 1L ELSE -1L END)
             * ((((h % 32) + 32) % 32) * 7919 % 31 - 15))""")

  /** The gdal_grid invdist queries (q56, q141, q150): weight each
    * [[gridCandidates]] pair by the BIGINT expression `weight` over `d2`,
    * then one aggregate per cell gives the count and the weighted mean
    * in thousandths (`idw_milli`). */
  private def gridIdw(s: SparkSession, dir: String, weight: String): DataFrame =
    gridCandidates(s, dir)
      .withColumn("w", expr(weight))
      .groupBy("tx", "ty")
      .agg(count(lit(1)).as("n"),
        sum(col("v") * col("w")).as("num"), sum(col("w")).as("den"))
      .select(col("tx"), col("ty"), col("n"),
        expr("(num * 1000L) div den").as("idw_milli"))

  private def gridCandidates(s: SparkSession, dir: String): DataFrame = {
    // fan: lineitem is one scan split (single row group), and this whole
    // pipeline — 25-cell disk explode + radius filter + partial agg — is
    // map-side work before the one exchange, i.e. single-core without the
    // repartition (guide §2.5). Identity at real scale.
    graft.core.Par.fan(Synth.points(s, dir)).select(
        col("l_quantity").cast("long").as("v"),
        ((col("lon") + 180.0) * 1024).cast("long").as("ix"),
        ((lit(90.0) - col("lat")) * 1024).cast("long").as("iy"),
        F.cell_encode(col("lon"), col("lat"), lit(5)).as("pcell"))
      // OPTIMIZATION r6 (guide §2.3 "shuffle fewer bytes" applied to the
      // explode): the radius gate proves a disk radius of 1 suffices — a
      // point in cell p lies in [p·5760, (p+1)·5760), so its distance to
      // an offset-2 cell center is ≥ 2·5760 + 2880 − 5759 = 8641 > 8192,
      // i.e. every offset-2 candidate ALWAYS failed the d2 filter. The
      // 9-cell disk emits exactly the surviving candidate set of the old
      // 25-cell disk at 2.8× less explode/filter work.
      .withColumn("cell", explode(F.cell_disk(col("pcell"), lit(1))))
      .withColumn("tx", F.cell_tx(col("cell")))
      .withColumn("ty", F.cell_ty(col("cell")))
      .withColumn("cx", col("tx") * 5760 + 2880)
      .withColumn("cy", col("ty") * 5760 + 2880)
      .withColumn("d2", (col("ix") - col("cx")) * (col("ix") - col("cx")) +
        (col("iy") - col("cy")) * (col("iy") - col("cy")))
      .where(col("d2") <= lit(8192L * 8192L))
  }

  /** q138: the q67 candidate geometry with gdal_grid's ANISOTROPIC search
    * ellipse (radius1 8° > radius2 4°, angle 0): membership is
    * dx²·ry² + dy²·rx² <= rx²·ry² in exact BIGINT (max term ~3.5e15 —
    * no overflow), so the oracle replays it verbatim. The cell_disk
    * explode radius is sized by the LARGER half-axis. */
  private def gridCandidatesEllipse(s: SparkSession, dir: String): DataFrame = {
    graft.core.Par.fan(Synth.points(s, dir)).select( // fan: see gridCandidates
        col("l_quantity").cast("long").as("v"),
        ((col("lon") + 180.0) * 1024).cast("long").as("ix"),
        ((lit(90.0) - col("lat")) * 1024).cast("long").as("iy"),
        F.cell_encode(col("lon"), col("lat"), lit(5)).as("pcell"))
      // disk radius 1 suffices exactly as in gridCandidates: the ellipse
      // gate bounds |dx| ≤ 8192 (and |dy| ≤ 4096), while an offset-2
      // cell's center is ≥ 8641 units away on that axis (OPTIMIZATION r6)
      .withColumn("cell", explode(F.cell_disk(col("pcell"), lit(1))))
      .withColumn("tx", F.cell_tx(col("cell")))
      .withColumn("ty", F.cell_ty(col("cell")))
      .withColumn("dx", col("ix") - (col("tx") * 5760 + 2880))
      .withColumn("dy", col("iy") - (col("ty") * 5760 + 2880))
      .where(col("dx") * col("dx") * lit(4096L * 4096L)
        + col("dy") * col("dy") * lit(8192L * 8192L)
        <= lit(8192L * 8192L * 4096L * 4096L))
  }

  /** Shared body of the focal queries: apply the 3×3 kernel on the
    * zoom-2 synthetic grid and explode tiles to per-pixel rows. */
  private def focalPixels(s: SparkSession, mode: String): DataFrame =
    Focal.focal(Synth.maskTiles(s, 2), 8, 8, 8, 4, mode)
      .select(col("tx"), col("ty"), posexplode(col("pixels")).as(Seq("i", "val")))
      .select((col("tx") * 8 + col("i") % 8).as("gx"),
        (col("ty") * 8 + (col("i") / 8).cast("long")).as("gy"), col("val"))

  /** TRI/TPI/roughness oracle over the zoom-2 synthetic grid (64×32 px):
    * neighbor values come from the closed-form pixel function with edge
    * clamping — exactly core.Focal.wholeGrid's padding rule. All three
    * modes are integer-ratio arithmetic, so doubles compare bit-exactly. */
  private def focalOracle(mode: String): String = {
    val agg = mode match {
      case "tri" =>
        "CAST(sum(CASE WHEN NOT (dx = 0 AND dy = 0) THEN abs(v - ce) END) AS DOUBLE) / 8.0"
      case "tri_riley" =>
        // exact integer sum of squares, correctly-rounded IEEE sqrt —
        // bit-exact as a raw DOUBLE on both engines
        "sqrt(CAST(sum(CASE WHEN NOT (dx = 0 AND dy = 0) THEN (v - ce) * (v - ce) END) AS DOUBLE))"
      case "tpi" =>
        "any_value(ce) - CAST(sum(CASE WHEN NOT (dx = 0 AND dy = 0) THEN v END) AS DOUBLE) / 8.0"
      case "roughness" => "CAST(max(v) - min(v) AS DOUBLE)"
    }
    s"""WITH px AS (
         SELECT gx.x AS gx, gy.y AS gy
         FROM generate_series(0, 63) gx(x), generate_series(0, 31) gy(y)),
       nbr AS (SELECT dx.d AS dx, dy.d AS dy
         FROM generate_series(-1, 1) dx(d), generate_series(-1, 1) dy(d)),
       vals AS (
         SELECT p.gx, p.gy, n.dx, n.dy,
           ((least(greatest(p.gx + n.dx, 0), 63) // 8) * 131
          + (least(greatest(p.gy + n.dy, 0), 31) // 8) * 173
          + (least(greatest(p.gx + n.dx, 0), 63) % 8) * 7
          + (least(greatest(p.gy + n.dy, 0), 31) % 8) * 11) % 16 AS v
         FROM px p, nbr n),
       ctr AS (SELECT gx, gy, v AS ce FROM vals WHERE dx = 0 AND dy = 0)
       SELECT w.gx, w.gy, $agg AS val
       FROM (SELECT v.*, c.ce FROM vals v JOIN ctr c ON c.gx = v.gx AND c.gy = v.gy) w
       GROUP BY 1, 2"""
  }

  /** Horn hillshade oracle (q39): the same 3×3 window pivoted into the
    * nine taps, then the kernel's arithmetic replicated op-for-op
    * (defaults z=ewres=nsres=scale=1, alt 45°, az 315°). The output is
    * quantized (floor(x+0.5) to a 1..255 byte — the identical IEEE op
    * sequence on both engines, unlike rint-vs-round at .5 ties), so the
    * JVM-vs-DuckDB trig ULP gap
    * only matters within ~1e-13 of a rounding boundary — none occur on
    * this corpus, and a future divergence fails the gate loudly rather
    * than silently. */
  /** Shared 3×3-window pivot over the zoom-2 synthetic grid: the nine
    * Horn taps a..i (center e omitted — the Horn family never reads it)
    * as DOUBLEs with edge clamping, used by the q39/q94/q95/q96 oracles. */
  private val focalWinCte: String =
    """WITH px AS (
         SELECT gx.x AS gx, gy.y AS gy
         FROM generate_series(0, 63) gx(x), generate_series(0, 31) gy(y)),
       nbr AS (SELECT dx.d AS dx, dy.d AS dy
         FROM generate_series(-1, 1) dx(d), generate_series(-1, 1) dy(d)),
       vals AS (
         SELECT p.gx, p.gy, n.dx, n.dy,
           CAST(((least(greatest(p.gx + n.dx, 0), 63) // 8) * 131
          + (least(greatest(p.gy + n.dy, 0), 31) // 8) * 173
          + (least(greatest(p.gx + n.dx, 0), 63) % 8) * 7
          + (least(greatest(p.gy + n.dy, 0), 31) % 8) * 11) % 16 AS DOUBLE) AS v
         FROM px p, nbr n),
       win AS (
         SELECT gx, gy,
           sum(CASE WHEN dx=-1 AND dy=-1 THEN v END) AS a,
           sum(CASE WHEN dx= 0 AND dy=-1 THEN v END) AS b,
           sum(CASE WHEN dx= 1 AND dy=-1 THEN v END) AS c,
           sum(CASE WHEN dx=-1 AND dy= 0 THEN v END) AS d,
           sum(CASE WHEN dx= 1 AND dy= 0 THEN v END) AS f,
           sum(CASE WHEN dx=-1 AND dy= 1 THEN v END) AS g,
           sum(CASE WHEN dx= 0 AND dy= 1 THEN v END) AS hh,
           sum(CASE WHEN dx= 1 AND dy= 1 THEN v END) AS i
         FROM vals GROUP BY 1, 2)"""

  /** q245: igor hillshade — the kernel's shadow law replicated op-for-op
    * (Horn gradient with the kernel's sign convention, atan slope
    * fraction, fmod-folded angular distance from light = azRad − π/2,
    * 255·(1 − s·a)), milli-quantized with the family's floor(x·1000+0.5).
    * fmod matches Scala's % exactly (both are the exact IEEE remainder);
    * the trig ULP-gap argument is q39's. */
  private def hillshadeIgorOracle: String =
    s"""$focalWinCte,
       sh AS (
         SELECT gx, gy,
           ((a + 2*d + g) - (c + 2*f + i)) / 8.0 AS xx,
           ((g + 2*hh + i) - (a + 2*b + c)) / 8.0 AS yy
         FROM win),
       ig AS (
         SELECT gx, gy,
           atan(sqrt(xx*xx + yy*yy)) / (pi() / 2.0) AS ss,
           fmod(abs(atan2(yy, xx) - ((315.0 * (pi() / 180.0)) - (pi() / 2.0))),
                2.0 * pi()) AS d0
         FROM sh),
       vv AS (
         SELECT gx, gy,
           255.0 * (1.0 - ss * ((CASE WHEN d0 > pi() THEN 2.0 * pi() - d0
                                      ELSE d0 END) / pi())) AS v
         FROM ig)
       SELECT gx, gy,
         CAST(floor(v * 1000.0 + 0.5) AS BIGINT) AS shade_milli
       FROM vv"""

  /** q94: Horn slope in degrees — kernel arithmetic replicated op-for-op
    * (ewres=nsres=z=scale=1 defaults kept as literal 1.0 factors, exact
    * identities on both engines), atan output milli-deg quantized. */
  private def slopeOracle: String =
    s"""$focalWinCte,
       sh AS (
         SELECT gx, gy,
           ((c + 2*f + i) - (a + 2*d + g)) / (8.0 * 1.0) AS dzdx,
           ((g + 2*hh + i) - (a + 2*b + c)) / (8.0 * 1.0) AS dzdy
         FROM win)
       SELECT gx, gy,
         CAST(floor((atan(1.0 * sqrt(dzdx*dzdx + dzdy*dzdy) / 1.0)
           / (pi() / 180.0)) * 1000.0 + 0.5) AS BIGINT) AS slope_milli
       FROM sh"""

  /** q95: aspect — atan2(dzdy, −dzdx) in degrees, 90°−deg wrapped into
    * [0, 360), flat cells → −9999 (quantizes to the exact −9999000).
    * The wrap branch boundary falls only on the exact atan2(+,0)=π/2
    * case, identical in every libm. */
  private def aspectOracle: String =
    s"""$focalWinCte,
       sh AS (
         SELECT gx, gy,
           ((c + 2*f + i) - (a + 2*d + g)) / 8.0 AS dzdx,
           ((g + 2*hh + i) - (a + 2*b + c)) / 8.0 AS dzdy
         FROM win),
       dg AS (SELECT gx, gy, dzdx, dzdy,
           atan2(dzdy, -dzdx) / (pi() / 180.0) AS deg FROM sh),
       az AS (SELECT gx, gy,
           CASE WHEN dzdx = 0.0 AND dzdy = 0.0 THEN -9999.0
                WHEN 90.0 - deg < 0.0 THEN (90.0 - deg) + 360.0
                WHEN 90.0 - deg >= 360.0 THEN (90.0 - deg) - 360.0
                ELSE 90.0 - deg END AS v
         FROM dg)
       SELECT gx, gy,
         CAST(floor(v * 1000.0 + 0.5) AS BIGINT) AS aspect_milli
       FROM az"""

  /** q96: multidirectional hillshade — the four azimuth terms unrolled
    * in the kernel's exact accumulation order ((t225+t270)+t315)+t360,
    * sin²(aspect−az) weights, max(cang,0) clamps, /2 normalization,
    * byte-quantized with the same floor(x+0.5) as q39. */
  private def hillshadeMdOracle: String = {
    val terms = Seq("225.0", "270.0", "315.0", "360.0").map { az =>
      val azr = s"($az * (pi() / 180.0))"
      s"""(sin(aspect - $azr) * sin(aspect - $azr))
           * greatest(sin(45.0 * (pi() / 180.0)) * sin(slope)
             + cos(45.0 * (pi() / 180.0)) * cos(slope)
               * cos($azr - pi() / 2.0 - aspect), 0.0)"""
    }
    val acc = terms.reduce((l, r) => s"($l + $r)")
    s"""$focalWinCte,
       sh AS (
         SELECT gx, gy,
           1.0 * ((a + 2*d + g) - (c + 2*f + i)) / (8.0 * 1.0 * 1.0) AS xx,
           1.0 * ((g + 2*hh + i) - (a + 2*b + c)) / (8.0 * 1.0 * 1.0) AS yy
         FROM win),
       sa AS (
         SELECT gx, gy,
           pi() / 2.0 - atan(sqrt(xx*xx + yy*yy)) AS slope,
           atan2(yy, xx) AS aspect
         FROM sh),
       cmb AS (SELECT gx, gy, ($acc) / 2.0 AS c2 FROM sa)
       SELECT gx, gy,
         CASE WHEN c2 <= 0.0 THEN 1.0 ELSE floor(1.0 + 254.0 * c2 + 0.5) END AS val
       FROM cmb"""
  }

  /** q99: combined hillshade — the Horn shade angle acos(cang) damped by
    * the slope angle (cmb = 1 − acos·slopeAng·4/π²), replayed in the
    * kernel's exact op order: slopeAng stored once, slope = π/2 − slopeAng
    * inline, cang's a + b·c·d left-assoc chain, least-then-greatest clamp
    * inside acos, then the q39/q96 floor(x+0.5) byte quantization. */
  private def hillshadeCombinedOracle: String =
    s"""$focalWinCte,
       sh AS (
         SELECT gx, gy,
           1.0 * ((a + 2*d + g) - (c + 2*f + i)) / (8.0 * 1.0 * 1.0) AS xx,
           1.0 * ((g + 2*hh + i) - (a + 2*b + c)) / (8.0 * 1.0 * 1.0) AS yy
         FROM win),
       sa AS (
         SELECT gx, gy,
           atan(sqrt(xx*xx + yy*yy)) AS slopeang,
           atan2(yy, xx) AS aspect
         FROM sh),
       cg AS (
         SELECT gx, gy, slopeang,
           sin(45.0 * (pi() / 180.0)) * sin(pi() / 2.0 - slopeang)
           + cos(45.0 * (pi() / 180.0)) * cos(pi() / 2.0 - slopeang)
             * cos(315.0 * (pi() / 180.0) - pi() / 2.0 - aspect) AS cang
         FROM sa),
       cmb AS (
         SELECT gx, gy,
           1.0 - acos(greatest(-1.0, least(1.0, cang))) * slopeang
             / (pi() * pi() / 4.0) AS c2
         FROM cg)
       SELECT gx, gy,
         CASE WHEN c2 <= 0.0 THEN 1.0 ELSE floor(1.0 + 254.0 * c2 + 0.5) END AS val
       FROM cmb"""

  /** q102 shared scale expression (same-string trick, q83 precedent):
    * the identical SQL text runs through Spark expr() and the DuckDB
    * oracle, so the op sequence is identical by construction; ^exp is
    * written exp(e·ln r) — Spark codegen calls StrictMath.log/exp
    * (fdlibm) where DuckDB calls libm, the ULP gap absorbed by the
    * caller's milli quantization. */
  private def scaleCaseSql(srcMin: String, srcMax: String,
                           dstMin: String, dstMax: String, e: String): String =
    s"""CASE WHEN v <= $srcMin THEN $dstMin
        WHEN v >= $srcMax THEN $dstMax
        ELSE $dstMin + ($dstMax - $dstMin)
          * exp($e * ln((v - $srcMin) / ($srcMax - $srcMin))) END"""
  private val scaleFullSql = scaleCaseSql("0.0", "15.0", "0.0", "255.0", "1.5")
  private val scaleClampSql = scaleCaseSql("2.0", "13.0", "10.0", "250.0", "0.8")

  private def translateScaleOracle: String =
    s"""WITH px AS (
         SELECT gx.x AS gx, gy.y AS gy,
           CAST(((gx.x // 8)*131 + (gy.y // 8)*173
               + (gx.x % 8)*7 + (gy.y % 8)*11) % 16 AS DOUBLE) AS v
         FROM generate_series(0, 63) gx(x), generate_series(0, 31) gy(y))
       SELECT gx, gy,
         CAST(floor(($scaleFullSql) * 1000.0 + 0.5) AS BIGINT) AS scaled_milli,
         CAST(floor(($scaleClampSql) * 1000.0 + 0.5) AS BIGINT) AS clamp_milli
       FROM px"""

  /** q103: clipsrc replica — box ∩ clip-window on mismatched dyadic
    * lattices (edges can never coincide): intersection extents are
    * greatest/least picks of exact inputs, area their exact product;
    * empty intersections are dropped like ogr2ogr drops empty features. */
  private def clipsrcOracle: String =
    """WITH sp AS (
         SELECT s_suppkey AS q_id,
           -100.0 + CAST((s_suppkey * 7919) % 2048 AS DOUBLE) / 4.0 AS ax,
           -50.0 + CAST((s_suppkey * 104729) % 1024 AS DOUBLE) / 4.0 AS ay,
           2.0 + CAST(s_suppkey % 13 AS DOUBLE) / 4.0 AS w,
           3.0 + CAST(s_suppkey % 7 AS DOUBLE) / 2.0 AS h
         FROM supplier),
       ix AS (
         SELECT q_id,
           greatest(ax, 0.125) AS xmin, greatest(ay, 0.125) AS ymin,
           least(ax + w, 256.125) AS xmax, least(ay + h, 128.125) AS ymax
         FROM sp)
       SELECT q_id, (xmax - xmin) * (ymax - ymin) AS area,
         xmin, ymin, xmax, ymax
       FROM ix WHERE xmin < xmax AND ymin < ymax"""

  /** q104: identify replica — the zoom-3 grid's tx % 3 census; the
    * engine's value comes from real codec bytes + magic sniffing, the
    * oracle from the routing arithmetic alone, so any signature or
    * sniffing defect breaks the count. */
  private def identifyOracle: String =
    """WITH t AS (
         SELECT gx.x AS tx FROM generate_series(0, 15) gx(x),
                                generate_series(0, 7) gy(y))
       SELECT CASE tx % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'tiff'
              ELSE 'jpeg' END AS fmt,
         count(*) AS n
       FROM t GROUP BY 1"""

  /** q105: wrapdateline replica — split boxes in closed form: the west
    * part exists iff ax < 180 (xmax clamped to 180), the shifted part iff
    * ax + w > 180 (bounds − 360), part order west-then-shifted exactly as
    * st_wrapdateline emits. All lattice-exact, no quantization. */
  private def wrapDatelineOracle: String =
    """WITH sp AS (
         SELECT s_suppkey AS q_id,
           170.0625 + CAST((s_suppkey * 7919) % 160 AS DOUBLE) / 8.0 AS ax,
           -50.0625 + CAST((s_suppkey * 104729) % 640 AS DOUBLE) / 8.0 AS ay,
           2.0 + CAST(s_suppkey % 9 AS DOUBLE) / 2.0 AS w,
           1.0 + CAST(s_suppkey % 5 AS DOUBLE) / 4.0 AS h
         FROM supplier),
       parts AS (
         SELECT q_id, 0 AS part, ax AS xmin, ay AS ymin,
           least(ax + w, 180.0) AS xmax, ay + h AS ymax
         FROM sp WHERE ax < 180.0
         UNION ALL
         SELECT q_id, CASE WHEN ax < 180.0 THEN 1 ELSE 0 END,
           greatest(ax, 180.0) - 360.0, ay, (ax + w) - 360.0, ay + h
         FROM sp WHERE ax + w > 180.0)
       SELECT q_id, CAST(part AS BIGINT) AS part, xmin, ymin, xmax, ymax,
         (xmax - xmin) * (ymax - ymin) AS area
       FROM parts"""

  /** q100: locationinfo replica — the inverse-geotransform floor
    * arithmetic is exact on the dyadic point lattice, and the tile pixel
    * function is closed-form, so the oracle recomputes the value without
    * the join (px//8 == tx, py//8 == ty by construction). */
  private def locationInfoOracle: String =
    """WITH pts AS (
         SELECT c_custkey AS q_id,
           -32.0 + CAST((c_custkey * 7919) % 4096 AS DOUBLE) / 32.0 AS x,
           64.0 - CAST((c_custkey * 104729) % 2048 AS DOUBLE) / 32.0 AS y
         FROM customer),
       pl AS (
         SELECT q_id,
           CAST(floor((x - -32.0) / 0.5) AS BIGINT) AS px,
           CAST(floor((64.0 - y) / 0.5) AS BIGINT) AS py
         FROM pts)
       SELECT q_id, px, py,
         CAST(((px // 8) * 131 + (py // 8) * 173
             + (px % 8) * 7 + (py % 8) * 11) % 16 AS DOUBLE) AS v
       FROM pl"""

  private def hillshadeOracle: String =
    s"""$focalWinCte,
       sh AS (
         SELECT gx, gy,
           1.0 * ((a + 2*d + g) - (c + 2*f + i)) / (8.0 * 1.0 * 1.0) AS xx,
           1.0 * ((g + 2*hh + i) - (a + 2*b + c)) / (8.0 * 1.0 * 1.0) AS yy
         FROM win),
       cang AS (
         SELECT gx, gy,
           sin(45.0 * (pi() / 180.0)) * sin(pi() / 2.0 - atan(sqrt(xx*xx + yy*yy)))
           + cos(45.0 * (pi() / 180.0)) * cos(pi() / 2.0 - atan(sqrt(xx*xx + yy*yy)))
             * cos(315.0 * (pi() / 180.0) - pi() / 2.0 - atan2(yy, xx)) AS cg
         FROM sh)
       SELECT gx, gy,
         CASE WHEN cg <= 0.0 THEN 1.0 ELSE floor(1.0 + 254.0 * cg + 0.5) END AS val
       FROM cang"""

  /** q108/q109/q110: the ZT twins of the q94/q95/q39 oracles — identical
    * downstream trig replay, gradient lines swapped for the 2-tap central
    * differences ((f−d)/2, (hh−b)/2; hillshade signs (d−f), (hh−b)). */
  private def slopeZtOracle: String =
    s"""$focalWinCte,
       sh AS (
         SELECT gx, gy,
           (f - d) / (2.0 * 1.0) AS dzdx,
           (hh - b) / (2.0 * 1.0) AS dzdy
         FROM win)
       SELECT gx, gy,
         CAST(floor((atan(1.0 * sqrt(dzdx*dzdx + dzdy*dzdy) / 1.0)
           / (pi() / 180.0)) * 1000.0 + 0.5) AS BIGINT) AS slope_milli
       FROM sh"""

  /** q117: percent slope — no trig, so the replay is UNQUANTIZED: the
    * gradient ratios and sqrt are exactly rounded from exact integer
    * window sums on both engines. */
  private def slopePctOracle: String =
    s"""$focalWinCte,
       sh AS (
         SELECT gx, gy,
           ((c + 2*f + i) - (a + 2*d + g)) / (8.0 * 1.0) AS dzdx,
           ((g + 2*hh + i) - (a + 2*b + c)) / (8.0 * 1.0) AS dzdy
         FROM win)
       SELECT gx, gy,
         100.0 * (1.0 * sqrt(dzdx*dzdx + dzdy*dzdy) / 1.0) AS slope_pct
       FROM sh"""

  /** q125: trigonometric aspect — the q95 replay with the math-angle
    * wrap (deg<0 → +360) and the zero-for-flat sentinel. */
  private def aspectTrigOracle: String =
    s"""$focalWinCte,
       sh AS (
         SELECT gx, gy,
           ((c + 2*f + i) - (a + 2*d + g)) / 8.0 AS dzdx,
           ((g + 2*hh + i) - (a + 2*b + c)) / 8.0 AS dzdy
         FROM win),
       dg AS (SELECT gx, gy, dzdx, dzdy,
           atan2(dzdy, -dzdx) / (pi() / 180.0) AS deg FROM sh),
       az AS (SELECT gx, gy,
           CASE WHEN dzdx = 0.0 AND dzdy = 0.0 THEN 0.0
                WHEN deg < 0.0 THEN deg + 360.0
                ELSE deg END AS v
         FROM dg)
       SELECT gx, gy,
         CAST(floor(v * 1000.0 + 0.5) AS BIGINT) AS aspect_milli
       FROM az"""

  /** q124: the q39 hillshade replay with the full non-default parameter
    * set (alt 30, az 225, z 2, scale 2, 0.5-unit cells) — identical op
    * order, constants swapped. */
  private def hillshadeParamsOracle: String =
    s"""$focalWinCte,
       sh AS (
         SELECT gx, gy,
           2.0 * ((a + 2*d + g) - (c + 2*f + i)) / (8.0 * 0.5 * 2.0) AS xx,
           2.0 * ((g + 2*hh + i) - (a + 2*b + c)) / (8.0 * 0.5 * 2.0) AS yy
         FROM win),
       cang AS (
         SELECT gx, gy,
           sin(30.0 * (pi() / 180.0)) * sin(pi() / 2.0 - atan(sqrt(xx*xx + yy*yy)))
           + cos(30.0 * (pi() / 180.0)) * cos(pi() / 2.0 - atan(sqrt(xx*xx + yy*yy)))
             * cos(225.0 * (pi() / 180.0) - pi() / 2.0 - atan2(yy, xx)) AS cg
         FROM sh)
       SELECT gx, gy,
         CASE WHEN cg <= 0.0 THEN 1.0 ELSE floor(1.0 + 254.0 * cg + 0.5) END AS val
       FROM cang"""

  private def aspectZtOracle: String =
    s"""$focalWinCte,
       sh AS (
         SELECT gx, gy,
           (f - d) / 2.0 AS dzdx,
           (hh - b) / 2.0 AS dzdy
         FROM win),
       dg AS (SELECT gx, gy, dzdx, dzdy,
           atan2(dzdy, -dzdx) / (pi() / 180.0) AS deg FROM sh),
       az AS (SELECT gx, gy,
           CASE WHEN dzdx = 0.0 AND dzdy = 0.0 THEN -9999.0
                WHEN 90.0 - deg < 0.0 THEN (90.0 - deg) + 360.0
                WHEN 90.0 - deg >= 360.0 THEN (90.0 - deg) - 360.0
                ELSE 90.0 - deg END AS v
         FROM dg)
       SELECT gx, gy,
         CAST(floor(v * 1000.0 + 0.5) AS BIGINT) AS aspect_milli
       FROM az"""

  private def hillshadeZtOracle: String =
    s"""$focalWinCte,
       sh AS (
         SELECT gx, gy,
           1.0 * (d - f) / (2.0 * 1.0 * 1.0) AS xx,
           1.0 * (hh - b) / (2.0 * 1.0 * 1.0) AS yy
         FROM win),
       cang AS (
         SELECT gx, gy,
           sin(45.0 * (pi() / 180.0)) * sin(pi() / 2.0 - atan(sqrt(xx*xx + yy*yy)))
           + cos(45.0 * (pi() / 180.0)) * cos(pi() / 2.0 - atan(sqrt(xx*xx + yy*yy)))
             * cos(315.0 * (pi() / 180.0) - pi() / 2.0 - atan2(yy, xx)) AS cg
         FROM sh)
       SELECT gx, gy,
         CASE WHEN cg <= 0.0 THEN 1.0 ELSE floor(1.0 + 254.0 * cg + 0.5) END AS val
       FROM cang"""

  /** One gdal_fillnodata -si smoothing pass as a named CTE over
    * `src(gx, gy, msk, val)` on the 64×32 grid: msk=1 pixels take the 3×3
    * mean — neighbors added LEFT-ASSOC in row-major order, absent ones as
    * coalesce(+0.0) (exact identity, so the sum equals the engine's
    * skip-accumulation bit-for-bit), divided by the closed-form in-grid
    * count. msk=0 pixels pass through. */
  private def smoothPassSql(src: String, dst: String): String =
    s"""$dst AS (
       SELECT p.gx, p.gy, p.msk,
         CASE WHEN p.msk = 1 THEN
           ((((((((coalesce(nmm.val, 0.0) + coalesce(n0m.val, 0.0)) + coalesce(npm.val, 0.0))
              + coalesce(nm0.val, 0.0)) + p.val) + coalesce(np0.val, 0.0))
              + coalesce(nmp.val, 0.0)) + coalesce(n0p.val, 0.0)) + coalesce(npp.val, 0.0))
           / ((1 + CASE WHEN p.gx > 0 THEN 1 ELSE 0 END + CASE WHEN p.gx < 63 THEN 1 ELSE 0 END)
            * (1 + CASE WHEN p.gy > 0 THEN 1 ELSE 0 END + CASE WHEN p.gy < 31 THEN 1 ELSE 0 END))
         ELSE p.val END AS val
       FROM $src p
       LEFT JOIN $src nmm ON nmm.gx = p.gx - 1 AND nmm.gy = p.gy - 1
       LEFT JOIN $src n0m ON n0m.gx = p.gx     AND n0m.gy = p.gy - 1
       LEFT JOIN $src npm ON npm.gx = p.gx + 1 AND npm.gy = p.gy - 1
       LEFT JOIN $src nm0 ON nm0.gx = p.gx - 1 AND nm0.gy = p.gy
       LEFT JOIN $src np0 ON np0.gx = p.gx + 1 AND np0.gy = p.gy
       LEFT JOIN $src nmp ON nmp.gx = p.gx - 1 AND nmp.gy = p.gy + 1
       LEFT JOIN $src n0p ON n0p.gx = p.gx     AND n0p.gy = p.gy + 1
       LEFT JOIN $src npp ON npp.gx = p.gx + 1 AND npp.gy = p.gy + 1)"""

  /** Shared gdal_grid oracle fragment (q56, q67, q138, q141, q150): the
    * points in integer 1/1024-degree units (`ip`) and each point's
    * candidate cells in its 5x5 zoom-5 neighborhood (`cand`). */
  private val gridCandSql =
    s"""pts AS ($ptsSql),
         ip AS (
           SELECT CAST(l_quantity AS BIGINT) AS v,
             CAST((lon + 180.0) * 1024 AS BIGINT) AS ix,
             CAST((90.0 - lat) * 1024 AS BIGINT) AS iy
           FROM pts),
         cand AS (
           SELECT (p.ix // 5760 + dx.d) AS tx, (p.iy // 5760 + dy.d) AS ty, p.v, p.ix, p.iy
           FROM ip p, generate_series(-2, 2) dx(d), generate_series(-2, 2) dy(d)
           WHERE (p.ix // 5760 + dx.d) BETWEEN 0 AND 63
             AND (p.iy // 5760 + dy.d) BETWEEN 0 AND 31)"""

  /** Shared text oracle fragment (q147, q184, q205, q212, q224, q229):
    * every document's whitespace-normalized lowercase tokens, empty
    * tokens dropped (`t2`). */
  private val tokensSql =
    """toks AS (
           SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
           FROM documents),
         t2 AS (SELECT doc_id, term FROM toks WHERE term <> '')"""

  /** Shared BM25 oracle fragment (q224, q229), after [[tokensSql]]: the
    * corpus token and document counts (`st`), document lengths (`dl`),
    * the literal query terms (`q`), and per-term `tf` and `dfq`. */
  private val bm25TermsSql =
    """st AS (SELECT (SELECT count(*) FROM t2) AS s,
                       (SELECT count(*) FROM documents) AS n),
         dl AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY 1),
         q(qid, term) AS (VALUES
           ('Q1', 'spark'), ('Q1', 'table'),
           ('Q2', 'hash'), ('Q2', 'join'), ('Q2', 'merge'),
           ('Q3', 'vector'), ('Q3', 'stream')),
         rel AS (SELECT doc_id, term FROM t2
                 WHERE term IN (SELECT DISTINCT term FROM q)),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM rel GROUP BY 1, 2),
         dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM rel GROUP BY 1)"""

  /** Shared surprisal oracle fragment (q184, q205), after [[tokensSql]]:
    * the unigram model and each document's token count and summed
    * surprisal surrogate (`sc`). */
  private val surprisalSql =
    """model AS (SELECT term, count(*) AS cnt FROM t2 GROUP BY 1),
         tot AS (SELECT sum(cnt) AS total FROM model),
         sc AS (
           SELECT t2.doc_id, count(*) AS n_tokens,
             sum((tot.total * 1000) // model.cnt) AS surp_sum
           FROM t2 JOIN model USING (term), tot
           GROUP BY 1)"""

  /** Shared docs oracle fragment (q158, q235): each span's payload (`sp`)
    * from the generating arithmetic, as Synth.docs renders it. */
  private val docPayloadSql =
    s"""pts AS ($ptsSql),
         sp AS (
           SELECT doc_key, line_no, part_key, supp_key,
             CASE WHEN line_no % 4 <> 0 THEN printf('POINT(%.10f %.10f)', lon, lat)
             ELSE '<media:tile://8/'
               || CAST(CAST(floor((lon + 180.0) / 360.0 * 512) AS BIGINT) AS VARCHAR)
               || '/'
               || CAST(CAST(floor((90.0 - lat) / 180.0 * 256) AS BIGINT) AS VARCHAR)
               || '/1>' END AS payload
           FROM pts)"""

  /** Shared pansharpen oracle fragment (q62, q137): each zoom-3 pan pixel
    * and the zoom-2 parent value `v2` under nearest upsampling (`px`). */
  private val panPixelsSql =
    """px AS (
           SELECT t.tx, t.ty, i.i AS i,
             (t.tx*131 + t.ty*173 + (i.i % 64)*7 + (i.i // 64)*11 + 3) % 256 AS pan,
             ((t.tx // 2)*131 + (t.ty // 2)*173
               + ((t.tx % 2)*32 + (i.i % 64) // 2)*7
               + ((t.ty % 2)*32 + (i.i // 64) // 2)*11 + 2) % 256 AS v2
           FROM (SELECT gx.x AS tx, gy.y AS ty
                 FROM generate_series(0, 15) gx(x), generate_series(0, 7) gy(y)) t,
                generate_series(0, 4095) i(i))"""

  /** Shared polygonize oracle fragment (q33, q114, q173): the zoom-2
    * synthetic grid's pixels `(gx, gy, v)` (`px`). */
  private val maskPixelsSql =
    """px AS (
           SELECT (t.tx * 8 + i.i % 8) AS gx, (t.ty * 8 + i.i // 8) AS gy,
                  (t.tx*131 + t.ty*173 + (i.i % 8)*7 + (i.i // 8)*11) % 16 AS v
           FROM (SELECT gx.x AS tx, gy.y AS ty
                 FROM generate_series(0, 7) gx(x), generate_series(0, 3) gy(y)) t,
                generate_series(0, 63) i(i))"""

  /** Shared connected-components oracle fragment (q33, q114, q173, q200):
    * each node's label is the least node id that reaches it over
    * `edges`, by recursive transitive closure (`lbl`). */
  private val minLabelSql =
    """reach AS (
           WITH RECURSIVE r(id, root) AS (
             SELECT id, id FROM nodes
             UNION
             SELECT e.a, r.root FROM r JOIN edges e ON e.b = r.id WHERE r.root < e.a
           ) SELECT * FROM r),
         lbl AS (SELECT id, min(root) AS label FROM reach GROUP BY id)"""

  /** Shared raster oracle fragment (q66, q68, q70, q71, q133, q176): the
    * closed-form zoom-3 band pixels `(tx, ty, i, v)` (`px`). */
  private val zoom3PixelsSql =
    """tiles AS (
           SELECT gx.x AS tx, gy.y AS ty FROM generate_series(0, 15) gx(x), generate_series(0, 7) gy(y)),
         px AS (
           SELECT t.tx, t.ty, i.i AS i,
             (t.tx*131 + t.ty*173 + (i.i % 64)*7 + (i.i // 64)*11 + 3) % 256 AS v
           FROM tiles t, generate_series(0, 4095) i(i))"""

  /** The gdal_retile oracle (q129, q204): 160x96 output tiles at stride
    * `sx` x `sy` over the 1024x512 zoom-3 mosaic, tile columns
    * 0..`lastTx` and rows 0..`lastTy`, edge tiles clipped to the mosaic;
    * one checksum per output tile. */
  private def retileSql(lastTx: Int, lastTy: Int, sx: Int, sy: Int): String =
    s"""WITH ot AS (
           SELECT gx.x AS otx, gy.y AS oty
           FROM generate_series(0, $lastTx) gx(x), generate_series(0, $lastTy) gy(y)),
         dims AS (
           SELECT otx, oty, least(160, 1024 - otx * $sx) AS w,
             least(96, 512 - oty * $sy) AS h FROM ot),
         px AS (
           SELECT otx, oty, w, h, i.i AS i,
             otx * $sx + (i.i % w) AS gx, oty * $sy + (i.i // w) AS gy
           FROM dims, generate_series(0, 15359) i(i) WHERE i.i < w * h),
         vals AS (
           SELECT otx, oty, w, h, i,
             ((gx // 64) * 131 + (gy // 64) * 173 + (gx % 64) * 7
              + (gy % 64) * 11 + 3) % 256 AS v
           FROM px)
         SELECT CAST(otx AS BIGINT) AS tx, CAST(oty AS BIGINT) AS ty,
           CAST(w AS INT) AS w, CAST(h AS INT) AS h,
           CAST(sum(CAST(v AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM vals GROUP BY 1, 2, 3, 4"""

  /** Shared rasterize oracle fragment (q17, q119, q130): the q17 box set,
    * the zoom-4 tile and pixel size (`res`), and every tile each box
    * touches with its west/north corner (`cover`); `burn` carries the
    * box's burn value. */
  private def rasterCoverSql(burn: Boolean): String = {
    val burnCol = if (burn) "(b.box_id % 97 + 1) AS burn, " else ""
    s"""boxes AS (SELECT * FROM ($boxesSql) WHERE box_id % 7 = 0),
         res AS (SELECT 11.25 AS res, 11.25/64 AS pres),
         cover AS (
           SELECT b.box_id, ${burnCol}t.tx, t.ty,
             -180.0 + t.tx * r.res AS west, 90.0 - t.ty * r.res AS north, r.pres
           FROM boxes b, res r,
             (SELECT gx.x AS tx, gy.y AS ty
                FROM generate_series(0, 31) gx(x), generate_series(0, 15) gy(y)) t
           WHERE t.tx BETWEEN CAST(least(greatest(floor((b.xmin+180.0)/360.0*32),0),31) AS BIGINT)
                          AND CAST(least(greatest(floor((b.xmax+180.0)/360.0*32),0),31) AS BIGINT)
             AND t.ty BETWEEN CAST(least(greatest(floor((90.0-b.ymax)/180.0*16),0),15) AS BIGINT)
                          AND CAST(least(greatest(floor((90.0-b.ymin)/180.0*16),0),15) AS BIGINT))"""
  }

  /** [[rasterCoverSql]] plus the scanline-parity pixel runs of each box
    * in each covered tile (`runs`), as core.Scanline computes them. */
  private def rasterRunsSql(burn: Boolean): String = {
    val burnCol = if (burn) "c.burn, " else ""
    s"""${rasterCoverSql(burn)},
         runs AS (
           SELECT c.tx, c.ty, ${burnCol}py.py AS py,
             greatest(CAST(ceil((b.xmin - c.west)/c.pres - 0.5) AS BIGINT), 0) AS xs,
             least(CAST(ceil((b.xmax - c.west)/c.pres - 0.5) AS BIGINT), 64) AS xe
           FROM cover c JOIN boxes b ON b.box_id = c.box_id,
             generate_series(0, 63) py(py)
           WHERE (py.py + 0.5) >= (c.north - b.ymax)/c.pres
             AND (py.py + 0.5) <  (c.north - b.ymin)/c.pres)"""
  }

  def oracleSql: Map[String, String] = Map(
    "q01_agg_filter" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
         count(*) AS n
         FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-09-01'
         GROUP BY 1, 2""",
    "q02_join_agg" ->
      """SELECT r_name, n_name,
         CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
         count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2""",
    "q03_topk_window" ->
      """SELECT o_custkey, o_orderkey, CAST(rnk AS INT) AS rnk FROM (
           SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
           FROM orders) WHERE rnk <= 2""",
    "q04_distinct" -> "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    "q05_sort_limit" ->
      """SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS price_cents
         FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q06_set_ops" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
         EXCEPT SELECT c_custkey FROM customer WHERE c_nationkey < 5""",
    "q07_scalar_funcs" ->
      """SELECT p_partkey, upper(substr(p_name, 1, 5)) AS pfx,
         concat_ws('-', p_brand, p_type) AS label, CAST(p_size AS BIGINT) AS size_l
         FROM part WHERE lower(p_name) LIKE '%wid%'""",
    "q08_semi_anti" ->
      """SELECT c_custkey, 'has_orders' AS tag FROM customer
           WHERE c_custkey IN (SELECT o_custkey FROM orders)
         UNION ALL
         SELECT c_custkey, 'no_orders' AS tag FROM customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""",
    "q09_time_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
         CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY 1, 2""",
    "q10_histogram" ->
      """SELECT CAST(least(greatest(floor(o_totalprice / 50000.0), 0.0), 12.0) AS BIGINT) AS bucket,
         count(*) AS n FROM orders GROUP BY 1""",
    "q11_pip_broadcast" ->
      s"""WITH pts AS ($ptsSql), boxes AS ($boxesSql)
         SELECT b.box_id AS box_id, p.pt_id AS pt_id
         FROM pts p JOIN boxes b
           ON p.lon > b.xmin AND p.lon < b.xmax AND p.lat > b.ymin AND p.lat < b.ymax""",
    "q12_pip_salted" ->
      s"""WITH pts AS ($ptsSql), boxes AS ($boxesSql)
         SELECT b.box_id AS box_id, p.pt_id AS pt_id
         FROM pts p JOIN boxes b
           ON p.lon > b.xmin AND p.lon < b.xmax AND p.lat > b.ymin AND p.lat < b.ymax""",
    "q121_stream_pip" ->
      // identical row-set contract to q11 — the streaming path must not
      // change the join's semantics
      s"""WITH pts AS ($ptsSql), boxes AS ($boxesSql)
         SELECT b.box_id AS box_id, p.pt_id AS pt_id
         FROM pts p JOIN boxes b
           ON p.lon > b.xmin AND p.lon < b.xmax AND p.lat > b.ymin AND p.lat < b.ymax""",
    "q60_pip_mercator" ->
      s"""WITH pts AS ($ptsSql), boxes AS ($boxesSql)
         SELECT b.box_id AS box_id, p.pt_id AS pt_id
         FROM pts p JOIN boxes b
           ON p.lon > b.xmin AND p.lon < b.xmax AND p.lat > b.ymin AND p.lat < b.ymax""",
    "q52_pip_adaptive" ->
      s"""WITH pts AS ($ptsSql), boxes AS ($boxesSql)
         SELECT b.box_id AS box_id, p.pt_id AS pt_id
         FROM pts p JOIN boxes b
           ON p.lon > b.xmin AND p.lon < b.xmax AND p.lat > b.ymin AND p.lat < b.ymax""",
    "q13_tile_assign" ->
      s"""WITH pts AS ($ptsSql)
         SELECT pt_id, CAST(12 AS BIGINT) AS zoom,
           CAST(least(greatest(floor((lon + 180.0) / 360.0 * 8192), 0), 8191) AS BIGINT) AS tx,
           CAST(least(greatest(floor((90.0 - lat) / 180.0 * 4096), 0), 4095) AS BIGINT) AS ty
         FROM pts""",
    "q213_tile_addressing" ->
      // q13's rational tile law at zoom 6 + integer bit arithmetic for
      // the TMS flip, hemisphere-rooted quadkey, and path template
      s"""WITH pts AS ($ptsSql),
         t AS (SELECT
             least(greatest(CAST(floor((lon + 180.0) / 360.0 * 128) AS BIGINT), 0), 127) AS tx,
             least(greatest(CAST(floor((90.0 - lat) / 180.0 * 64) AS BIGINT), 0), 63) AS ty
           FROM pts),
         g AS (SELECT tx, ty, count(*) AS n_points FROM t GROUP BY 1, 2)
         SELECT tx, ty, CAST(63 - ty AS BIGINT) AS tms_ty,
           CAST(tx // 64 AS VARCHAR) || list_aggregate(
             list_transform(range(1, 7), i ->
               CAST((((tx % 64) >> (6 - i)) & 1) + 2 * ((ty >> (6 - i)) & 1) AS VARCHAR)),
             'string_agg', '') AS quadkey,
           printf('6/%d/%d.png', tx, 63 - ty) AS tile_path,
           n_points
         FROM g""",
    "q14_knn" ->
      s"""WITH pts AS ($ptsSql), q AS ($qptsSql)
         SELECT q_id, pt_id, CAST(rnk AS BIGINT) AS rank FROM (
           SELECT q.q_id, p.pt_id,
             row_number() OVER (PARTITION BY q.q_id
               ORDER BY (p.lon-q.lon)*(p.lon-q.lon) + (p.lat-q.lat)*(p.lat-q.lat), p.pt_id) AS rnk
           FROM q CROSS JOIN pts p) WHERE rnk <= 5""",
    "q15_zonal_stats" ->
      s"""WITH pts AS ($ptsSql), boxes AS ($boxesSql)
         SELECT b.box_id AS box_id, count(*) AS n_points,
           CAST(sum(CAST(p.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           min(p.pt_id) AS min_pt, max(p.pt_id) AS max_pt
         FROM pts p JOIN boxes b
           ON p.lon > b.xmin AND p.lon < b.xmax AND p.lat > b.ymin AND p.lat < b.ymax
         GROUP BY 1""",
    "q16_docs_roundtrip" ->
      s"""WITH pts AS ($ptsSql)
         SELECT printf('doc-%09d', doc_key) AS doc_id, count(*) AS n_spans,
           CAST(sum(CASE WHEN line_no % 4 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_text,
           CAST(sum(CASE WHEN line_no % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_media,
           CAST(sum(rn - 1) AS BIGINT) AS sum_offsets,
           min(CASE WHEN line_no % 4 <> 0 THEN lon END) AS min_x
         FROM (SELECT *, row_number() OVER (PARTITION BY doc_key ORDER BY line_no, part_key, supp_key) AS rn FROM pts)
         GROUP BY 1""",
    "q17_rasterize_checksum" ->
      // scanline-parity runs computed arithmetically per (box, tile) with
      // the same FP op order as core.Scanline (see comment there); ADD
      // merge; checksum = sum(v * (i%49+1)) % 65535 over the 64x64 tile
      s"""WITH ${rasterRunsSql(burn = true)},
         px AS (
           SELECT r.tx, r.ty, (r.py*64 + x.x) AS i, r.burn
           FROM runs r, generate_series(0, 63) x(x)
           WHERE x.x >= r.xs AND x.x < r.xe),
         tilepx AS (
           SELECT tx, ty, i, sum(burn) AS v FROM px GROUP BY 1, 2, 3)
         SELECT CAST(4 AS BIGINT) AS zoom, tx, ty,
           CAST(sum(CAST(v AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM tilepx GROUP BY 1, 2, 3""",
    "q130_rasterize_at" ->
      // ALL_TOUCHED ground truth on axis-aligned boxes: the touched set of
      // a rectangle is exactly the pixel block whose cells intersect it —
      // px/py ranges by floor((edge - origin)/pres), never ambiguous (the
      // 2^-12 edge offset keeps every edge >= 1/720 px from pixel bounds);
      // MAX merge across overlapping boxes, checksum per tile
      s"""WITH ${rasterCoverSql(burn = true)},
         pxr AS (
           SELECT c.tx, c.ty, c.burn,
             greatest(CAST(floor((b.xmin - c.west)/c.pres) AS BIGINT), 0) AS px0,
             least(CAST(floor((b.xmax - c.west)/c.pres) AS BIGINT), 63) AS px1,
             greatest(CAST(floor((c.north - b.ymax)/c.pres) AS BIGINT), 0) AS py0,
             least(CAST(floor((c.north - b.ymin)/c.pres) AS BIGINT), 63) AS py1
           FROM cover c JOIN boxes b ON b.box_id = c.box_id),
         px AS (
           SELECT r.tx, r.ty, (y.y*64 + x.x) AS i, r.burn
           FROM pxr r, generate_series(0, 63) y(y), generate_series(0, 63) x(x)
           WHERE y.y BETWEEN r.py0 AND r.py1 AND x.x BETWEEN r.px0 AND r.px1),
         tilepx AS (
           SELECT tx, ty, i, max(burn) AS v FROM px GROUP BY 1, 2, 3)
         SELECT CAST(4 AS BIGINT) AS zoom, tx, ty,
           CAST(sum(CAST(v AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM tilepx GROUP BY 1, 2, 3""",
    "q119_rasterize_invert" ->
      // the q17 coverage chain (burn-free), complemented over the FULL
      // zoom-4 universe: uncovered pixels take 5, covered 0, every one
      // of the 512 tiles emits a checksum (all-burn when untouched)
      s"""WITH ${rasterRunsSql(burn = false)},
         covpx AS (
           SELECT DISTINCT r.tx, r.ty, (r.py*64 + x.x) AS i
           FROM runs r, generate_series(0, 63) x(x)
           WHERE x.x >= r.xs AND x.x < r.xe),
         allpx AS (
           SELECT t.tx, t.ty, i.i AS i
           FROM (SELECT gx.x AS tx, gy.y AS ty
                 FROM generate_series(0, 31) gx(x), generate_series(0, 15) gy(y)) t,
                generate_series(0, 4095) i(i))
         SELECT CAST(4 AS BIGINT) AS zoom, a.tx, a.ty,
           CAST(sum(CASE WHEN c.i IS NULL THEN 5 * (a.i % 49 + 1) ELSE 0 END) % 65535 AS INT) AS cks
         FROM allpx a LEFT JOIN covpx c ON c.tx = a.tx AND c.ty = a.ty AND c.i = a.i
         GROUP BY 2, 3""",
    "q18_pyramid_checksum" ->
      // parent(zoom 2) pixel = avg of the 2x2 block of child(zoom 3) tile
      // (2tx+qx, 2ty+qy); child pixel value is the closed-form synth
      s"""WITH parent AS (
           SELECT gx.x AS tx, gy.y AS ty FROM generate_series(0, 7) gx(x), generate_series(0, 3) gy(y)),
         px AS (
           SELECT p.tx, p.ty, i.i AS i,
             (i.i % 64) AS px, (i.i // 64) AS py,
             (i.i % 64) // 32 AS qx, (i.i // 64) // 32 AS qy,
             (i.i % 64) % 32 AS x, (i.i // 64) % 32 AS y
           FROM parent p, generate_series(0, 4095) i(i)),
         vals AS (
           SELECT tx, ty, i,
             ((( (2*tx+qx)*131 + (2*ty+qy)*173 + (2*x)*7   + (2*y)*11   + 3) % 256)
            + (( (2*tx+qx)*131 + (2*ty+qy)*173 + (2*x+1)*7 + (2*y)*11   + 3) % 256)
            + (( (2*tx+qx)*131 + (2*ty+qy)*173 + (2*x)*7   + (2*y+1)*11 + 3) % 256)
            + (( (2*tx+qx)*131 + (2*ty+qy)*173 + (2*x+1)*7 + (2*y+1)*11 + 3) % 256)) / 4.0 AS v
           FROM px)
         SELECT CAST(2 AS BIGINT) AS zoom, CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
           CAST(sum(CAST(floor(v) AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM vals GROUP BY 1, 2, 3""",
    "q20_mosaic_checksum" ->
      s"""WITH tiles AS (
           SELECT gx.x AS tx, gy.y AS ty FROM generate_series(0, 15) gx(x), generate_series(0, 7) gy(y)),
         px AS (
           SELECT t.tx, t.ty, i.i AS i,
             (t.tx*131 + t.ty*173 + (i.i % 64)*7 + (i.i // 64)*11 + 3) % 256
               + CASE WHEN t.tx % 2 = 0 THEN 1 ELSE 0 END AS v
           FROM tiles t, generate_series(0, 4095) i(i))
         SELECT CAST(3 AS BIGINT) AS zoom, CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
           CAST(sum(CAST(v AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM px GROUP BY 1, 2, 3""",
    "q132_ogr_special_fields" ->
      // area from the generating arithmetic: both sides compute the same
      // exact rational (all dyadic-lattice products < 2^53), so no
      // quantization — a JTS shoelace deviation or a special-field
      // plumbing bug breaks the compare outright
      s"""WITH boxes AS ($boxesSql)
         SELECT CAST(box_id AS BIGINT) AS fid, 'POLYGON' AS geom_type,
           (xmax - xmin) * (ymax - ymin) AS area
         FROM boxes
         WHERE (xmax - xmin) * (ymax - ymin) >= 12.0 AND box_id % 3 = 0""",
    "q131_buildvrt" ->
      // west half: zoom-3 closed form; east half: the zoom-2 closed form
      // sampled at the parent pixel (gx div 2, gy div 2) — exactly the
      // nearest-upsample the engine runs
      """WITH tiles AS (
           SELECT gx.x AS tx, gy.y AS ty
           FROM generate_series(0, 15) gx(x), generate_series(0, 7) gy(y)),
         px AS (
           SELECT t.tx, t.ty, i.i AS i,
             t.tx * 64 + (i.i % 64) AS gx, t.ty * 64 + (i.i // 64) AS gy
           FROM tiles t, generate_series(0, 4095) i(i)),
         vals AS (
           SELECT tx, ty, i,
             CASE WHEN tx < 8 THEN
               ((gx // 64) * 131 + (gy // 64) * 173 + (gx % 64) * 7
                + (gy % 64) * 11 + 3) % 256
             ELSE
               (((gx // 2) // 64) * 131 + ((gy // 2) // 64) * 173
                + ((gx // 2) % 64) * 7 + ((gy // 2) % 64) * 11 + 2) % 256
             END AS v
           FROM px)
         SELECT CAST(3 AS BIGINT) AS zoom, CAST(tx AS BIGINT) AS tx,
           CAST(ty AS BIGINT) AS ty,
           CAST(sum(CAST(v AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM vals GROUP BY 1, 2, 3""",
    "q128_tindex" ->
      """WITH tiles AS (
           SELECT gx.x AS tx, gy.y AS ty
           FROM generate_series(0, 15) gx(x), generate_series(0, 7) gy(y))
         SELECT printf('z3_%d_%d.tif', tx, ty) AS location,
           tx * 22.5 - 180.0 AS xmin, 90.0 - (ty + 1) * 22.5 AS ymin,
           (tx + 1) * 22.5 - 180.0 AS xmax, 90.0 - ty * 22.5 AS ymax
         FROM tiles""",
    "q139_pyramid_gauss" ->
      // parent pixel = sum((2-|dx|)(2-|dy|) * child(2pgx+dx, 2pgy+dy))
      // over in-grid window / in-grid weight sum; child = z3 closed form
      """WITH pt AS (
           SELECT gx.x AS ptx, gy.y AS pty
           FROM generate_series(0, 7) gx(x), generate_series(0, 3) gy(y)),
         pp AS (
           SELECT ptx, pty, i.i AS i,
             ptx*64 + (i.i % 64) AS pgx, pty*64 + (i.i // 64) AS pgy
           FROM pt, generate_series(0, 4095) i(i)),
         win AS (
           SELECT p.ptx, p.pty, p.i, p.pgx, p.pgy,
             sum((2 - abs(dx.d)) * (2 - abs(dy.d)) *
               ((((2*p.pgx + dx.d) // 64)*131 + ((2*p.pgy + dy.d) // 64)*173
                 + ((2*p.pgx + dx.d) % 64)*7 + ((2*p.pgy + dy.d) % 64)*11 + 3) % 256)) AS swv,
             sum((2 - abs(dx.d)) * (2 - abs(dy.d))) AS sw
           FROM pp p, generate_series(-1, 1) dx(d), generate_series(-1, 1) dy(d)
           WHERE 2*p.pgx + dx.d BETWEEN 0 AND 1023
             AND 2*p.pgy + dy.d BETWEEN 0 AND 511
           GROUP BY 1, 2, 3, 4, 5)
         SELECT pgx, pgy, CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE) AS val
         FROM win""",
    "q156_merge_separate" ->
      // band 1 = the z3 closed form; band 2 = (v*3+7) % 256
      """WITH tiles AS (
           SELECT gx.x AS tx, gy.y AS ty
           FROM generate_series(0, 15) gx(x), generate_series(0, 7) gy(y)),
         px AS (
           SELECT t.tx, t.ty, i.i AS i,
             (t.tx*131 + t.ty*173 + (i.i % 64)*7 + (i.i // 64)*11 + 3) % 256 AS v
           FROM tiles t, generate_series(0, 4095) i(i)),
         b AS (
           SELECT tx, ty, i, 1 AS band, v AS val FROM px
           UNION ALL
           SELECT tx, ty, i, 2, (v * 3 + 7) % 256 FROM px)
         SELECT CAST(band AS INT) AS band, CAST(tx AS BIGINT) AS tx,
           CAST(ty AS BIGINT) AS ty,
           CAST(sum(CAST(val AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM b GROUP BY 1, 2, 3""",
    "q208_ogrmerge" ->
      // field-union merge: layer A carries name (sz NULL), layer B
      // carries sz (name NULL); source layer recorded per feature
      s"""WITH boxes AS ($boxesSql),
         a AS (
           SELECT 'layer_a' AS src_layer, box_id AS fid,
             printf('name_%d', box_id) AS name, CAST(NULL AS BIGINT) AS sz,
             xmin, ymin
           FROM boxes WHERE box_id % 3 = 0),
         b AS (
           SELECT 'layer_b' AS src_layer, box_id AS fid,
             CAST(NULL AS VARCHAR) AS name, CAST(box_id % 100 AS BIGINT) AS sz,
             xmin, ymin
           FROM boxes WHERE box_id % 3 = 1)
         SELECT * FROM a UNION ALL SELECT * FROM b""",
    "q157_ogrtindex" ->
      s"""WITH boxes AS ($boxesSql)
         SELECT printf('layer_%d', box_id % 4) AS layer, count(*) AS n_features,
           min(xmin) AS xmin, min(ymin) AS ymin,
           max(xmax) AS xmax, max(ymax) AS ymax
         FROM boxes GROUP BY 1""",
    "q136_warp_tap" ->
      // snapped-outward bounds and derived size; floor/ceil unambiguous
      // (quotients >= 1/1536 from integers), snapped products exact
      s"""WITH boxes AS ($boxesSql)
         SELECT box_id,
           floor(xmin / 0.375) * 0.375 AS axmin,
           floor(ymin / 0.375) * 0.375 AS aymin,
           ceil(xmax / 0.375) * 0.375 AS axmax,
           ceil(ymax / 0.375) * 0.375 AS aymax,
           CAST(ceil(xmax / 0.375) - floor(xmin / 0.375) AS BIGINT) AS nx,
           CAST(ceil(ymax / 0.375) - floor(ymin / 0.375) AS BIGINT) AS ny
         FROM boxes""",
    "q129_retile" -> retileSql(6, 5, 160, 96),
    "q204_retile_overlap" ->
      // q129's closed-form replay with stride 144/80 (size - overlap)
      retileSql(7, 6, 144, 80),
    "q21_grid_metrics" ->
      s"""WITH pts AS ($ptsSql)
         SELECT CAST(least(greatest(floor((lon + 180.0) / 360.0 * 128), 0), 127) AS BIGINT) AS tx,
           CAST(least(greatest(floor((90.0 - lat) / 180.0 * 64), 0), 63) AS BIGINT) AS ty,
           count(*) AS n, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM pts GROUP BY 1, 2""",
    "q199_grid_data_minmax" ->
      s"""WITH pts AS ($ptsSql)
         SELECT CAST(least(greatest(floor((lon + 180.0) / 360.0 * 128), 0), 127) AS BIGINT) AS tx,
           CAST(least(greatest(floor((90.0 - lat) / 180.0 * 64), 0), 63) AS BIGINT) AS ty,
           CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v_min,
           CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v_max,
           CAST(max(CAST(l_quantity AS BIGINT)) - min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v_range
         FROM pts GROUP BY 1, 2""",
    "q221_grid_nearest" ->
      // exact-integer d² in dyadic 1024ths; lexicographic struct-min
      // replays the engine's deterministic tie law
      s"""WITH pts AS ($ptsSql),
         c AS (
           SELECT CAST(least(greatest(floor((lon + 180.0) / 360.0 * 128), 0), 127) AS BIGINT) AS tx,
             CAST(least(greatest(floor((90.0 - lat) / 180.0 * 64), 0), 63) AS BIGINT) AS ty,
             CAST(lon * 1024 AS BIGINT) AS ilon, CAST(lat * 1024 AS BIGINT) AS ilat,
             pt_id, part_key, supp_key, CAST(l_quantity AS BIGINT) AS v
           FROM pts),
         e AS (
           SELECT tx, ty, pt_id, part_key, supp_key, v,
             (ilon - (-184320 + 2880*tx + 1440)) * (ilon - (-184320 + 2880*tx + 1440))
             + (ilat - (92160 - 2880*ty - 1440)) * (ilat - (92160 - 2880*ty - 1440)) AS d2
           FROM c),
         w AS (
           SELECT tx, ty,
             min(struct_pack(d2 := d2, pt_id := pt_id, part_key := part_key,
               supp_key := supp_key, v := v)) AS w,
             count(*) AS n_pts
           FROM e GROUP BY 1, 2)
         SELECT tx, ty, CAST(w.v AS BIGINT) AS v_near, CAST(w.d2 AS BIGINT) AS d2,
           CAST(w.pt_id AS BIGINT) AS pt_id, n_pts
         FROM w""",
    "q32_extent_agg" ->
      s"""WITH pts AS ($ptsSql)
         SELECT doc_key % 10 AS grp, min(lon) AS min_x, max(lon) AS max_x,
           min(lat) AS min_y, max(lat) AS max_y
         FROM pts GROUP BY 1""",
    "q22_dedup_exact" ->
      """WITH input AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents)
         SELECT min(doc_id) AS keeper_id, count(*) AS dup_count
         FROM input GROUP BY text""",
    "q23_ngram_jaccard" ->
      """WITH base AS (
           SELECT doc_id AS id, lang AS blk, lower(regexp_replace(text, '\s+', ' ', 'g')) AS norm
           FROM documents WHERE length(lower(regexp_replace(text, '\s+', ' ', 'g'))) >= 4),
         grams AS (
           SELECT DISTINCT id, blk, substr(norm, CAST(i.i AS INT), 4) AS g
           FROM base, generate_series(1, 100000) i(i)
           WHERE i.i <= length(base.norm) - 3),
         counts AS (SELECT id, count(*) AS n FROM grams GROUP BY 1),
         inter AS (
           SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
           FROM grams a JOIN grams b ON a.blk = b.blk AND a.g = b.g AND a.id < b.id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
           CAST(floor(CAST(i AS DOUBLE) / (ca.n + cb.n - i) * 1000000) AS BIGINT) AS j_micro
         FROM inter JOIN counts ca ON ca.id = id_a JOIN counts cb ON cb.id = id_b
         WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.6""",
    // q24/q25/q45/q19 oracles are machine-generated (OracleHashSql):
    // exact wrapping-u64 SplitMix64/hash64 arithmetic via HUGEINT, and the
    // warp's mercator+bilinear arithmetic op-for-op — validated bit-exact
    // vs the engine at sf0.001/0.01/0.1.
    "q24_minhash_lsh" -> OracleHashSql.q24MinhashLsh,
    "q25_simhash" -> OracleHashSql.q25Simhash,
    "q45_ann_lsh" -> OracleHashSql.q45AnnLsh,
    "q19_warp_checksum" -> OracleHashSql.q19WarpChecksum,
    "q73_utm_forward" -> OracleHashSql.q73Utm(qptsSql),
    "q76_utm_inverse" -> OracleHashSql.q76UtmInv,
    "q80_lcc_forward" -> OracleHashSql.q80Lcc(qptsSql),
    "q81_lcc_inverse" -> OracleHashSql.q81LccInv,
    "q196_transform_pipeline" -> OracleHashSql.q196Pipeline,
    "q82_rpc_warp" -> OracleHashSql.q82Rpc,
    "q198_rpc_dem_warp" -> OracleHashSql.q198RpcDem,
    "q83_tps_forward" -> OracleHashSql.q83Tps,
    "q85_ps_forward" -> OracleHashSql.q85Ps(qptsSql),
    "q87_bng_forward" -> OracleHashSql.q87Bng,
    "q89_curve_linearize" -> OracleHashSql.q89Curve,
    "q90_rat" -> OracleHashSql.q90Rat,
    "q92_segmentize" -> OracleHashSql.q92Segmentize,
    "q106_lineref" -> OracleHashSql.q106LineRef,
    "q111_simplify" -> OracleHashSql.q111Simplify,
    "q118_layer_identity" -> OracleHashSql.q118LayerIdentity,
    "q126_layer_update" -> OracleHashSql.q126LayerUpdate,
    "q210_layer_erase_symdiff" -> OracleHashSql.q210LayerEraseSymdiff,
    "q120_stream_sessionize" -> OracleHashSql.q120StreamSessionize,
    "q112_kml" -> OracleHashSql.q112Kml,
    "q175_gpx" -> OracleHashSql.q175Gpx,
    "q142_csv_driver" -> OracleHashSql.q142CsvDriver,
    "q159_gml" -> OracleHashSql.q159Gml,
    "q162_shapefile" -> OracleHashSql.q162Shapefile,
    "q144_decontaminate" -> OracleHashSql.q144Decontaminate,
    "q206_bloom_decontaminate" -> OracleHashSql.q206BloomDecontaminate,
    "q113_band_stats" -> OracleHashSql.q113BandStats,
    "q122_gdal2xyz" -> OracleHashSql.q122Gdal2xyz,
    "q123_gdalcompare" -> OracleHashSql.q123GdalCompare,
    "q107_line_substring" -> OracleHashSql.q107LineSub,
    "q98_explode" -> OracleHashSql.q98Explode,
    "q101_geojson" -> OracleHashSql.q101GeoJson,
    "q93_sphere_distance" -> OracleHashSql.q93Sphere,
    "q91_style" -> OracleHashSql.q91Style,
    "q88_bng_inverse" -> OracleHashSql.q88BngInv,
    "q86_ps_inverse" -> OracleHashSql.q86PsInv,
    "q84_tps_warp" -> OracleHashSql.q84Tps,
    "q163_gcp_order2" -> OracleHashSql.q163GcpOrder2,
    "q164_geoloc_warp" -> OracleHashSql.q164Geoloc,
    "q165_approx_warp" -> OracleHashSql.q165ApproxWarp,
    "q168_repetition_quality" ->
      // same normalization as the q24/q29 token law; all-BIGINT counts
      // and truncating-div milli fractions (DuckDB // == Spark div on
      // non-negative operands)
      """WITH norm AS (
           SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS n
           FROM documents),
         toks AS (
           SELECT doc_id, CASE WHEN n = '' THEN CAST([] AS VARCHAR[])
                               ELSE string_split(n, ' ') END AS ts FROM norm),
         words AS (SELECT doc_id, unnest(ts) AS w FROM toks),
         wagg AS (SELECT doc_id, count(*) AS n_words,
                         count(DISTINCT w) AS n_distinct FROM words GROUP BY 1),
         bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(ts)),
                    __i -> ts[__i] || ' ' || ts[__i + 1])) AS g
                FROM toks WHERE len(ts) >= 2),
         bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
         bt AS (SELECT doc_id, max(c) AS top_bigram_n FROM bgc GROUP BY 1)
         SELECT t.doc_id,
           coalesce(w.n_words, 0) AS n_words,
           coalesce(w.n_distinct, 0) AS n_distinct,
           (coalesce(w.n_words, 0) - coalesce(w.n_distinct, 0)) * 1000
             // greatest(coalesce(w.n_words, 0), 1) AS dup_word_milli,
           coalesce(b.top_bigram_n, 0) AS top_bigram_n,
           coalesce(b.top_bigram_n, 0) * 1000
             // greatest(coalesce(w.n_words, 0) - 1, 1) AS top_bigram_milli
         FROM toks t
         LEFT JOIN wagg w ON w.doc_id = t.doc_id
         LEFT JOIN bt b ON b.doc_id = t.doc_id""",
    "q169_dedup_clusters" -> OracleHashSql.q169Clusters,
    "q170_kmeans" -> OracleHashSql.q170Kmeans,
    "q181_pq_quantize" -> OracleHashSql.q181Pq,
    "q182_semdedup" -> OracleHashSql.q182SemDedup,
    "q186_image_dhash_dedup" -> OracleHashSql.q186Dhash,
    "q188_feature_hashing" -> OracleHashSql.q188FeatureHash,
    "q220_quality_classifier" -> OracleHashSql.q220QualityClassifier,
    "q222_t5_span_corrupt" -> OracleHashSql.q222T5Spans,
    "q189_mif_driver" -> OracleHashSql.q189Mif,
    "q203_dxf_driver" -> OracleHashSql.q203Dxf,
    "q190_substr_repetition" -> OracleHashSql.q190SubstrRep,
    "q191_incremental_resume" ->
      // the committed table after resume must equal a plain full recompute
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY 1""",
    "q195_dsir_resample" -> OracleHashSql.q195Dsir,
    "q194_gdalcompare" ->
      // independent replay of the z2 tile pixel law, the corruption law,
      // and the GDAL checksum over both surfaces
      """WITH t AS (SELECT tx.x AS tx, ty.y AS ty
                    FROM generate_series(0, 7) tx(x), generate_series(0, 3) ty(y)),
         px AS (SELECT tx, ty, g.i AS i,
                  CAST((tx*131 + ty*173 + (g.i % 64)*7 + (g.i // 64)*11 + 2) % 256
                       AS BIGINT) AS v
                FROM t, generate_series(0, 4095) g(i)),
         pp AS (SELECT tx, ty, i, v,
                  CASE WHEN (tx*1000 + ty*100 + i) % 997 = 0
                       THEN (v + 5) % 256 ELSE v END AS vp
                FROM px)
         SELECT tx, ty,
           CAST(sum(v * (i % 49 + 1)) % 65535 AS BIGINT) AS cks_golden,
           CAST(sum(vp * (i % 49 + 1)) % 65535 AS BIGINT) AS cks_new,
           CAST(count(*) FILTER (WHERE v <> vp) AS BIGINT) AS n_diff,
           CAST(max(abs(v - vp)) AS BIGINT) AS max_diff
         FROM pp GROUP BY 1, 2""",
    "q193_audio_trim" ->
      // independent replay of the header widths, the gated sample law,
      // the trim scan, and the integer peak-normalization
      """WITH a AS (SELECT s_suppkey AS aid, 64 + s_suppkey % 129 AS n,
                      s_suppkey % 7 AS ld, s_suppkey % 5 AS tl FROM supplier),
         s AS (SELECT aid, n, g.i AS i,
                 CASE WHEN g.i < ld OR g.i >= n - tl THEN 0
                      ELSE (aid*31 + g.i*17) % 256 - 128 END AS smp
               FROM a, generate_series(0, 192) g(i) WHERE g.i < n),
         ns AS (SELECT aid, n,
                  min(i) FILTER (WHERE abs(smp) >= 8) AS first_ns,
                  max(i) FILTER (WHERE abs(smp) >= 8) AS last_ns
                FROM s GROUP BY 1, 2),
         t AS (SELECT s.aid, ns.n, ns.first_ns, ns.last_ns, s.smp
               FROM s JOIN ns ON s.aid = ns.aid
               WHERE s.i BETWEEN ns.first_ns AND ns.last_ns),
         p AS (SELECT aid, max(abs(smp)) AS peak FROM t GROUP BY 1)
         SELECT t.aid, CAST(t.n AS BIGINT) AS n,
           CAST(t.first_ns AS BIGINT) AS first_ns,
           CAST(t.last_ns AS BIGINT) AS last_ns,
           CAST(p.peak AS BIGINT) AS peak,
           CAST(sum((abs(t.smp)*127 // p.peak) * (abs(t.smp)*127 // p.peak))
                AS BIGINT) AS norm_energy
         FROM t JOIN p ON t.aid = p.aid
         GROUP BY 1, 2, 3, 4, 5""",
    "q192_scene_cuts" ->
      // independent replay of the container-header arithmetic, the
      // stand-in luma law, and the lag-diff cut rule
      """WITH v AS (SELECT s_suppkey AS vid, 24 + s_suppkey % 40 AS n FROM supplier),
         f AS (SELECT vid, g.f AS frame FROM v, generate_series(0, 62) g(f)
               WHERE g.f < n),
         l AS (SELECT vid, frame,
                 (vid*31 + (frame // (4 + vid % 5)) * 97) % 229
                   + (vid*7 + frame*13) % 9 AS luma FROM f),
         d AS (SELECT vid, frame, luma,
                 lag(luma) OVER (PARTITION BY vid ORDER BY frame) AS pl FROM l),
         c AS (SELECT vid, frame, abs(luma - pl) AS jump FROM d
               WHERE pl IS NOT NULL)
         SELECT vid,
           CAST(count(*) FILTER (WHERE jump > 32) AS BIGINT) AS n_cuts,
           CAST(min(frame) FILTER (WHERE jump > 32) AS BIGINT) AS first_cut,
           CAST(sum(jump) AS BIGINT) AS diff_energy
         FROM c GROUP BY 1""",
    "q187_aaigrid" ->
      // the ENTIRE AAIGrid file text rebuilt from the z2 pixel law —
      // header by concatenation, body by two ordered string_aggs — plus
      // the q48 checksum over the (identically-parsed) values
      """WITH tiles AS (
           SELECT gx.x AS tx, gy.y AS ty
           FROM generate_series(0, 7) gx(x), generate_series(0, 3) gy(y)),
         px AS (
           SELECT tx, ty, r.r AS r, c.c AS c,
             (tx*131 + ty*173 + c.c*7 + r.r*11 + 2) % 256 AS v
           FROM tiles, generate_series(0, 63) r(r), generate_series(0, 63) c(c)),
         rows_ AS (
           SELECT tx, ty, r, string_agg(CAST(v AS VARCHAR), ' ' ORDER BY c) AS rowstr
           FROM px GROUP BY 1, 2, 3),
         body AS (
           SELECT tx, ty, string_agg(rowstr, chr(10) ORDER BY r) AS b
           FROM rows_ GROUP BY 1, 2),
         cks AS (
           SELECT tx, ty,
             CAST(sum(CAST(v AS BIGINT) * ((r*64 + c) % 49 + 1)) % 65535 AS INT) AS cks
           FROM px GROUP BY 1, 2)
         SELECT CAST(b.tx AS BIGINT) AS tx, CAST(b.ty AS BIGINT) AS ty,
           CAST(length(
             'ncols 64' || chr(10) || 'nrows 64' || chr(10) ||
             'xllcorner ' || CAST(b.tx*64 AS VARCHAR) || chr(10) ||
             'yllcorner ' || CAST(b.ty*64 AS VARCHAR) || chr(10) ||
             'cellsize 1' || chr(10) || 'NODATA_value -9999' || chr(10) || b.b
           ) AS BIGINT) AS aai_len,
           CAST(b.tx*64 AS BIGINT) AS xll_back, CAST(b.ty*64 AS BIGINT) AS yll_back,
           CAST(-9999 AS BIGINT) AS nodata_back, c.cks AS cks
         FROM body b JOIN cks c ON c.tx = b.tx AND c.ty = b.ty""",
    "q184_lm_surprisal" ->
      // the q147 token/idf integer laws re-aimed at per-doc scoring:
      // surprisal surrogate = (total·1000) // cnt, doc score = floor mean
      s"""WITH $tokensSql,
         $surprisalSql
         SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(surp_sum // n_tokens AS BIGINT) AS score_milli
         FROM sc""",
    "q205_ccnet_buckets" ->
      // q184's surprisal replica, then per-lang tercile THRESHOLDS from
      // the (lang, score) histogram; ties stay in the lower bucket
      s"""WITH $tokensSql,
         $surprisalSql,
         scored AS (
           SELECT s.doc_id, d.lang, CAST(s.surp_sum // s.n_tokens AS BIGINT) AS score_milli
           FROM sc s JOIN documents d USING (doc_id)),
         hist AS (SELECT lang, score_milli, count(*) AS cnt FROM scored GROUP BY 1, 2),
         cum AS (
           SELECT lang, score_milli,
             sum(cnt) OVER (PARTITION BY lang ORDER BY score_milli) AS cum,
             sum(cnt) OVER (PARTITION BY lang) AS n
           FROM hist),
         th AS (
           SELECT lang,
             min(CASE WHEN cum * 3 >= n THEN score_milli END) AS t1,
             min(CASE WHEN cum * 3 >= 2 * n THEN score_milli END) AS t2
           FROM cum GROUP BY 1)
         SELECT s.doc_id, s.lang, s.score_milli,
           CASE WHEN s.score_milli <= th.t1 THEN 'head'
                WHEN s.score_milli <= th.t2 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM scored s JOIN th USING (lang)""",
    "q202_bigram_backoff" ->
      // Stupid Backoff replica: bigram leg (cnt2·1000)//c(prev), backoff
      // (cnt1·400)//N, first token (cnt1·1000)//N, unseen unigram -> 0
      """WITH toks0 AS (
           SELECT doc_id, doc_id % 16 = 0 AS in_model,
             generate_subscripts(arr, 1) AS pos, unnest(arr) AS term
           FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS arr
                 FROM documents)),
         toks AS (SELECT * FROM toks0 WHERE term <> ''),
         seq AS (
           SELECT doc_id, in_model, pos, term,
             lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
           FROM toks),
         uni AS (SELECT term, count(*) AS cnt1 FROM seq WHERE in_model GROUP BY 1),
         tot AS (SELECT sum(cnt1) AS n FROM uni),
         bi AS (SELECT prev, term, count(*) AS cnt2 FROM seq
                WHERE in_model AND prev IS NOT NULL GROUP BY 1, 2),
         sc AS (
           SELECT s.doc_id,
             CASE WHEN s.prev IS NULL THEN coalesce(u.cnt1, 0) * 1000 // tot.n
                  WHEN b.cnt2 IS NOT NULL THEN b.cnt2 * 1000 // c.cnt1
                  ELSE coalesce(u.cnt1, 0) * 400 // tot.n END AS s_milli
           FROM seq s
           LEFT JOIN uni u ON u.term = s.term
           LEFT JOIN bi b ON b.prev = s.prev AND b.term = s.term
           LEFT JOIN uni c ON c.term = s.prev, tot),
         grp AS (SELECT doc_id, count(*) AS n_tokens, sum(s_milli) AS s_sum FROM sc GROUP BY 1)
         SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(s_sum // n_tokens AS BIGINT) AS score_milli
         FROM grp""",
    "q185_mixture_resample" ->
      // same weight CASE, lateral range expansion = explode(sequence)
      """WITH w AS (
           SELECT doc_id, source,
             CASE WHEN source IN ('src0','src3') THEN 3
                  WHEN source = 'src5' THEN 2 + doc_id % 2
                  WHEN source IN ('src1','src7') THEN 2
                  ELSE 1 END AS w
           FROM documents),
         e AS (SELECT doc_id, source, unnest(range(1, w + 1)) AS epoch FROM w)
         SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch,
           doc_id * 10 + epoch - 1 AS sample_id
         FROM e""",
    "q183_seq_pack" ->
      // the same fp/ws-token laws as q31/q29, then concat-then-chunk:
      // global offset = running token sum in (fp, doc_id) order (a plain
      // window here — the ENGINE does the same scan as a two-phase
      // distributed prefix sum), seq ids = floor-divided slice positions
      """WITH t AS (
           SELECT doc_id,
             CAST(list_reduce(
               list_prepend(CAST(0 AS HUGEINT),
                 list_transform(range(1, length(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))) + 1),
                   i -> CAST(unicode(substr(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), CAST(i AS INT), 1)) AS HUGEINT))),
               (acc, x) -> (acc * 257 + x) % 2305843009213693951) AS BIGINT) AS fp,
             CAST(len(string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         o AS (
           SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY fp, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
           FROM t)
         SELECT doc_id, n_tokens, "offset",
           "offset" // 512 AS seq_id,
           ("offset" + n_tokens - 1) // 512 - "offset" // 512 + 1 AS n_seqs
         FROM o""",
    "q180_sq8_quantize" ->
      // replays lattice quantization, per-dim bounds, affine code, and
      // integer reconstruction; generate_subscripts is 1-based == the
      // Spark weight sequence(1, dim); all div operands non-negative so
      // '//' == 'div'.
      """WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor((CAST(x AS DOUBLE) + 2.0) * 1048576.0) AS BIGINT)) AS qv
           FROM embeddings),
         px AS (SELECT vec_id, unnest(qv) AS v, generate_subscripts(qv, 1) AS i FROM q),
         dims AS (SELECT i, min(v) AS lo, max(v) AS hi FROM px GROUP BY 1),
         c AS (
           SELECT p.vec_id, p.i, p.v, d.lo, d.hi,
             ((p.v - d.lo) * 255) // greatest(d.hi - d.lo, 1) AS code
           FROM px p JOIN dims d ON d.i = p.i),
         r AS (SELECT vec_id, i, v, code,
                 lo + (code * (hi - lo)) // 255 AS recon FROM c)
         SELECT vec_id,
           CAST(sum(code * i) AS BIGINT) AS code_cks,
           CAST(sum((v - recon) * (v - recon)) AS BIGINT) AS err
         FROM r GROUP BY 1""",
    "q179_gopher_rules" ->
      // replays the injection law and all five Gopher rules; DuckDB's
      // list_reduce has no init value, so the word-length sum prepends a
      // 0 (matching Spark's aggregate(w, 0L, ...)); integer-div milli
      // fractions on both engines, '//' == 'div' on non-negative BIGINTs.
      """WITH d AS (
           SELECT doc_id,
             text || CASE WHEN doc_id % 3 != 0 THEN ' of that' ELSE '' END
                  || CASE WHEN doc_id % 7 = 0 THEN ' ### a#b c...d' ELSE '' END
                  || CASE WHEN doc_id % 13 = 0 THEN repeat(' 42 7', 15) ELSE '' END AS t
           FROM documents),
         wds AS (SELECT doc_id, string_split(trim(regexp_replace(t, '\s+', ' ', 'g')), ' ') AS w FROM d),
         sig AS (
           SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(w, x -> CAST(length(x) AS BIGINT))), (a, b) -> a + b)
               * 1000 // greatest(len(w), 1) AS BIGINT) AS mean_wlen_milli,
             CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
               * 1000 // greatest(len(w), 1) AS BIGINT) AS alpha_frac_milli,
             CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
                 sw -> list_contains(w, sw))) AS BIGINT) AS n_stop,
             CAST(len(list_filter(w, x -> x LIKE '%#%' OR x LIKE '%...%'))
               * 1000 // greatest(len(w), 1) AS BIGINT) AS sym_frac_milli
           FROM wds)
         SELECT doc_id, n_words, mean_wlen_milli, alpha_frac_milli, n_stop, sym_frac_milli,
           CASE WHEN n_words BETWEEN 50 AND 100000
                 AND mean_wlen_milli BETWEEN 3000 AND 10000
                 AND alpha_frac_milli >= 800 AND n_stop >= 2 AND sym_frac_milli <= 100
            THEN 'keep' ELSE 'drop' END AS verdict
         FROM sig""",
    "q178_span_dedup" ->
      // replays the shifted-copy corpus law and the span-dedup rule with
      // the span KEY as lower(15-word window) — a 3-line join by ' ' over
      // 5-word lines IS the (clamped) 15-word word-slice, and lower()
      // matches fingerprint64's normalization (the corpus words are
      // already single-space separated, so ws-collapse is a no-op).
      // Keeper = row_number 1 ordered by (doc_id, start) == min struct.
      """WITH base AS (
           SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS w
           FROM documents),
         corpus AS (
           SELECT doc_id, w FROM base
           UNION ALL
           SELECT doc_id + 1000000, list_slice(w, 6, len(w)) FROM base WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id + 2000000, list_slice(w, 11, len(w)) FROM base WHERE doc_id % 5 = 0),
         d2 AS (SELECT doc_id, w, (len(w) + 4) // 5 AS n_lines FROM corpus),
         spans AS (
           SELECT doc_id, CAST(i.i AS BIGINT) AS start,
             lower(array_to_string(list_slice(w, i.i*5 + 1, i.i*5 + 15), ' ')) AS spankey
           FROM d2, generate_series(0, 39) i(i) WHERE i.i <= n_lines - 3),
         marked AS (
           SELECT doc_id, start,
             count(*) OVER (PARTITION BY spankey) AS cnt,
             row_number() OVER (PARTITION BY spankey ORDER BY doc_id, start) AS rn
           FROM spans),
         removed AS (SELECT doc_id, start FROM marked WHERE cnt > 1 AND rn > 1),
         covered AS (
           SELECT DISTINCT r.doc_id, r.start + o.o AS li
           FROM removed r, generate_series(0, 2) o(o)),
         cov_agg AS (SELECT doc_id, count(*) AS n_cov FROM covered GROUP BY 1),
         rem_agg AS (SELECT doc_id, count(*) AS n_rem FROM removed GROUP BY 1)
         SELECT d.doc_id, CAST(d.n_lines AS BIGINT) AS n_lines,
           CAST(greatest(d.n_lines - 2, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(r.n_rem, 0) AS BIGINT) AS removed_spans,
           CAST(d.n_lines - coalesce(c.n_cov, 0) AS BIGINT) AS kept_lines
         FROM d2 d LEFT JOIN rem_agg r ON r.doc_id = d.doc_id
         LEFT JOIN cov_agg c ON c.doc_id = d.doc_id""",
    "q177_c4_clean" ->
      // replays the deterministic line law (5-word chunks, %17 blocklist
      // injection, (doc_id+i)%3 punctuation) AND the C4 keep/drop rules;
      // DuckDB list_slice(a, lo, hi) is inclusive-bounded where Spark
      // slice(a, lo, n) is length-bounded — lo..lo+4 == length 5.
      // cleaned_len = sum(kept line lengths) + (kept-1) newline joiners.
      """WITH d2 AS (
           SELECT doc_id,
             string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words,
             (len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) + 4) // 5 AS n_lines
           FROM documents),
         lns AS (
           SELECT d.doc_id, d.n_lines,
             concat(
               array_to_string(list_slice(d.words, i.i*5 + 1, i.i*5 + 5), ' '),
               CASE WHEN d.doc_id % 17 = 0 AND i.i = 1 THEN ' lorem ipsum' ELSE '' END,
               CASE WHEN (d.doc_id + i.i) % 3 != 0 THEN '.' ELSE '' END) AS line
           FROM d2 d, generate_series(0, 39) i(i)
           WHERE i.i < d.n_lines),
         graded AS (
           SELECT doc_id, n_lines, line,
             ((line LIKE '%.' OR line LIKE '%!' OR line LIKE '%?')
               AND len(string_split(line, ' ')) >= 3) AS keep,
             (line LIKE '%lorem ipsum%' OR line LIKE '%{%') AS bad
           FROM lns)
         SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
           CAST(count(*) FILTER (keep) AS BIGINT) AS kept_lines,
           CASE WHEN bool_or(bad) OR count(*) FILTER (keep) < 3
                THEN 'drop' ELSE 'keep' END AS verdict,
           CAST(coalesce(sum(length(line)) FILTER (keep), 0)
             + greatest(count(*) FILTER (keep) - 1, 0) AS BIGINT) AS cleaned_len
         FROM graded GROUP BY doc_id, n_lines""",
    "q174_approx_stats" ->
      // decimated lattice replayed from the zoom-3 synth law; the lattice
      // in GLOBAL pixel coords == per-tile (px % 4 = 0, py % 4 = 0)
      // because 64 % 4 = 0
      """WITH px AS (
           SELECT CAST((t.tx*131 + t.ty*173 + (i.i % 64)*7 + (i.i // 64)*11 + 3) % 256 AS BIGINT) AS v
           FROM (SELECT gx.x AS tx, gy.y AS ty
                 FROM generate_series(0, 15) gx(x), generate_series(0, 7) gy(y)) t,
                generate_series(0, 4095) i(i)
           WHERE i.i % 64 % 4 = 0 AND i.i // 64 % 4 = 0)
         SELECT count(*) AS n, min(v) AS vmin, max(v) AS vmax,
           CAST(sum(v) AS BIGINT) AS vsum,
           CAST((sum(v) * 1000) // count(*) AS BIGINT) AS mean_milli
         FROM px""",
    "q173_contour_polygons" ->
      // q33's transitive closure with a band (lvl) column: edges connect
      // only same-band neighbors, components keyed (lvl, label)
      s"""WITH $maskPixelsSql,
         nodes AS (
           SELECT gx, gy, gy * 64 + gx AS id,
             CAST(CASE WHEN v < 4 THEN 0 WHEN v < 8 THEN 1
                       WHEN v < 12 THEN 2 ELSE 3 END AS BIGINT) AS lvl
           FROM px),
         edges AS (
           SELECT a.id AS a, b.id AS b FROM nodes a JOIN nodes b
             ON a.lvl = b.lvl AND
                ((b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1))
           UNION ALL
           SELECT b.id AS a, a.id AS b FROM nodes a JOIN nodes b
             ON a.lvl = b.lvl AND
                ((b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1))),
         $minLabelSql
         SELECT n.lvl, l.label, count(*) AS n_pixels,
           min(n.gx) AS min_gx, max(n.gx) AS max_gx,
           min(n.gy) AS min_gy, max(n.gy) AS max_gy
         FROM lbl l JOIN nodes n ON n.id = l.id GROUP BY 1, 2""",
    "q172_stratified_sample" ->
      // q145's rolling-hash law (mod 2^61-1, always non-negative, so
      // BIGINT order matches Spark's) ranked within (lang, source)
      """WITH fp AS (
           SELECT doc_id, lang, source,
             CAST(list_reduce(
               list_prepend(CAST(0 AS HUGEINT),
                 list_transform(range(1, length(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))) + 1),
                   i -> CAST(unicode(substr(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), CAST(i AS INT), 1)) AS HUGEINT))),
               (acc, x) -> (acc * 257 + x) % 2305843009213693951) AS BIGINT) AS fp
           FROM documents),
         rk AS (
           SELECT doc_id, lang, source, fp,
             row_number() OVER (PARTITION BY lang, source ORDER BY fp, doc_id) AS srank,
             count(*) OVER (PARTITION BY lang, source) AS n
           FROM fp)
         SELECT doc_id, lang, source, CAST(srank AS BIGINT) AS srank
         FROM rk WHERE srank <= (n + 4) // 5""",
    "q171_ivf_topk" -> OracleHashSql.q171Ivf,
    "q167_viewshed" ->
      // exact R3 line-of-sight replay: same DDA rounding (non-negative
      // numerator, so DuckDB // == Spark div) and the same BIGINT
      // cross-multiplied clearance margin — no floats anywhere
      """WITH dem AS (
           SELECT gx.x AS x, gy.y AS y,
             ((gx.x // 16) * 131 + (gy.y // 16) * 173
              + (gx.x % 16) * 7 + (gy.y % 16) * 11) % 256 AS elev
           FROM generate_series(0, 127) gx(x), generate_series(0, 127) gy(y)),
         obs AS (SELECT elev + 30 AS e_obs FROM dem WHERE x = 64 AND y = 64),
         tgt AS (
           SELECT d.x, d.y, greatest(abs(d.x - 64), abs(d.y - 64)) AS n,
                  d.elev AS e_t, o.e_obs
           FROM dem d, obs o
           WHERE greatest(abs(d.x - 64), abs(d.y - 64)) BETWEEN 1 AND 60),
         smp0 AS (
           SELECT t.x, t.y, t.n, t.e_t, t.e_obs, unnest(range(1, t.n)) AS k
           FROM tgt t WHERE t.n >= 2),
         smp AS (
           SELECT x, y, n, e_t, e_obs, k,
             64 + (CASE WHEN x > 64 THEN 1 WHEN x < 64 THEN -1 ELSE 0 END)
               * ((2 * k * abs(x - 64) + n) // (2 * n)) AS xs,
             64 + (CASE WHEN y > 64 THEN 1 WHEN y < 64 THEN -1 ELSE 0 END)
               * ((2 * k * abs(y - 64) + n) // (2 * n)) AS ys
           FROM smp0),
         mar AS (
           SELECT s.x, s.y,
             min((s.e_t - s.e_obs) * s.k - (d.elev - s.e_obs) * s.n) AS mm
           FROM smp s JOIN dem d ON d.x = s.xs AND d.y = s.ys
           GROUP BY 1, 2)
         SELECT t.x, t.y,
           CAST(CASE WHEN coalesce(m.mm, 0) >= 0 THEN 255 ELSE 0 END AS INTEGER) AS vis
         FROM tgt t LEFT JOIN mar m ON m.x = t.x AND m.y = t.y""",
    "q166_complex_bands" ->
      // complex derived bands + (3-4i) multiply replayed from the synth
      // pixel formula; sqrt path is bit-exact (integer radicand), atan2
      // is mrad-quantized with authored margin (CoreSpec census)
      """WITH tiles AS (
           SELECT gx.x AS tx, gy.y AS ty
           FROM generate_series(0, 15) gx(x), generate_series(0, 7) gy(y)),
         px AS (
           SELECT t.tx, t.ty,
             (t.tx*131 + t.ty*173 + (i.i % 64)*7 + (i.i // 64)*11 + 3) % 256 AS v
           FROM tiles t, generate_series(0, 4095) i(i)),
         c AS (
           SELECT tx, ty, v - 128 AS a, (v * 7 + 31) % 256 - 128 AS b
           FROM px)
         SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
           CAST(sum(a) AS BIGINT) AS re_sum,
           CAST(sum(b) AS BIGINT) AS im_sum,
           CAST(-sum(b) AS BIGINT) AS conj_im_sum,
           CAST(sum(CAST(floor(sqrt(CAST(a*a + b*b AS DOUBLE)) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS mag_cm,
           CAST(sum(CAST(floor(atan2(CAST(b AS DOUBLE), CAST(a AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT)) AS BIGINT) AS phase_mrad,
           CAST(sum(3*a + 4*b) AS BIGINT) AS mul_re_sum,
           CAST(sum(3*b - 4*a) AS BIGINT) AS mul_im_sum
         FROM c GROUP BY 1, 2""",
    "q79_gcp_warp" ->
      // independent Cramer solve of the SAME 3-GCP system (generic det3
      // formulas over the literals, sign-normalized so den > 0), then the
      // exact floor-div sampling: fld(n, d) = (n - ((n % d) + d) % d) / d
      // — identical to Java's Math.floorDiv for d > 0. Tiles with no
      // in-grid sample drop (HAVING count(val) > 0 = the engine's `any`).
      """WITH gc AS (
           SELECT 0 AS x1, 0 AS y1, 7 AS u1, 11 AS v1,
                  64 AS x2, 0 AS y2, 87 AS u2, 27 AS v2,
                  0 AS x3, 64 AS y3, -9 AS u3, 75 AS v3),
         cf0 AS (
           SELECT
             1*(x2*y3 - y2*x3) - x1*(1*y3 - y2*1) + y1*(1*x3 - x2*1) AS d,
             u1*(x2*y3 - y2*x3) - x1*(u2*y3 - y2*u3) + y1*(u2*x3 - x2*u3) AS a0r,
             1*(u2*y3 - y2*u3) - u1*(1*y3 - y2*1) + y1*(1*u3 - u2*1) AS a1r,
             1*(x2*u3 - u2*x3) - x1*(1*u3 - u2*1) + u1*(1*x3 - x2*1) AS a2r,
             v1*(x2*y3 - y2*x3) - x1*(v2*y3 - y2*v3) + y1*(v2*x3 - x2*v3) AS b0r,
             1*(v2*y3 - y2*v3) - v1*(1*y3 - y2*1) + y1*(1*v3 - v2*1) AS b1r,
             1*(x2*v3 - v2*x3) - x1*(1*v3 - v2*1) + v1*(1*x3 - x2*1) AS b2r
           FROM gc),
         cf AS (
           SELECT CAST(sg*d AS BIGINT) AS den,
             CAST(sg*a0r AS BIGINT) AS a0, CAST(sg*a1r AS BIGINT) AS a1, CAST(sg*a2r AS BIGINT) AS a2,
             CAST(sg*b0r AS BIGINT) AS b0, CAST(sg*b1r AS BIGINT) AS b1, CAST(sg*b2r AS BIGINT) AS b2
           FROM (SELECT *, CASE WHEN d < 0 THEN -1 ELSE 1 END AS sg FROM cf0)),
         px AS (
           SELECT dx.i AS gdx, dy.i AS gdy
           FROM generate_series(0, 1023) dx(i), generate_series(0, 511) dy(i)),
         m AS (
           SELECT gdx, gdy,
             a0 + a1*gdx + a2*gdy AS nx, b0 + b1*gdx + b2*gdy AS ny, den
           FROM px, cf),
         sm AS (
           SELECT gdx, gdy,
             (nx - ((nx % den) + den) % den) // den AS sgx,
             (ny - ((ny % den) + den) % den) // den AS sgy
           FROM m),
         v AS (
           SELECT gdx, gdy,
             CASE WHEN sgx >= 0 AND sgx < 1024 AND sgy >= 0 AND sgy < 512
               THEN ((sgx // 64)*131 + (sgy // 64)*173 + (sgx % 64)*7 + (sgy % 64)*11 + 3) % 256
               ELSE NULL END AS val
           FROM sm),
         t AS (
           SELECT gdx // 64 AS tx, gdy // 64 AS ty,
             (gdy % 64) * 64 + gdx % 64 AS i, val
           FROM v)
         SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
           CAST(sum(CAST(coalesce(val, 0) AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM t GROUP BY 1, 2 HAVING count(val) > 0""",
    "q78_vrt_compose" ->
      // full VRTComplexSource replica: same closed-form source pixels,
      // same per-source chain op order (nodata=null, scale·v+offset, LUT
      // y_i + ((v-x_i)·Δy)/Δx), same priority coalesce and milli checksum
      """WITH tiles AS (
           SELECT gx.x AS tx, gy.y AS ty FROM generate_series(0, 15) gx(x), generate_series(0, 7) gy(y)),
         px AS (
           SELECT t.tx, t.ty, i.i AS i,
             CAST((t.tx*131 + t.ty*173 + (i.i % 64)*7 + (i.i // 64)*11 + 3) % 256 AS DOUBLE) AS p
           FROM tiles t, generate_series(0, 4095) i(i)),
         s1 AS (
           SELECT tx, ty, i,
             CASE WHEN p = 13.0 THEN NULL ELSE p * 0.5 + 16.0 END AS v
           FROM px),
         s2p AS (
           SELECT tx, ty, i, CAST((CAST(p AS BIGINT) * 7 + 31) % 256 AS DOUBLE) AS p
           FROM px WHERE tx % 2 = 0),
         s2 AS (
           SELECT tx, ty, i,
             CASE WHEN p = 50.0 THEN NULL ELSE
               CASE WHEN (p * 1.0 + 0.0) <= 0.0 THEN 0.0
                    WHEN (p * 1.0 + 0.0) <= 128.0 THEN 0.0 + (((p * 1.0 + 0.0) - 0.0) * 64.0) / 128.0
                    WHEN (p * 1.0 + 0.0) <= 255.0 THEN 64.0 + (((p * 1.0 + 0.0) - 128.0) * 191.0) / 127.0
                    ELSE 255.0 END
             END AS v
           FROM s2p),
         comb AS (
           SELECT a.tx, a.ty, a.i, coalesce(b.v, a.v, 0.0) AS v
           FROM s1 a LEFT JOIN s2 b ON b.tx = a.tx AND b.ty = a.ty AND b.i = a.i)
         SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
           CAST(sum(CAST(floor(v * 1000.0 + 0.5) AS BIGINT) * (i % 49 + 1)) % 65535 AS BIGINT) AS cks_milli
         FROM comb GROUP BY 1, 2""",
    "q77_jpeg_roundtrip" ->
      // JPEG is lossy — no pixel checksum can hold. The oracle pins the
      // property contract the engine computes over the real codec: the
      // decoded shape is exactly 64x64 and every per-pixel deviation is
      // within the quality-1.0 DCT-rounding bound. A codec defect (wrong
      // plugin, shape drift, quant-table surprise) flips a row.
      """WITH tiles AS (
           SELECT gx.x AS tx, gy.y AS ty FROM generate_series(0, 15) gx(x), generate_series(0, 7) gy(y))
         SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
           CAST(4096 AS INT) AS n_px, TRUE AS err_le_2 FROM tiles""",
    "q74_cutline_blend" -> q74CutlineBlendSql,
    "q35_sieve" -> q35SieveSql,
    "q116_sieve8" -> q116Sieve8Sql,
    "q75_dither" -> OracleHashSql.q75Dither,
    "q42_contour_stitch" -> q42StitchSql,
    "q57_contour_lines" -> q57PolylinesSql,
    "q34_polygonize_rings" -> q34RingsSql,
    "q26_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             (SELECT CAST(sum(CAST(floor(CAST(q.qv[i.i] AS DOUBLE)*1000000.0) AS BIGINT)
                         * CAST(floor(CAST(e.embedding[i.i] AS DOUBLE)*1000000.0) AS BIGINT)) AS BIGINT)
              FROM generate_series(1, 64) i(i)) AS score
           FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id)
         SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, score FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
           FROM scored) WHERE rnk <= 5""",
    "q27_lang_id" ->
      """WITH toks AS (
           SELECT doc_id, string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ts
           FROM documents),
         scores AS (
           SELECT doc_id,
             len(list_filter(ts, x -> x IN ('the','and','of','to','a'))) AS s_en,
             len(list_filter(ts, x -> x IN ('der','und','die','nicht','ist'))) AS s_de,
             len(list_filter(ts, x -> x IN ('le','la','et','les','des'))) AS s_fr,
             len(list_filter(ts, x -> x IN ('el','la','de','que','los'))) AS s_es,
             len(list_filter(ts, x -> x IN ('的','是','了','在','我'))) AS s_zh
           FROM toks)
         SELECT doc_id,
           CASE
             WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
             WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
             WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
             WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
             WHEN s_es >= s_zh THEN 'es'
             ELSE 'zh' END AS pred_lang
         FROM scores""",
    "q28_quality" ->
      """WITH n AS (
           SELECT doc_id, trim(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM documents),
         feat AS (
           SELECT doc_id,
             CASE WHEN length(norm) >= 20 AND length(norm) <= 2000 THEN 1.0 ELSE 0.0 END AS len_ok,
             CAST(length(regexp_replace(norm, '[^a-z ]', '', 'g')) AS DOUBLE) / length(norm) AS alpha_ratio,
             CASE WHEN CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(string_split(norm, ' ')) >= 2.0
                   AND CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(string_split(norm, ' ')) <= 12.0
                  THEN 1.0 ELSE 0.0 END AS word_ok
           FROM n WHERE length(norm) > 0)
         SELECT doc_id,
           CAST(floor((len_ok + alpha_ratio + word_ok) / 3.0 * 1000000) AS BIGINT) AS q_micro
         FROM feat""",
    "q29_token_count" ->
      """SELECT doc_id,
         CAST(len(string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens
         FROM documents""",
    "q30_sessionize" ->
      """WITH g AS (
           SELECT user_id, event_id, ts,
             epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
           FROM events),
         s AS (
           SELECT user_id, event_id,
             sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM g)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events, min(event_id) AS first_event
         FROM s GROUP BY 1, 2""",
    "q33_polygonize_comps" ->
      // connected components of the synthetic mask (v < 7) on the zoom-2
      // 8x8-tile grid via recursive transitive closure; label = min pixel id
      s"""WITH $maskPixelsSql,
         nodes AS (SELECT gx, gy, gy * 64 + gx AS id FROM px WHERE v < 7),
         edges AS (
           SELECT a.id AS a, b.id AS b FROM nodes a JOIN nodes b
             ON (b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1)
           UNION ALL
           SELECT b.id AS a, a.id AS b FROM nodes a JOIN nodes b
             ON (b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1)),
         $minLabelSql
         SELECT l.label, count(*) AS n_pixels,
           min(n.gx) AS min_gx, max(n.gx) AS max_gx,
           min(n.gy) AS min_gy, max(n.gy) AS max_gy
         FROM lbl l JOIN nodes n ON n.id = l.id GROUP BY 1""",
    "q200_footprint" ->
      // the q33 closure restricted to SAME-TILE edges (scenes are
      // independent), valid mask v >= 8, bbox georeferenced at 5.625°/px
      s"""WITH px AS (
           SELECT t.tx AS tx, t.ty AS ty,
                  (t.tx * 8 + i.i % 8) AS gx, (t.ty * 8 + i.i // 8) AS gy,
                  (t.tx*131 + t.ty*173 + (i.i % 8)*7 + (i.i // 8)*11) % 16 AS v
           FROM (SELECT gx.x AS tx, gy.y AS ty
                 FROM generate_series(0, 7) gx(x), generate_series(0, 3) gy(y)) t,
                generate_series(0, 63) i(i)),
         nodes AS (SELECT tx, ty, gx, gy, gy * 64 + gx AS id FROM px WHERE v >= 8),
         edges AS (
           SELECT a.id AS a, b.id AS b FROM nodes a JOIN nodes b
             ON a.tx = b.tx AND a.ty = b.ty
            AND ((b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1))
           UNION ALL
           SELECT b.id AS a, a.id AS b FROM nodes a JOIN nodes b
             ON a.tx = b.tx AND a.ty = b.ty
            AND ((b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1))),
         $minLabelSql
         SELECT CAST(n.tx AS BIGINT) AS tx, CAST(n.ty AS BIGINT) AS ty,
           CAST(l.label AS BIGINT) AS label, count(*) AS n_pixels,
           -180.0 + min(n.gx) * 5.625 AS lon_min,
           -180.0 + (max(n.gx) + 1) * 5.625 AS lon_max,
           90.0 - (max(n.gy) + 1) * 5.625 AS lat_min,
           90.0 - min(n.gy) * 5.625 AS lat_max
         FROM lbl l JOIN nodes n ON n.id = l.id
         GROUP BY 1, 2, 3""",
    "q114_polygonize8" ->
      // the q33 closure with the two diagonal adjacency offsets added —
      // 8-connected components (the reverse UNION ALL covers the other
      // two diagonal directions)
      s"""WITH $maskPixelsSql,
         nodes AS (SELECT gx, gy, gy * 64 + gx AS id FROM px WHERE v < 3),
         edges AS (
           SELECT a.id AS a, b.id AS b FROM nodes a JOIN nodes b
             ON (b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1)
             OR (b.gx = a.gx + 1 AND b.gy = a.gy + 1) OR (b.gx = a.gx + 1 AND b.gy = a.gy - 1)
           UNION ALL
           SELECT b.id AS a, a.id AS b FROM nodes a JOIN nodes b
             ON (b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1)
             OR (b.gx = a.gx + 1 AND b.gy = a.gy + 1) OR (b.gx = a.gx + 1 AND b.gy = a.gy - 1)),
         $minLabelSql
         SELECT l.label, count(*) AS n_pixels,
           min(n.gx) AS min_gx, max(n.gx) AS max_gx,
           min(n.gy) AS min_gy, max(n.gy) AS max_gy
         FROM lbl l JOIN nodes n ON n.id = l.id GROUP BY 1""",
    "q36_focal_tri" -> focalOracle("tri"),
    "q232_tri_riley" -> focalOracle("tri_riley"),
    "q37_focal_tpi" -> focalOracle("tpi"),
    "q38_focal_roughness" -> focalOracle("roughness"),
    "q39_hillshade" -> hillshadeOracle,
    "q94_slope" -> slopeOracle,
    "q108_slope_zt" -> slopeZtOracle,
    "q117_slope_pct" -> slopePctOracle,
    "q124_hillshade_params" -> hillshadeParamsOracle,
    "q125_aspect_trig" -> aspectTrigOracle,
    "q109_aspect_zt" -> aspectZtOracle,
    "q110_hillshade_zt" -> hillshadeZtOracle,
    "q97_nearblack" ->
      // per-row bounds = min/max gx with v > 6; all-collar rows get the
      // engine's (2^62, −1) sentinels so the between-test replays exactly
      """WITH px AS (
           SELECT gx.x AS gx, gy.y AS gy,
             CAST(((gx.x // 8) * 131 + (gy.y // 8) * 173
               + (gx.x % 8) * 7 + (gy.y % 8) * 11) % 16 AS DOUBLE) AS v
           FROM generate_series(0, 63) gx(x), generate_series(0, 31) gy(y)),
         b AS (
           SELECT gy,
             coalesce(min(CASE WHEN abs(v - 0.0) > 6.0 THEN gx END), 4611686018427387904) AS l,
             coalesce(max(CASE WHEN abs(v - 0.0) > 6.0 THEN gx END), -1) AS r
           FROM px GROUP BY gy)
         SELECT p.gx, p.gy,
           CASE WHEN p.gx >= b.l AND p.gx <= b.r THEN p.v ELSE 255.0 END AS val
         FROM px p JOIN b ON b.gy = p.gy""",
    "q95_aspect" -> aspectOracle,
    "q96_hillshade_md" -> hillshadeMdOracle,
    "q99_hillshade_combined" -> hillshadeCombinedOracle,
    "q100_locationinfo" -> locationInfoOracle,
    "q102_translate_scale" -> translateScaleOracle,
    "q103_clipsrc" -> clipsrcOracle,
    "q104_identify" -> identifyOracle,
    "q105_wrapdateline" -> wrapDatelineOracle,
    "q40_proximity" ->
      """WITH px AS (
           SELECT gx.x AS gx, gy.y AS gy,
             ((gx.x // 8)*131 + (gy.y // 8)*173 + (gx.x % 8)*7 + (gy.y % 8)*11) % 16 AS v
           FROM generate_series(0, 63) gx(x), generate_series(0, 31) gy(y)),
         t AS (SELECT gx, gy FROM px WHERE v < 1)
         SELECT p.gx, p.gy,
           min((p.gx - t.gx)*(p.gx - t.gx) + (p.gy - t.gy)*(p.gy - t.gy)) AS dist2
         FROM px p CROSS JOIN t
         GROUP BY 1, 2
         HAVING min((p.gx - t.gx)*(p.gx - t.gx) + (p.gy - t.gy)*(p.gy - t.gy)) <= 100""",
    "q134_proximity_buffer" ->
      // fixed-buf semantics: 7 where a 3-valued pixel lies within
      // d2 <= 2.25 (integer d2 <= 2), 99 elsewhere, all 2048 pixels emitted
      """WITH px AS (
           SELECT gx.x AS gx, gy.y AS gy,
             ((gx.x // 8)*131 + (gy.y // 8)*173 + (gx.x % 8)*7 + (gy.y % 8)*11) % 16 AS v
           FROM generate_series(0, 63) gx(x), generate_series(0, 31) gy(y)),
         t AS (SELECT gx, gy FROM px WHERE v = 3),
         near AS (
           SELECT DISTINCT p.gx, p.gy
           FROM px p JOIN t
             ON (p.gx - t.gx)*(p.gx - t.gx) + (p.gy - t.gy)*(p.gy - t.gy) <= 2)
         SELECT p.gx, p.gy,
           CASE WHEN n.gx IS NOT NULL THEN 7.0 ELSE 99.0 END AS val
         FROM px p LEFT JOIN near n ON n.gx = p.gx AND n.gy = p.gy""",
    "q53_fillnodata" ->
      // nodata (v < 1) pixels take the mean of in-grid valid pixels with
      // d² <= 16; integer sums / counts → exact double on both engines
      """WITH px AS (
           SELECT gx.x AS gx, gy.y AS gy,
             ((gx.x // 8)*131 + (gy.y // 8)*173 + (gx.x % 8)*7 + (gy.y % 8)*11) % 16 AS v
           FROM generate_series(0, 63) gx(x), generate_series(0, 31) gy(y)),
         filled AS (
           SELECT p.gx, p.gy,
             (SELECT CAST(sum(q.v) AS DOUBLE) / count(*)
              FROM px q
              WHERE q.v >= 1
                AND (q.gx - p.gx)*(q.gx - p.gx) + (q.gy - p.gy)*(q.gy - p.gy) <= 16) AS fill
           FROM px p WHERE p.v < 1)
         SELECT p.gx, p.gy,
           CASE WHEN p.v >= 1 THEN CAST(p.v AS DOUBLE)
                ELSE coalesce(f.fill, CAST(p.v AS DOUBLE)) END AS val
         FROM px p LEFT JOIN filled f ON f.gx = p.gx AND f.gy = p.gy""",
    "q135_fillnodata_smooth" ->
      // the q53 filled grid, then two 3x3-mean passes over msk=1 pixels:
      // left-assoc row-major adds with coalesce(+0.0) (an exact identity,
      // matching the engine's skip), divisor = closed-form in-grid count
      s"""WITH px AS (
           SELECT gx.x AS gx, gy.y AS gy,
             ((gx.x // 8)*131 + (gy.y // 8)*173 + (gx.x % 8)*7 + (gy.y % 8)*11) % 16 AS v
           FROM generate_series(0, 63) gx(x), generate_series(0, 31) gy(y)),
         filled AS (
           SELECT p.gx, p.gy,
             (SELECT CAST(sum(q.v) AS DOUBLE) / count(*)
              FROM px q
              WHERE q.v >= 1
                AND (q.gx - p.gx)*(q.gx - p.gx) + (q.gy - p.gy)*(q.gy - p.gy) <= 16) AS fill
           FROM px p WHERE p.v < 1),
         f0 AS (
           SELECT p.gx, p.gy, CASE WHEN p.v < 1 THEN 1 ELSE 0 END AS msk,
             CASE WHEN p.v >= 1 THEN CAST(p.v AS DOUBLE)
                  ELSE coalesce(f.fill, CAST(p.v AS DOUBLE)) END AS val
           FROM px p LEFT JOIN filled f ON f.gx = p.gx AND f.gy = p.gy),
         ${smoothPassSql("f0", "f1")},
         ${smoothPassSql("f1", "f2")}
         SELECT gx, gy, val FROM f2""",
    "q59_fillnodata_idw" ->
      // inverse-distance-squared fill: weight = 2^20 // d2 (integer),
      // fill = sum(v*w)/sum(w) — exact over the integer synth grid
      """WITH px AS (
           SELECT gx.x AS gx, gy.y AS gy,
             ((gx.x // 8)*131 + (gy.y // 8)*173 + (gx.x % 8)*7 + (gy.y % 8)*11) % 16 AS v
           FROM generate_series(0, 63) gx(x), generate_series(0, 31) gy(y)),
         filled AS (
           SELECT p.gx, p.gy,
             (SELECT CAST(sum(q.v * (1048576 // ((q.gx - p.gx)*(q.gx - p.gx) + (q.gy - p.gy)*(q.gy - p.gy)))) AS DOUBLE)
                   / sum(1048576 // ((q.gx - p.gx)*(q.gx - p.gx) + (q.gy - p.gy)*(q.gy - p.gy)))
              FROM px q
              WHERE q.v >= 1
                AND (q.gx - p.gx)*(q.gx - p.gx) + (q.gy - p.gy)*(q.gy - p.gy) BETWEEN 1 AND 16) AS fill
           FROM px p WHERE p.v < 1)
         SELECT p.gx, p.gy,
           CASE WHEN p.v >= 1 THEN CAST(p.v AS DOUBLE)
                ELSE coalesce(f.fill, CAST(p.v AS DOUBLE)) END AS val
         FROM px p LEFT JOIN filled f ON f.gx = p.gx AND f.gy = p.gy""",
    "q41_contour_segments" ->
      // marching squares at level 7.5 (level2x = 15) over the zoom-2 grid;
      // endpoints as reduced integer rationals — exactly core.Contour's math
      contourSegmentsSql,
    "q127_contour_levels" ->
      Seq(1L, 9L, 17L, 25L).map(l =>
        s"SELECT q.*, CAST($l AS BIGINT) AS level2x FROM (${contourSegmentsSqlFor(l)}) q")
        .mkString("\n UNION ALL \n"),
    "q43_cosine_dup" ->
      // brute-force oracle over the same derived corpus (base + perturbed
      // twins): the engine's LSH-bucketed candidates must reproduce the
      // full pair set exactly (cos >= 4/5 in 1e3 fixed point). `pid`
      // avoids DuckDB's lateral alias binding shadowing vec_id.
      """WITH base AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         pert AS (
           SELECT vec_id + 10000000 AS pid,
             list_transform(range(1, 65), i ->
               (floor(CAST(embedding[i] AS DOUBLE) * 1000.0) + ((vec_id * 31 + i) % 13) - 6) / 1000.0) AS v
           FROM embeddings),
         u AS (SELECT vec_id, v FROM base UNION ALL SELECT pid AS vec_id, v FROM pert),
         p AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(range(1, 65), i ->
               CAST(floor(a.v[i]*1000.0) AS BIGINT) * CAST(floor(b.v[i]*1000.0) AS BIGINT))) AS dot_fp,
             list_sum(list_transform(range(1, 65), i ->
               CAST(floor(a.v[i]*1000.0) AS BIGINT) * CAST(floor(a.v[i]*1000.0) AS BIGINT))) AS na2,
             list_sum(list_transform(range(1, 65), i ->
               CAST(floor(b.v[i]*1000.0) AS BIGINT) * CAST(floor(b.v[i]*1000.0) AS BIGINT))) AS nb2
           FROM u a JOIN u b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, CAST(dot_fp AS BIGINT) AS dot_fp
         FROM p WHERE dot_fp > 0 AND 25*dot_fp*dot_fp >= 16*na2*nb2""",
    "q46_ogr_sql" ->
      // area: both sides exact (coords are multiples of 2^-12 → shoelace
      // terms exactly representable); centroid never lands on a zoom-7
      // cell edge (parity argument: 2048m+1 ≠ 5760k), so floor is stable
      s"""WITH boxes AS ($boxesSql)
         SELECT box_id AS region_id,
           (xmax - xmin) * (ymax - ymin) AS area,
           CAST(least(greatest(floor(((xmin + xmax)/2 + 180.0)/360.0*256), 0), 255) AS BIGINT) AS ctx,
           CAST(least(greatest(floor((90.0 - (ymin + ymax)/2)/180.0*128), 0), 127) AS BIGINT) AS cty
         FROM boxes""",
    "q47_translate" ->
      // window [100,400)×[50,250) of the zoom-3 synth raster, v' = 2v+1
      // clamped to byte, re-tiled to a 64x64 grid at the window origin
      """WITH dst AS (
           SELECT dx.x AS dx, dy.y AS dy FROM generate_series(0, 299) dx(x), generate_series(0, 199) dy(y)),
         v AS (
           SELECT dx // 64 AS tx, dy // 64 AS ty, (dy % 64) * 64 + (dx % 64) AS i,
             least(greatest(
               (((100 + dx) // 64)*131 + ((50 + dy) // 64)*173
                + ((100 + dx) % 64)*7 + ((50 + dy) % 64)*11 + 3) % 256 * 2 + 1, 0), 255) AS val
           FROM dst)
         SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
           CAST(sum(CAST(val AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM v GROUP BY 1, 2""",
    "q48_calc" ->
      """WITH tiles AS (
           SELECT gx.x AS tx, gy.y AS ty FROM generate_series(0, 15) gx(x), generate_series(0, 7) gy(y)),
         px AS (
           SELECT t.tx, t.ty, i.i AS i,
             (t.tx*131 + t.ty*173 + (i.i % 64)*7 + (i.i // 64)*11 + 3) % 256 AS a
           FROM tiles t, generate_series(0, 4095) i(i)),
         v AS (SELECT tx, ty, i, a + 2 * ((a * 3 + 1) % 128) AS val FROM px)
         SELECT CAST(3 AS BIGINT) AS zoom, CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
           CAST(sum(CAST(val AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM v GROUP BY 1, 2, 3""",
    "q207_calc_mask" ->
      // the masking idiom per pixel: b = (a*3+1)%128, val = max(a, b)
      // through the 0/1-mask law (a>b and a<=b partition, so the sum IS
      // the max — replayed as greatest for clarity-equivalence)
      """WITH tiles AS (
           SELECT gx.x AS tx, gy.y AS ty FROM generate_series(0, 15) gx(x), generate_series(0, 7) gy(y)),
         px AS (
           SELECT t.tx, t.ty, i.i AS i,
             (t.tx*131 + t.ty*173 + (i.i % 64)*7 + (i.i // 64)*11 + 3) % 256 AS a
           FROM tiles t, generate_series(0, 4095) i(i)),
         v AS (SELECT tx, ty, i,
             a * (CASE WHEN a > ((a * 3 + 1) % 128) THEN 1 ELSE 0 END)
             + ((a * 3 + 1) % 128) * (CASE WHEN a <= ((a * 3 + 1) % 128) THEN 1 ELSE 0 END) AS val
           FROM px)
         SELECT CAST(3 AS BIGINT) AS zoom, CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
           CAST(sum(CAST(val AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM v GROUP BY 1, 2, 3""",
    "q49_pyramid_mode" ->
      // parent pixel = mode of the 2x2 child block (tie → smallest value)
      """WITH parent AS (
           SELECT gx.x AS tx, gy.y AS ty FROM generate_series(0, 7) gx(x), generate_series(0, 3) gy(y)),
         cells AS (
           SELECT p.tx, p.ty, i.i AS i,
             2*p.tx + ((i.i % 64) // 32) AS ctx, 2*p.ty + ((i.i // 64) // 32) AS cty,
             2*((i.i % 64) % 32) AS cx, 2*((i.i // 64) % 32) AS cy
           FROM parent p, generate_series(0, 4095) i(i)),
         quad AS (
           SELECT tx, ty, i, u.v AS v
           FROM cells, unnest([
             (ctx*131 + cty*173 + cx*7     + cy*11     + 3) % 256,
             (ctx*131 + cty*173 + (cx+1)*7 + cy*11     + 3) % 256,
             (ctx*131 + cty*173 + cx*7     + (cy+1)*11 + 3) % 256,
             (ctx*131 + cty*173 + (cx+1)*7 + (cy+1)*11 + 3) % 256]) u(v)),
         m AS (
           SELECT tx, ty, i, v,
             row_number() OVER (PARTITION BY tx, ty, i ORDER BY count(*) DESC, v ASC) AS rk
           FROM quad GROUP BY tx, ty, i, v)
         SELECT CAST(2 AS BIGINT) AS zoom, CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
           CAST(sum(CAST(v AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM m WHERE rk = 1 GROUP BY 1, 2, 3""",
    "q201_pyramid_rms" ->
      // parent pixel = sqrt(mean of squares of the 2x2 child block);
      // exact-integer sum of squares, dyadic /4, correctly-rounded sqrt
      """WITH parent AS (
           SELECT gx.x AS tx, gy.y AS ty FROM generate_series(0, 7) gx(x), generate_series(0, 3) gy(y)),
         cells AS (
           SELECT p.tx, p.ty, i.i AS i,
             2*p.tx + ((i.i % 64) // 32) AS ctx, 2*p.ty + ((i.i // 64) // 32) AS cty,
             2*((i.i % 64) % 32) AS cx, 2*((i.i // 64) % 32) AS cy
           FROM parent p, generate_series(0, 4095) i(i)),
         q4 AS (
           SELECT tx, ty, i,
             (ctx*131 + cty*173 + cx*7     + cy*11     + 3) % 256 AS v0,
             (ctx*131 + cty*173 + (cx+1)*7 + cy*11     + 3) % 256 AS v1,
             (ctx*131 + cty*173 + cx*7     + (cy+1)*11 + 3) % 256 AS v2,
             (ctx*131 + cty*173 + (cx+1)*7 + (cy+1)*11 + 3) % 256 AS v3
           FROM cells),
         r AS (
           SELECT tx, ty, i,
             sqrt(CAST(v0*v0 + v1*v1 + v2*v2 + v3*v3 AS DOUBLE) / 4.0) AS v
           FROM q4)
         SELECT CAST(2 AS BIGINT) AS zoom, CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
           CAST(sum(CAST(floor(v) AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM r GROUP BY 1, 2, 3""",
    "q51_geom_selfjoin" ->
      // axis-aligned boxes: intersects ⟺ closed-interval overlap (JTS
      // counts boundary touch); overlap area = clamped interval product,
      // exact on 2^-12-aligned coords (degenerate touch → area 0)
      s"""WITH boxes AS ($boxesSql)
         SELECT a.box_id AS id_a, b.box_id AS id_b,
           greatest(least(a.xmax, b.xmax) - greatest(a.xmin, b.xmin), 0)
           * greatest(least(a.ymax, b.ymax) - greatest(a.ymin, b.ymin), 0) AS inter_area
         FROM boxes a JOIN boxes b
           ON a.box_id < b.box_id
          AND a.xmin <= b.xmax AND b.xmin <= a.xmax
          AND a.ymin <= b.ymax AND b.ymin <= a.ymax""",
    "q50_geom_funcs" ->
      // first vertex of the shell is (xmin, ymin); sqrt is IEEE correctly
      // rounded, so identical inputs → identical double on both engines
      s"""WITH boxes AS ($boxesSql)
         SELECT box_id AS region_id,
           2*((xmax - xmin) + (ymax - ymin)) AS perimeter,
           (xmax - xmin) * (ymax - ymin) AS env_area,
           'POLYGON' AS gtype, TRUE AS valid,
           sqrt(xmin*xmin + ymin*ymin) AS dist0
         FROM boxes""",
    "q72_makevalid" ->
      // bowtie repair closed form: signed shoelace halves cancel exactly
      // (dyadic coords) so area_before = 0; the fixed geometry is the two
      // triangles = half the box area
      s"""WITH boxes AS ($boxesSql)
         SELECT box_id, FALSE AS valid_before, 0.0 AS area_before,
           TRUE AS valid_after, 'MULTIPOLYGON' AS gtype_after,
           (xmax - xmin) * (ymax - ymin) / 2 AS area_after
         FROM boxes""",
    "q44_media_mean" ->
      s"""WITH pts AS ($ptsSql),
         spans AS (
           SELECT printf('doc-%09d', doc_key) AS doc_id, CAST(rn - 1 AS INT) AS offset,
             CAST(floor((lon + 180.0) / 360.0 * 512) AS BIGINT) AS tx,
             CAST(floor((90.0 - lat) / 180.0 * 256) AS BIGINT) AS ty
           FROM (SELECT *, row_number() OVER (PARTITION BY doc_key ORDER BY line_no, part_key, supp_key) AS rn FROM pts)
           WHERE line_no % 4 = 0 AND doc_key % 20 = 0),
         tilemean AS (
           SELECT s.tx, s.ty,
             sum((s.tx*131 + s.ty*173 + (i.i % 64)*7 + (i.i // 64)*11 + 8) % 256) / 4096.0 AS px_mean
           FROM (SELECT DISTINCT tx, ty FROM spans) s, generate_series(0, 4095) i(i)
           GROUP BY 1, 2)
         SELECT s.doc_id, s.offset, t.px_mean
         FROM spans s JOIN tilemean t ON t.tx = s.tx AND t.ty = s.ty""",
    "q31_fingerprint" ->
      """SELECT doc_id,
         CAST(list_reduce(
           list_prepend(CAST(0 AS HUGEINT),
             list_transform(range(1, length(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))) + 1),
               i -> CAST(unicode(substr(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), CAST(i AS INT), 1)) AS HUGEINT))),
           (acc, x) -> (acc * 257 + x) % 2305843009213693951) AS BIGINT) AS fp
         FROM documents""",
    "q147_tfidf_topk" ->
      // same integer score law and (score desc, term asc) total order
      s"""WITH $tokensSql,
         tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY 1, 2),
         dfp AS (SELECT term, count(DISTINCT doc_id) AS df FROM t2 GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         sc AS (
           SELECT tf.doc_id, tf.term, tf.tf * ((n.n * 1000) // dfp.df) AS score_milli
           FROM tf JOIN dfp USING (term), n),
         rk AS (
           SELECT *, row_number() OVER (
             PARTITION BY doc_id ORDER BY score_milli DESC, term ASC) AS rank
           FROM sc)
         SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
           CAST(score_milli AS BIGINT) AS score_milli
         FROM rk WHERE rank <= 3""",
    "q211_rag_chunks" ->
      // q29 tokenization law + stride-24/width-32 window arithmetic + the
      // q31 polynomial fingerprint replayed over the space-joined chunk
      """WITH t AS (
           SELECT doc_id,
             string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         nn AS (SELECT doc_id, toks, len(toks) AS n FROM t),
         ch AS (SELECT doc_id, toks, n,
                  unnest(range(0, (n - 1) // 24 + 1)) AS ci FROM nn),
         sp AS (SELECT doc_id, ci, ci * 24 AS tok_start,
                  least(32, n - ci * 24) AS nt, toks FROM ch),
         tx AS (SELECT doc_id, ci, tok_start, nt,
                  array_to_string(toks[tok_start + 1 : tok_start + nt], ' ') AS ctext
                FROM sp)
         SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
           CAST(tok_start AS BIGINT) AS tok_start, CAST(nt AS BIGINT) AS n_toks,
           CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
             list_transform(range(1, length(ctext) + 1),
               i -> CAST(unicode(substr(ctext, CAST(i AS INT), 1)) AS HUGEINT))),
             (acc, x) -> (acc * 257 + x) % 2305843009213693951) AS BIGINT) AS chunk_fp
         FROM tx""",
    "q212_vocab_oov" ->
      // q147's token law; top-256 vocab cut by (cnt desc, term asc); the
      // per-doc OOV census with exact-integer 1000·oov//n rate
      s"""WITH $tokensSql,
         vocab AS (
           SELECT term FROM (SELECT term, count(*) AS cnt FROM t2 GROUP BY 1)
           ORDER BY cnt DESC, term ASC LIMIT 256),
         perdoc AS (
           SELECT t2.doc_id, count(*) AS n_toks,
             sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS n_oov
           FROM t2 LEFT JOIN vocab v ON t2.term = v.term
           GROUP BY 1)
         SELECT d.doc_id,
           CAST(coalesce(p.n_toks, 0) AS BIGINT) AS n_toks,
           CAST(coalesce(p.n_oov, 0) AS BIGINT) AS n_oov,
           CAST(CASE WHEN coalesce(p.n_toks, 0) = 0 THEN 0
                ELSE (1000 * coalesce(p.n_oov, 0)) // p.n_toks END AS BIGINT) AS oov_milli
         FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id""",
    "q214_bpe_pairs" ->
      // q147's token law → word dictionary; adjacent pairs off the
      // dictionary weighted by word frequency; (freq desc, pair asc) cut
      """WITH toks AS (
           SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
           FROM documents),
         words AS (SELECT term, count(*) AS wcnt FROM toks WHERE term <> '' GROUP BY 1),
         pr AS (
           SELECT unnest(list_transform(range(1, length(term)),
                    i -> substr(term, CAST(i AS INT), 2))) AS pair, wcnt
           FROM words WHERE length(term) >= 2),
         pc AS (SELECT pair, CAST(sum(wcnt) AS BIGINT) AS freq FROM pr GROUP BY 1)
         SELECT pair, freq FROM pc ORDER BY freq DESC, pair ASC LIMIT 32""",
    "q215_bpe_train" -> OracleHashSql.q215BpeTrain,
    "q216_bpe_encode" -> OracleHashSql.q216BpeEncode,
    "q217_substr_dedup" -> OracleHashSql.q217SubstrDedup,
    "q218_vit_patchify" -> OracleHashSql.q218VitPatchify,
    "q219_unimax_sampling" ->
      // the waterfilling recursion replayed as a recursive CTE over the
      // size-ranked language table; same integer div laws as the engine
      """WITH RECURSIVE
         sizes AS (
           SELECT lang, CAST(sum(n_chars) AS BIGINT) AS sz
           FROM documents GROUP BY 1),
         tot AS (
           SELECT CAST(2 * sum(sz) AS BIGINT) AS b, count(*) AS l FROM sizes),
         rk AS (
           SELECT lang, sz,
             CAST(row_number() OVER (ORDER BY sz ASC, lang ASC) AS BIGINT) AS r
           FROM sizes),
         wf AS (
           SELECT CAST(0 AS BIGINT) AS r, CAST(NULL AS VARCHAR) AS lang,
             CAST(0 AS BIGINT) AS alloc,
             (SELECT b FROM tot) AS rem_b, (SELECT l FROM tot) AS rem_l
           UNION ALL
           SELECT rk.r, rk.lang,
             least(3 * rk.sz, wf.rem_b // wf.rem_l) AS alloc,
             wf.rem_b - least(3 * rk.sz, wf.rem_b // wf.rem_l) AS rem_b,
             wf.rem_l - 1 AS rem_l
           FROM wf JOIN rk ON rk.r = wf.r + 1),
         pe AS (
           SELECT s.lang, w.alloc, (w.alloc * 1000) // s.sz AS e_milli
           FROM sizes s JOIN (SELECT lang, alloc FROM wf WHERE r >= 1) w
             ON w.lang = s.lang)
         SELECT d.doc_id, d.lang, p.alloc, CAST(p.e_milli AS BIGINT) AS e_milli,
           CAST(p.e_milli // 1000 +
             CASE WHEN (d.doc_id * 7919) % 1000 < p.e_milli % 1000
             THEN 1 ELSE 0 END AS BIGINT) AS n_copies
         FROM documents d JOIN pe p ON p.lang = d.lang""",
    "q148_zonal_majority" ->
      // q15's PIP chain + class counts + the same packed-key majority
      s"""WITH pts AS ($ptsSql), boxes AS ($boxesSql),
         cc AS (
           SELECT b.box_id, CAST(p.l_quantity AS BIGINT) % 10 AS cls, count(*) AS cnt
           FROM pts p JOIN boxes b
             ON p.lon > b.xmin AND p.lon < b.xmax AND p.lat > b.ymin AND p.lat < b.ymax
           GROUP BY 1, 2)
         SELECT box_id, arg_max(cls, cnt * 100 - cls) AS major_cls,
           max(cnt) AS major_cnt
         FROM cc GROUP BY 1""",
    "q149_frame_sample" ->
      // header arithmetic + every-3rd frame sampling + the q31 rolling
      // hash over the frame seed string
      """WITH sp AS (
           SELECT s_suppkey AS vid, 4 + s_suppkey % 13 AS n,
             16 + s_suppkey % 17 AS w, 9 + s_suppkey % 7 AS h
           FROM supplier),
         fr AS (SELECT vid, w, h, unnest(range(0, n, 3)) AS frame FROM sp),
         seed AS (
           SELECT vid, frame, w * h AS npx, printf('f:%d:%d', vid, frame) AS sd
           FROM fr)
         SELECT vid, CAST(frame AS BIGINT) AS frame, CAST(npx AS BIGINT) AS npx,
           CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
             list_transform(range(1, length(sd) + 1),
               i -> CAST(unicode(substr(sd, CAST(i AS INT), 1)) AS HUGEINT))),
             (acc, x) -> (acc * 257 + x) % 2305843009213693951) AS BIGINT) AS feat
         FROM seed""",
    "q150_grid_idw_p1" ->
      // q56's chain with w = 2^30 // isqrt(d2); floor(sqrt) provably
      // exact for d2 <= 2^26 (see query comment)
      s"""WITH $gridCandSql,
         wtd AS (
           SELECT tx, ty, v,
             1073741824 // greatest(CAST(floor(sqrt(CAST(
               (ix - (tx*5760 + 2880))*(ix - (tx*5760 + 2880))
                 + (iy - (ty*5760 + 2880))*(iy - (ty*5760 + 2880)) AS DOUBLE))) AS BIGINT), 1) AS w,
             (ix - (tx*5760 + 2880))*(ix - (tx*5760 + 2880))
               + (iy - (ty*5760 + 2880))*(iy - (ty*5760 + 2880)) AS d2
           FROM cand)
         SELECT tx, ty, count(*) AS n,
           CAST((sum(v * w) * 1000) // sum(w) AS BIGINT) AS idw_milli
         FROM wtd WHERE d2 <= 67108864 GROUP BY 1, 2""",
    "q151_audio_windows" ->
      // header arithmetic + per-16-sample windows in exact integers
      """WITH sp AS (SELECT s_suppkey AS aid, 64 + s_suppkey % 129 AS n FROM supplier),
         wins AS (SELECT aid, n, unnest(range(0, (n - 1) // 16 + 1)) AS win FROM sp),
         f AS (
           SELECT aid, CAST(win AS BIGINT) AS win,
             list_sum(list_transform(range(win*16, least(win*16 + 16, n)),
               i -> CAST(((aid*31 + i*17) % 256 - 128) AS BIGINT)
                  * CAST(((aid*31 + i*17) % 256 - 128) AS BIGINT))) AS energy,
             list_max(list_transform(range(win*16, least(win*16 + 16, n)),
               i -> abs((aid*31 + i*17) % 256 - 128))) AS peak
           FROM wins)
         SELECT aid, win, CAST(energy AS BIGINT) AS energy,
           CAST(peak AS BIGINT) AS peak
         FROM f""",
    "q152_embed_centroid" ->
      // fixed-point per-(cluster, dim) mean; // truncates toward zero
      // exactly like Spark's div on the (possibly negative) sums
      """SELECT e.vec_id % 7 AS cluster, CAST(i.i - 1 AS BIGINT) AS dim,
           CAST(sum(CAST(floor(CAST(e.embedding[i.i] AS DOUBLE) * 1000.0) AS BIGINT))
             // count(*) AS BIGINT) AS centroid_milli,
           count(*) AS n
         FROM embeddings e, generate_series(1, 64) i(i)
         WHERE i.i <= len(e.embedding)
         GROUP BY 1, 2""",
    "q153_media_resize" ->
      // closed-form 2x2 box means with the engine's round-half-up
      // ((sum+2) // 4) over the z3 pixels; PNG legs are lossless
      """WITH tiles AS (
           SELECT gx.x AS tx, gy.y AS ty
           FROM generate_series(0, 15) gx(x), generate_series(0, 7) gy(y)),
         px AS (
           SELECT t.tx, t.ty, i.i AS i,
             2*(i.i % 32) AS x2, 2*(i.i // 32) AS y2
           FROM tiles t, generate_series(0, 1023) i(i)),
         vals AS (
           SELECT tx, ty, i,
             ((tx*131 + ty*173 + x2*7     + y2*11     + 3) % 256
            + (tx*131 + ty*173 + (x2+1)*7 + y2*11     + 3) % 256
            + (tx*131 + ty*173 + x2*7     + (y2+1)*11 + 3) % 256
            + (tx*131 + ty*173 + (x2+1)*7 + (y2+1)*11 + 3) % 256 + 2) // 4 AS v
           FROM px)
         SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
           CAST(sum(CAST(v AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM vals GROUP BY 1, 2""",
    "q158_doc_reassembly" ->
      // payloads from the generating arithmetic, string_agg in the docs()
      // span order (line_no, part_key, supp_key — a proven-unique key),
      // then the q31 rolling hash over the normalized render
      s"""WITH $docPayloadSql,
         r AS (
           SELECT doc_key,
             string_agg(payload, ' ' ORDER BY line_no, part_key, supp_key) AS render
           FROM sp GROUP BY doc_key),
         n AS (
           SELECT doc_key, render,
             trim(regexp_replace(lower(render), '\\s+', ' ', 'g')) AS nm
           FROM r)
         SELECT printf('doc-%09d', doc_key) AS doc_id,
           CAST(length(render) AS BIGINT) AS render_len,
           CAST(list_reduce(
             list_prepend(CAST(0 AS HUGEINT),
               list_transform(range(1, length(nm) + 1),
                 i -> CAST(unicode(substr(nm, CAST(i AS INT), 1)) AS HUGEINT))),
             (acc, x) -> (acc * 257 + x) % 2305843009213693951) AS BIGINT) AS fp
         FROM n""",
    "q160_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
           coalesce(l_linestatus, 'ALL') AS ls,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "q161_infer_schema" ->
      // length() counts characters in both engines (ASCII corpus)
      """SELECT lang, count(*) AS n,
           CAST(sum(length(text)) AS BIGINT) AS sum_len,
           min(doc_id) AS min_doc
         FROM documents GROUP BY 1""",
    "q145_split" ->
      // the q31 rolling-hash fingerprint mod 100, bucketed
      """WITH fp AS (
           SELECT doc_id,
             CAST(list_reduce(
               list_prepend(CAST(0 AS HUGEINT),
                 list_transform(range(1, length(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))) + 1),
                   i -> CAST(unicode(substr(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), CAST(i AS INT), 1)) AS HUGEINT))),
               (acc, x) -> (acc * 257 + x) % 2305843009213693951) % 100 AS BIGINT) AS bucket
           FROM documents)
         SELECT doc_id,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
         FROM fp""",
    "q146_redact" ->
      // injected spans rebuilt from the same printf arithmetic, then the
      // same RE2/Java-identical structural patterns
      """WITH raw AS (
           SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN
               text || printf(' call 555%07d or mail u%d@ex%d.com now',
                 doc_id % 1000000, doc_id, doc_id % 13)
             ELSE text END AS raw
           FROM documents),
         red AS (
           SELECT doc_id,
             regexp_replace(
               regexp_replace(raw, '[0-9]{7,}', '<NUM>', 'g'),
               '[a-z0-9]+@[a-z0-9.]+[a-z]', '<EMAIL>', 'g') AS red
           FROM raw)
         SELECT doc_id, red,
           CAST(len(string_split(red, '<NUM>')) - 1 AS INT) AS n_num,
           CAST(len(string_split(red, '<EMAIL>')) - 1 AS INT) AS n_email
         FROM red""",
    "q54_rasterize_lines" ->
      // the same closed-form DDA walk in pure integer pixel space: sample
      // s of segment = floor(((steps-s)·p0 + s·p1)/steps), steps =
      // ceil(max(|dx|,|dy|)·2); distinct pixels per line, ADD-merged,
      // GDAL checksum per 64x64 tile
      """WITH lines AS (
           SELECT p_partkey AS id, (p_partkey % 5 + 1) AS burn,
             (p_partkey * 37) % 1024 AS x0, (p_partkey * 73) % 512 AS y0,
             (p_partkey * 131 + 257) % 1024 AS x1, (p_partkey * 29 + 101) % 512 AS y1
           FROM part),
         st AS (
           SELECT *, greatest(1, CAST(ceil(greatest(abs(x1 - x0), abs(y1 - y0)) * 2.0) AS BIGINT)) AS steps
           FROM lines),
         samp AS (
           SELECT id, burn,
             CAST(floor(((steps - s.s)*x0 + s.s*x1) / CAST(steps AS DOUBLE)) AS BIGINT) AS px,
             CAST(floor(((steps - s.s)*y0 + s.s*y1) / CAST(steps AS DOUBLE)) AS BIGINT) AS py
           FROM st, generate_series(0, 2046) s(s) WHERE s.s <= steps),
         pxs AS (
           SELECT DISTINCT id, burn, px, py FROM samp
           WHERE px >= 0 AND px < 1024 AND py >= 0 AND py < 512),
         tilepx AS (
           SELECT px // 64 AS tx, py // 64 AS ty,
             (py % 64) * 64 + (px % 64) AS i, sum(burn) AS v
           FROM pxs GROUP BY 1, 2, 3)
         SELECT CAST(3 AS BIGINT) AS zoom, tx, ty,
           CAST(sum(CAST(v AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM tilepx GROUP BY 1, 2, 3""",
    "q55_warp_average" ->
      // 8/5 box resample: dst pixel (dgx,dgy) averages src centers with
      // 16·dgx <= 10·gx+5 < 16·(dgx+1) (integer inclusion, <=2 px/axis);
      // exact mean of integer sources, then GDAL checksum per 64x64 tile
      s"""WITH $regridValsSql,
         avgd AS (SELECT dgx, dgy, CAST(sum(v) AS DOUBLE)/count(*) AS v FROM vals GROUP BY 1, 2),
         tilepx AS (SELECT dgx//64 AS tx, dgy//64 AS ty, (dgy%64)*64 + dgx%64 AS i, v FROM avgd)
         SELECT tx, ty, CAST(sum(CAST(floor(v) AS BIGINT) * (i%49+1)) % 65535 AS INT) AS cks
         FROM tilepx GROUP BY 1, 2""",
    "q115_warp_nodata" ->
      // q55's oracle with the nodata gate: v=0 centers drop out of the
      // mean; all-excluded windows fall back to the nodata value 0
      s"""WITH $regridValsSql,
         avgd AS (SELECT dgx, dgy,
           CASE WHEN count(CASE WHEN v <> 0 THEN 1 END) = 0 THEN 0.0
                ELSE CAST(sum(CASE WHEN v <> 0 THEN v END) AS DOUBLE)
                     / count(CASE WHEN v <> 0 THEN 1 END) END AS v
           FROM vals GROUP BY 1, 2),
         tilepx AS (SELECT dgx//64 AS tx, dgy//64 AS ty, (dgy%64)*64 + dgx%64 AS i, v FROM avgd)
         SELECT tx, ty, CAST(sum(CAST(floor(v) AS BIGINT) * (i%49+1)) % 65535 AS INT) AS cks
         FROM tilepx GROUP BY 1, 2""",
    "q58_warp_mode" ->
      // majority value per dst pixel, ties -> smallest value
      s"""WITH $regridValsSql,
         counted AS (SELECT dgx, dgy, v, count(*) AS cnt FROM vals GROUP BY 1, 2, 3),
         moded AS (
           SELECT dgx, dgy, v FROM (
             SELECT dgx, dgy, v, row_number() OVER (PARTITION BY dgx, dgy ORDER BY cnt DESC, v ASC) AS rn
             FROM counted) WHERE rn = 1),
         tilepx AS (SELECT dgx//64 AS tx, dgy//64 AS ty, (dgy%64)*64 + dgx%64 AS i, v FROM moded)
         SELECT tx, ty, CAST(sum(CAST(floor(v) AS BIGINT) * (i%49+1)) % 65535 AS INT) AS cks
         FROM tilepx GROUP BY 1, 2""",
    "q197_warp_minmaxsum" ->
      // q55's box windows with extreme / running-total reducers; every
      // dst pixel holds >= 1 src center at the 8/5 scale so no fallback
      // branch exists to replay
      s"""WITH $regridValsSql,
         m AS (
           SELECT 'min' AS kernel, dgx, dgy, CAST(min(v) AS DOUBLE) AS v FROM vals GROUP BY 2, 3
           UNION ALL
           SELECT 'max' AS kernel, dgx, dgy, CAST(max(v) AS DOUBLE) AS v FROM vals GROUP BY 2, 3
           UNION ALL
           SELECT 'sum' AS kernel, dgx, dgy, CAST(sum(v) AS DOUBLE) AS v FROM vals GROUP BY 2, 3),
         tilepx AS (SELECT kernel, dgx//64 AS tx, dgy//64 AS ty, (dgy%64)*64 + dgx%64 AS i, v FROM m)
         SELECT kernel, tx, ty, CAST(sum(CAST(floor(v) AS BIGINT) * (i%49+1)) % 65535 AS INT) AS cks
         FROM tilepx GROUP BY 1, 2, 3""",
    "q209_warp_quantiles" ->
      // order statistic at sorted index ceil(q·n)−1 (GWKAOM_Quant law);
      // q·n exact (q dyadic, n <= 4), ties harmless (equal values)
      s"""WITH $regridValsSql,
         ranked AS (
           SELECT dgx, dgy, v,
             row_number() OVER (PARTITION BY dgx, dgy ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY dgx, dgy) AS cnt
           FROM vals),
         m AS (
           SELECT 'med' AS kernel, dgx, dgy, CAST(v AS DOUBLE) AS v FROM ranked WHERE rn = CAST(ceil(0.5 * cnt) AS BIGINT)
           UNION ALL
           SELECT 'q1', dgx, dgy, CAST(v AS DOUBLE) FROM ranked WHERE rn = CAST(ceil(0.25 * cnt) AS BIGINT)
           UNION ALL
           SELECT 'q3', dgx, dgy, CAST(v AS DOUBLE) FROM ranked WHERE rn = CAST(ceil(0.75 * cnt) AS BIGINT)),
         tilepx AS (SELECT kernel, dgx//64 AS tx, dgy//64 AS ty, (dgy%64)*64 + dgx%64 AS i, v FROM m)
         SELECT kernel, tx, ty, CAST(sum(CAST(floor(v) AS BIGINT) * (i%49+1)) % 65535 AS INT) AS cks
         FROM tilepx GROUP BY 1, 2, 3""",
    "q61_cutline" ->
      // integer-pixel cutline boxes: mask = [x0,x1)×[y0,y1) per the
      // scanline center rule; masked checksum per tile, untouched tiles
      // absent
      """WITH tiles AS (
           SELECT tx.x AS tx, ty.y AS ty
           FROM generate_series(0, 15) tx(x), generate_series(0, 7) ty(y)),
         px AS (
           SELECT t.tx, t.ty, i.i AS i,
             t.tx*64 + (i.i % 64) AS gx, t.ty*64 + (i.i // 64) AS gy
           FROM tiles t, generate_series(0, 4095) i(i)),
         m AS (
           SELECT *, CASE WHEN (gx >= 100 AND gx < 300 AND gy >= 50 AND gy < 200)
                            OR (gx >= 600 AND gx < 800 AND gy >= 100 AND gy < 400)
                            OR (gx >= 40 AND gx < 90 AND gy >= 400 AND gy < 470)
                     THEN 1 ELSE 0 END AS mask
           FROM px),
         v AS (
           SELECT tx, ty, i, mask,
             ((tx*131 + ty*173 + (i%64)*7 + (i//64)*11 + 3) % 256) * mask AS val
           FROM m),
         keep AS (SELECT tx, ty FROM v GROUP BY tx, ty HAVING sum(mask) > 0)
         SELECT v.tx, v.ty,
           CAST(sum(CAST(val AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM v JOIN keep k ON k.tx = v.tx AND k.ty = v.ty GROUP BY 1, 2""",
    "q62_pansharpen" ->
      // closed-form: pan(z3) per pixel; ms_b = (v2·b + 17·b) % 256 where
      // v2 is the zoom-2 parent pixel under nearest upsampling; Brovey in
      // integer deci units (scale 10 — see query comment), checksum per
      // (band, tile)
      s"""WITH $panPixelsSql,
         b AS (
           SELECT tx, ty, i, pan, bb.b AS band,
             (v2 * bb.b + bb.b * 17) % 256 AS ms,
             ((v2*1 + 17) % 256) + ((v2*2 + 34) % 256) + ((v2*3 + 51) % 256) AS den
           FROM px, generate_series(1, 3) bb(b)),
         o AS (
           SELECT band, tx, ty, i,
             CASE WHEN den = 0 THEN 0 ELSE (ms * pan * 30) // den END AS val
           FROM b)
         SELECT CAST(band AS INT) AS band, tx, ty,
           CAST(sum(CAST(val AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM o GROUP BY 1, 2, 3""",
    "q137_pansharpen_weights" ->
      // q62's chain with den = ms1 + 2*ms2 + ms3 and factor Σw·scale = 40
      s"""WITH $panPixelsSql,
         b AS (
           SELECT tx, ty, i, pan, bb.b AS band,
             (v2 * bb.b + bb.b * 17) % 256 AS ms,
             ((v2*1 + 17) % 256) + 2*((v2*2 + 34) % 256) + ((v2*3 + 51) % 256) AS den
           FROM px, generate_series(1, 3) bb(b)),
         o AS (
           SELECT band, tx, ty, i,
             CASE WHEN den = 0 THEN 0 ELSE (ms * pan * 40) // den END AS val
           FROM b)
         SELECT CAST(band AS INT) AS band, tx, ty,
           CAST(sum(CAST(val AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM o GROUP BY 1, 2, 3""",
    "q63_mediancut" ->
      // identity-case oracle: palette = distinct packed colors sorted asc,
      // index = rank-1; checksum per tile over indices
      """WITH px AS (
           SELECT t.tx, t.ty, i.i AS i,
             (t.tx*131 + t.ty*173 + (i.i % 64)*7 + (i.i // 64)*11 + 3) % 256 AS v
           FROM (SELECT gx.x AS tx, gy.y AS ty
                 FROM generate_series(0, 15) gx(x), generate_series(0, 7) gy(y)) t,
                generate_series(0, 4095) i(i)),
         col AS (
           SELECT tx, ty, i,
             v*65536 + ((v*2 + 5) % 256)*256 + ((v*7 + 11) % 256) AS c
           FROM px),
         pal AS (
           SELECT c, row_number() OVER (ORDER BY c) - 1 AS idx
           FROM (SELECT DISTINCT c FROM col))
         SELECT col.tx, col.ty,
           CAST(sum(CAST(p.idx AS BIGINT) * (col.i % 49 + 1)) % 65535 AS INT) AS cks
         FROM col JOIN pal p ON p.c = col.c GROUP BY 1, 2""",
    "q64_osm_ways" ->
      // the two-pass OSM read in SQL: refs (with the closed-way append)
      // join the withheld-node table; ways losing any ref are dropped;
      // closed = first/last coords equal over >= 4 refs
      s"""WITH $osmBaseSql,
         refs AS (
           SELECT way_id, pt_id, pos,
             n + CASE WHEN way_id % 7 = 0 AND n >= 3 THEN 1 ELSE 0 END AS n_refs
           FROM ordr
           UNION ALL
           SELECT way_id, pt_id, n + 1, n + 1
           FROM ordr WHERE way_id % 7 = 0 AND n >= 3 AND pos = 1),
         res AS (SELECT r.way_id, r.pos, r.n_refs, nd.ix, nd.iy
           FROM refs r JOIN nodes nd ON nd.node_id = r.pt_id),
         ok AS (SELECT way_id FROM res GROUP BY way_id
           HAVING count(*) = any_value(n_refs) AND any_value(n_refs) >= 2),
         agg AS (
           SELECT r.way_id, any_value(r.n_refs) AS n_pts,
             any_value(r.n_refs) >= 4
               AND arg_min(r.ix, r.pos) = arg_max(r.ix, r.pos)
               AND arg_min(r.iy, r.pos) = arg_max(r.iy, r.pos) AS closed,
             string_agg(r.ix || ' ' || r.iy, ',' ORDER BY r.pos) AS body
           FROM res r JOIN ok USING (way_id) GROUP BY 1)
         SELECT way_id, n_pts, closed,
           CASE WHEN closed THEN 'POLYGON((' || body || '))'
                ELSE 'LINESTRING(' || body || ')' END AS wkt
         FROM agg""",
    "q65_osm_relations" ->
      // relation ring assembly is a stitch, but the EXPECTED ring is the
      // original cycle in canonical orientation: start at the smallest
      // (ix,iy) point (coords < 2^19 pack into one order-preserving key),
      // walk toward the smaller neighbor — pure window/self-join SQL
      s"""WITH $osmBaseSql,
         res AS (SELECT o.way_id, o.pos, o.n, nd.ix, nd.iy
           FROM ordr o JOIN nodes nd ON nd.node_id = o.pt_id
           WHERE o.way_id % 7 = 0 AND o.n >= 3),
         qual AS (SELECT way_id FROM res GROUP BY way_id
           HAVING count(*) = any_value(n)
              AND count(DISTINCT ix || ':' || iy) = any_value(n)),
         cyc AS (SELECT r.* FROM res r JOIN qual USING (way_id)),
         start AS (SELECT way_id, any_value(n) AS n,
             arg_min(pos, ix * 524288 + iy) AS k FROM cyc GROUP BY 1),
         dirs AS (SELECT s.way_id, s.n, s.k,
             CASE WHEN nx.ix * 524288 + nx.iy <= pv.ix * 524288 + pv.iy
                  THEN 1 ELSE -1 END AS d
           FROM start s
           JOIN cyc nx ON nx.way_id = s.way_id AND nx.pos = (s.k % s.n) + 1
           JOIN cyc pv ON pv.way_id = s.way_id AND pv.pos = ((s.k - 2 + s.n) % s.n) + 1),
         seq AS (SELECT d.way_id, r.pos - 1 AS i,
             ((d.k - 1 + d.d * (r.pos - 1)) % d.n + d.n) % d.n + 1 AS src_pos
           FROM dirs d JOIN cyc r ON r.way_id = d.way_id),
         body AS (SELECT q.way_id,
             string_agg(c.ix || ' ' || c.iy, ',' ORDER BY q.i) AS b,
             arg_min(c.ix || ' ' || c.iy, q.i) AS p0,
             count(*) AS n_pts
           FROM seq q JOIN cyc c ON c.way_id = q.way_id AND c.pos = q.src_pos
           GROUP BY 1)
         SELECT way_id AS rel_id, CAST(0 AS BIGINT) AS ring_idx, 'outer' AS role,
           n_pts, TRUE AS closed,
           'POLYGON((' || b || ',' || p0 || '))' AS wkt
         FROM body""",
    "q70_pct2rgb" ->
      // round-trip is exact, so the oracle checksums the ORIGINAL bands
      s"""WITH $zoom3PixelsSql,
         chan AS (
           SELECT tx, ty, i, 1 AS band, v AS val FROM px
           UNION ALL SELECT tx, ty, i, 2, (v*2 + 5) % 256 FROM px
           UNION ALL SELECT tx, ty, i, 3, (v*7 + 11) % 256 FROM px)
         SELECT band, CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
           CAST(sum(CAST(val AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM chan GROUP BY 1, 2, 3""",
    "q69_locationinfo" ->
      // pure integer-unit pixel lookup against the closed-form grid
      s"""WITH qp AS ($qptsSql),
         ip AS (SELECT q_id,
             CAST((lon + 180.0) * 1024 AS BIGINT) // 360 AS gx,
             CAST((90.0 - lat) * 1024 AS BIGINT) // 360 AS gy FROM qp)
         SELECT q_id,
           CAST(((gx // 64)*131 + (gy // 64)*173 + (gx % 64)*7 + (gy % 64)*11 + 3) % 256 AS DOUBLE) AS v
         FROM ip""",
    "q68_png_roundtrip" ->
      // the PNG round-trip is lossless, so the oracle is the plain
      // closed-form checksum of the pre-encode pixels — any codec defect
      // (bit depth, row order, palette surprise) breaks the hash
      s"""WITH $zoom3PixelsSql
         SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
           CAST(sum(CAST(v AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM px GROUP BY 1, 2""",
    "q71_tiff_roundtrip" ->
      // TIFF is also lossless, so the oracle is identical to q68's:
      // the closed-form checksum of the pre-encode pixels
      s"""WITH $zoom3PixelsSql
         SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
           CAST(sum(CAST(v AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM px GROUP BY 1, 2""",
    "q66_color_relief" ->
      // hand-derived per-segment constants (NOT generated by the engine's
      // helper): R/G/B CASE chains over the closed-form zoom-3 pixels,
      // round-half-up via (2*d*|dc| + de) // (2*de) with baked signs
      s"""WITH $zoom3PixelsSql,
         chan AS (
           SELECT tx, ty, i, 1 AS band,
             CASE WHEN v < 64 THEN 0
                  WHEN v < 128 THEN (2*(v-64)*255 + 64) // 128
                  WHEN v < 192 THEN 255 - (2*(v-128)*127 + 64) // 128
                  WHEN v < 255 THEN 128 + (2*(v-192)*127 + 63) // 126
                  ELSE 255 END AS val FROM px
           UNION ALL
           SELECT tx, ty, i, 2,
             CASE WHEN v < 64 THEN (2*v*128 + 64) // 128
                  WHEN v < 128 THEN 128 + (2*(v-64)*127 + 64) // 128
                  WHEN v < 192 THEN 255 - (2*(v-128)*191 + 64) // 128
                  WHEN v < 255 THEN 64 + (2*(v-192)*191 + 63) // 126
                  ELSE 255 END FROM px
           UNION ALL
           SELECT tx, ty, i, 3,
             CASE WHEN v < 64 THEN 128 - (2*v*128 + 64) // 128
                  WHEN v < 192 THEN 0
                  WHEN v < 255 THEN (2*(v-192)*255 + 63) // 126
                  ELSE 255 END FROM px)
         SELECT band, CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
           CAST(sum(CAST(val AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM chan GROUP BY 1, 2, 3""",
    "q176_hsv_merge" ->
      // q66's hand-derived ramp chains as COLUMNS (all three channels per
      // pixel jointly), shade from its own law, then the HSV value-replace
      // collapse out = c*shade // max(r,g,b) (max>0 over this ramp, the
      // vmax=0 guard is structurally dead here)
      s"""WITH $zoom3PixelsSql,
         chan AS (
           SELECT tx, ty, i,
             CASE WHEN v < 64 THEN 0
                  WHEN v < 128 THEN (2*(v-64)*255 + 64) // 128
                  WHEN v < 192 THEN 255 - (2*(v-128)*127 + 64) // 128
                  WHEN v < 255 THEN 128 + (2*(v-192)*127 + 63) // 126
                  ELSE 255 END AS r,
             CASE WHEN v < 64 THEN (2*v*128 + 64) // 128
                  WHEN v < 128 THEN 128 + (2*(v-64)*127 + 64) // 128
                  WHEN v < 192 THEN 255 - (2*(v-128)*191 + 64) // 128
                  WHEN v < 255 THEN 64 + (2*(v-192)*191 + 63) // 126
                  ELSE 255 END AS g,
             CASE WHEN v < 64 THEN 128 - (2*v*128 + 64) // 128
                  WHEN v < 192 THEN 0
                  WHEN v < 255 THEN (2*(v-192)*255 + 63) // 126
                  ELSE 255 END AS b,
             (v * 5 + 97) % 256 AS sh
           FROM px),
         o AS (
           SELECT tx, ty, i, bb.b AS band,
             CASE WHEN greatest(r, g, chan.b) = 0 THEN sh
                  ELSE ((CASE bb.b WHEN 1 THEN r WHEN 2 THEN g ELSE chan.b END) * sh)
                       // greatest(r, g, chan.b) END AS val
           FROM chan, generate_series(1, 3) bb(b))
         SELECT CAST(band AS INT) AS band, CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
           CAST(sum(CAST(val AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM o GROUP BY 1, 2, 3""",
    "q133_color_relief_nearest" ->
      // hand-derived integer thresholds (v <= floor(midpoint)) — NOT the
      // engine's 2v < e_i+e_{i+1} form — per channel over the closed-form
      // zoom-3 pixels
      s"""WITH $zoom3PixelsSql,
         chan AS (
           SELECT tx, ty, i, 1 AS band,
             CASE WHEN v <= 15 THEN 0 WHEN v <= 63 THEN 0
                  WHEN v <= 127 THEN 255 WHEN v <= 191 THEN 128
                  ELSE 255 END AS val FROM px
           UNION ALL
           SELECT tx, ty, i, 2,
             CASE WHEN v <= 15 THEN 0 WHEN v <= 63 THEN 128
                  WHEN v <= 127 THEN 255 WHEN v <= 191 THEN 64
                  ELSE 255 END FROM px
           UNION ALL
           SELECT tx, ty, i, 3,
             CASE WHEN v <= 15 THEN 128 WHEN v <= 63 THEN 0
                  WHEN v <= 127 THEN 0 WHEN v <= 191 THEN 0
                  ELSE 255 END FROM px)
         SELECT band, CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
           CAST(sum(CAST(val AS BIGINT) * (i % 49 + 1)) % 65535 AS INT) AS cks
         FROM chan GROUP BY 1, 2, 3""",
    "q67_grid_stats" ->
      // same candidate geometry as q56; metrics in pure integers, nearest
      // via arg_min on the packed (d2, v) key
      s"""WITH $gridCandSql,
         wtd AS (
           SELECT tx, ty, v,
             (ix - (tx*5760 + 2880))*(ix - (tx*5760 + 2880))
               + (iy - (ty*5760 + 2880))*(iy - (ty*5760 + 2880)) AS d2
           FROM cand)
         SELECT tx, ty, count(*) AS n,
           CAST((sum(v) * 1000) // count(*) AS BIGINT) AS avg_milli,
           min(v) AS vmin, max(v) AS vmax,
           arg_min(v, d2 * 64 + v) AS nearest_v
         FROM wtd WHERE d2 <= 67108864 GROUP BY 1, 2""",
    "q138_grid_ellipse" ->
      // q67's candidate chain gated by the exact-integer ellipse
      // dx^2*4096^2 + dy^2*8192^2 <= 8192^2*4096^2 (rx 8deg, ry 4deg)
      s"""WITH $gridCandSql,
         wtd AS (
           SELECT tx, ty, v,
             (ix - (tx*5760 + 2880)) AS dx, (iy - (ty*5760 + 2880)) AS dy
           FROM cand)
         SELECT tx, ty, count(*) AS n,
           CAST((sum(v) * 1000) // count(*) AS BIGINT) AS avg_milli,
           min(v) AS vmin, max(v) AS vmax
         FROM wtd
         WHERE dx*dx*16777216 + dy*dy*67108864 <= 1125899906842624
         GROUP BY 1, 2""",
    "q56_grid_idw" ->
      // same fixed-point IDW in pure integers: candidate cells from the
      // point's 5x5 cell neighborhood, exact radius filter, 2^34//d2
      // weights, (num*1000)//den output
      s"""WITH $gridCandSql,
         wtd AS (
           SELECT tx, ty, v,
             (ix - (tx*5760 + 2880))*(ix - (tx*5760 + 2880))
               + (iy - (ty*5760 + 2880))*(iy - (ty*5760 + 2880)) AS d2
           FROM cand)
         SELECT tx, ty, count(*) AS n,
           CAST((sum(v * (17179869184 // greatest(d2, 1))) * 1000) // sum(17179869184 // greatest(d2, 1)) AS BIGINT) AS idw_milli
         FROM wtd WHERE d2 <= 67108864 GROUP BY 1, 2""",
    "q141_grid_idw_smoothing" ->
      // q56's chain with the smoothing-squared floor in the weight
      s"""WITH $gridCandSql,
         wtd AS (
           SELECT tx, ty, v,
             (ix - (tx*5760 + 2880))*(ix - (tx*5760 + 2880))
               + (iy - (ty*5760 + 2880))*(iy - (ty*5760 + 2880)) AS d2
           FROM cand)
         SELECT tx, ty, count(*) AS n,
           CAST((sum(v * (17179869184 // (d2 + 4194304))) * 1000) // sum(17179869184 // (d2 + 4194304)) AS BIGINT) AS idw_milli
         FROM wtd WHERE d2 <= 67108864 GROUP BY 1, 2""",
    "q155_stream_dedup" ->
      // the distinct fingerprint set (duplicate copies share text, so
      // injecting them must not add rows)
      """SELECT DISTINCT
           CAST(list_reduce(
             list_prepend(CAST(0 AS HUGEINT),
               list_transform(range(1, length(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))) + 1),
                 i -> CAST(unicode(substr(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), CAST(i AS INT), 1)) AS HUGEINT))),
             (acc, x) -> (acc * 257 + x) % 2305843009213693951) AS BIGINT) AS fp
         FROM documents""",
    "q154_stream_outer_join" ->
      // matched pairs at microsecond window bounds + one -1-padded row
      // per unmatched view, exactly what the sink holds post-flush
      """SELECT a.event_id AS view_id,
           coalesce(b.event_id, -1) AS click_id,
           coalesce(epoch_ms(b.ts) - epoch_ms(a.ts), -1) AS delta_ms
         FROM events a LEFT JOIN events b
           ON a.user_id = b.user_id AND b.event_id % 2 = 1
          AND epoch_us(b.ts) >= epoch_us(a.ts)
          AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000
         WHERE a.event_id % 2 = 0""",
    "q143_stream_window_agg" ->
      // every real 10-min window's count — the append-mode sink must
      // contain exactly these rows once the sentinels flush the state
      """SELECT (epoch_ms(ts) // 600000) * 600000 AS win_ms,
           event_type, count(*) AS n
         FROM events GROUP BY 1, 2""",
    "q140_stream_join" ->
      // the complete pair set: same-user click within [view_ts, view_ts+1h].
      // Range bound replays the engine's raw-timestamp compare at
      // MICROsecond precision (epoch_us) — required so Spark derives
      // state-eviction watermarks; delta_ms output stays epoch_ms
      // (truncates micros exactly like unix_millis).
      """SELECT a.event_id AS view_id, b.event_id AS click_id,
           epoch_ms(b.ts) - epoch_ms(a.ts) AS delta_ms
         FROM events a JOIN events b
           ON a.user_id = b.user_id
          AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
          AND epoch_us(b.ts) >= epoch_us(a.ts)
          AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000""",
    "q223_stream_semi_join" ->
      // semi semantics: each view at most once, iff >= 1 same-user click
      // in [view_ts, view_ts + 1h]; range replayed at micros like q140
      """SELECT a.event_id AS view_id, a.user_id AS v_user,
           epoch_ms(a.ts) AS vts_ms
         FROM events a
         WHERE a.event_id % 2 = 0 AND EXISTS (
           SELECT 1 FROM events b
           WHERE b.event_id % 2 = 1 AND b.user_id = a.user_id
             AND epoch_us(b.ts) >= epoch_us(a.ts)
             AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000)""",
    "q224_bm25_topk" ->
      // same integer BM25 law: k1=5/4, b=3/4 folded to one BIGINT
      // rational per term; idf = truncated 1000·(N−df+0.5)/(df+0.5);
      // (score desc, doc_id asc) total order
      s"""WITH $tokensSql,
         $bm25TermsSql,
         sc AS (
           SELECT q.qid, tf.doc_id,
             ((1000 * (2 * (st.n - dfq.df) + 1)) // (2 * dfq.df + 1))
               * ((36 * tf.tf * st.s * 1000000) //
                  (16 * tf.tf * st.s + 5 * st.s + 15 * dl.dl * st.n)) AS contrib
           FROM tf
           JOIN dfq ON dfq.term = tf.term
           JOIN dl ON dl.doc_id = tf.doc_id
           JOIN q ON q.term = tf.term, st),
         ag AS (SELECT qid, doc_id,
                  CAST(sum(contrib) AS BIGINT) AS score,
                  count(*) AS n_terms
                FROM sc GROUP BY 1, 2),
         rk AS (SELECT qid, doc_id, score, n_terms,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY score DESC, doc_id ASC) AS rank
                FROM ag)
       SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id, score, n_terms
       FROM rk WHERE rank <= 5""",
    "q225_feistel_shuffle" -> OracleHashSql.q225Feistel,
    "q226_audio_resample" ->
      // same container/sample law rebuilt from the header arithmetic,
      // same 5/8 linear-interp integer law (// truncates toward zero on
      // non-negative operands like Spark div; interp numerator sign
      // handled identically — both truncate)
      """WITH a AS (SELECT s_suppkey AS aid, 64 + s_suppkey % 129 AS n,
                    s_suppkey % 7 AS ld, s_suppkey % 5 AS tl FROM supplier),
         sm AS (SELECT aid, n,
             list_transform(range(0, n), i ->
               CASE WHEN i < ld OR i >= n - tl THEN 0
                    ELSE (aid*31 + i*17) % 256 - 128 END) AS smp
           FROM a),
         r1 AS (SELECT aid, n, smp, ((n - 1) * 5) // 8 + 1 AS m FROM sm),
         res AS (SELECT aid, m,
             list_transform(range(0, m), k ->
               CASE WHEN (k * 8) % 5 = 0
                 THEN list_extract(smp, (k * 8) // 5 + 1)
                 ELSE list_extract(smp, (k * 8) // 5 + 1)
                      + ((list_extract(smp, (k * 8) // 5 + 2)
                          - list_extract(smp, (k * 8) // 5 + 1))
                         * ((k * 8) % 5)) // 5 END) AS res
           FROM r1)
       SELECT aid, CAST(m AS BIGINT) AS m,
         CAST(list_sum(res) AS BIGINT) AS sum_s,
         CAST(list_min(res) AS BIGINT) AS min_s,
         CAST(list_max(res) AS BIGINT) AS max_s,
         CAST(list_reduce(list_prepend(0, list_transform(res, x -> x + 128)),
           (acc, x) -> (acc * 31 + x) % 1000000007) AS BIGINT) AS h
       FROM res""",
    "q227_unigram_viterbi" -> OracleHashSql.q227UnigramViterbi,
    "q228_stream_full_outer" ->
      // full outer at micros like q140/q154: unmatched views AND
      // unmatched clicks null-pad to -1
      """SELECT coalesce(a.event_id, -1) AS view_id,
           coalesce(b.event_id, -1) AS click_id,
           coalesce(epoch_ms(b.ts) - epoch_ms(a.ts), -1) AS delta_ms
         FROM (SELECT * FROM events WHERE event_id % 2 = 0) a
         FULL JOIN (SELECT * FROM events WHERE event_id % 2 = 1) b
           ON a.user_id = b.user_id
          AND epoch_us(b.ts) >= epoch_us(a.ts)
          AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000""",
    "q229_rrf_fusion" ->
      // both system scores replay their engine laws (q224 BM25 integer
      // rational; q147 tf·idf_milli), rank caps at 20, RRF k = 60,
      // (rrf desc, doc_id asc) total order
      s"""WITH $tokensSql,
         $bm25TermsSql,
         base AS (
           SELECT q.qid, tf.doc_id, tf.tf, dl.dl,
             (1000 * (2 * (st.n - dfq.df) + 1)) // (2 * dfq.df + 1) AS idf_milli,
             st.s AS s, st.n AS n
           FROM tf
           JOIN dfq ON dfq.term = tf.term
           JOIN dl ON dl.doc_id = tf.doc_id
           JOIN q ON q.term = tf.term, st),
         bm AS (SELECT qid, doc_id,
                  CAST(sum(idf_milli * ((36 * tf * s * 1000000) //
                    (16 * tf * s + 5 * s + 15 * dl * n))) AS BIGINT) AS sc
                FROM base GROUP BY 1, 2),
         ti AS (SELECT qid, doc_id,
                  CAST(sum(tf * idf_milli) AS BIGINT) AS sc
                FROM base GROUP BY 1, 2),
         rbm AS (SELECT qid, doc_id,
                  row_number() OVER (PARTITION BY qid ORDER BY sc DESC, doc_id ASC) AS rank
                FROM bm),
         rti AS (SELECT qid, doc_id,
                  row_number() OVER (PARTITION BY qid ORDER BY sc DESC, doc_id ASC) AS rank
                FROM ti),
         uni AS (
           SELECT qid, doc_id, 1000000 // (60 + rank) AS contrib
           FROM rbm WHERE rank <= 20
           UNION ALL
           SELECT qid, doc_id, 1000000 // (60 + rank) AS contrib
           FROM rti WHERE rank <= 20),
         fused AS (SELECT qid, doc_id,
                     CAST(sum(contrib) AS BIGINT) AS rrf_micro,
                     count(*) AS n_systems
                   FROM uni GROUP BY 1, 2),
         rk AS (SELECT qid, doc_id, rrf_micro, n_systems,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY rrf_micro DESC, doc_id ASC) AS rank
                FROM fused)
       SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id, rrf_micro, n_systems
       FROM rk WHERE rank <= 5""",
    "q230_kneser_ney" ->
      // same map-side adjacency law, same two fixed-order integer divs
      """WITH d AS (
           SELECT list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             t -> t <> '') AS tk
           FROM documents),
         b AS (
           SELECT unnest(CASE WHEN len(tk) >= 2
             THEN list_transform(range(1, len(tk)),
               i -> struct_pack(w1 := tk[CAST(i AS INT)], w2 := tk[CAST(i + 1 AS INT)]))
             ELSE [] END) AS s
           FROM d),
         c12 AS (SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS c12 FROM b GROUP BY 1, 2),
         c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1p_fwd
                FROM c12 GROUP BY 1),
         bwd AS (SELECT w2, count(*) AS n1p_bwd FROM c12 GROUP BY 1),
         nt AS (SELECT count(*) AS ntypes FROM c12)
       SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, c1,
         CAST((greatest(4 * c12 - 3, 0) * 1000000) // (4 * c1)
            + (3 * n1p_fwd * n1p_bwd * 1000000) // (4 * c1 * ntypes) AS BIGINT)
           AS p_micro
       FROM c12 JOIN c1 USING (w1) JOIN bwd USING (w2), nt""",
    "q231_layer_union" -> OracleHashSql.q231LayerUnion,
    "q233_url_canonicalize" ->
      // same synth law and the same instr/substring canonicalization
      // (DuckDB instr == Spark instr; substring(s, pos) to end in both)
      """WITH u AS (
           SELECT doc_id,
             (CASE doc_id % 2 WHEN 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
             (CASE doc_id % 3 WHEN 0 THEN 'WWW.Example.COM:443'
                WHEN 1 THEN 'www.example.com' ELSE 'WwW.ExAmPlE.CoM:443' END) ||
             '/Docs/Page' || CAST(doc_id % 50 AS VARCHAR) ||
             (CASE doc_id % 4
                WHEN 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR)
                WHEN 1 THEN '#section-2'
                WHEN 2 THEN '?utm_only=1'
                ELSE '' END) AS url
           FROM documents),
         p1 AS (SELECT doc_id, url, instr(url, '://') AS i1 FROM u),
         p2 AS (SELECT doc_id, url,
             lower(substring(url, 1, CAST(i1 - 1 AS INT))) AS scheme,
             substring(url, CAST(i1 + 3 AS INT)) AS rest FROM p1),
         p3 AS (SELECT *, instr(rest, '/') AS sl FROM p2),
         p4 AS (SELECT doc_id, url, scheme, rest, sl,
             substring(rest, 1, CAST(sl - 1 AS INT)) AS hp,
             substring(rest, CAST(sl AS INT)) AS pq FROM p3),
         p5 AS (SELECT *,
             lower(CASE WHEN substring(hp, CAST(length(hp) - 3 AS INT)) = ':443'
               THEN substring(hp, 1, CAST(length(hp) - 4 AS INT)) ELSE hp END) AS host,
             CASE WHEN instr(pq, '#') > 0
               THEN substring(pq, 1, CAST(instr(pq, '#') - 1 AS INT)) ELSE pq END AS nofrag
           FROM p4),
         p6 AS (SELECT *, instr(nofrag, '?') AS qp FROM p5),
         p7 AS (SELECT *,
             CASE WHEN qp > 0 THEN substring(nofrag, 1, CAST(qp - 1 AS INT)) ELSE nofrag END AS path,
             array_to_string(list_filter(
               string_split(CASE WHEN qp > 0 THEN substring(nofrag, CAST(qp + 1 AS INT)) ELSE '' END, '&'),
               p -> p <> '' AND substring(p, 1, 4) <> 'utm_'), '&') AS kept
           FROM p6),
         c AS (SELECT doc_id, url,
             scheme || '://' || host || path ||
             (CASE WHEN kept <> '' THEN '?' || kept ELSE '' END) AS canon
           FROM p7)
       SELECT canon, count(*) AS n_docs, min(doc_id) AS keeper,
         CAST(count(DISTINCT url) AS BIGINT) AS n_raw
       FROM c GROUP BY 1""",
    "q234_crs_wkt" -> OracleHashSql.q234CrsWkt,
    "q235_chat_template" ->
      // q158's span/payload law + role alternation by span ordinal
      // (row_number over the proven-unique order == offset), '' joined;
      // q31 rolling hash over the normalized render
      s"""WITH $docPayloadSql,
         rn AS (
           SELECT *, row_number() OVER (PARTITION BY doc_key
             ORDER BY line_no, part_key, supp_key) - 1 AS off
           FROM sp),
         r AS (
           SELECT doc_key,
             string_agg((CASE WHEN off % 2 = 0 THEN '<|user|>'
               ELSE '<|assistant|>' END) || payload, '' ORDER BY off) AS render,
             count(*) AS n_turns,
             CAST(sum(CASE WHEN off % 2 = 1 THEN length(payload) ELSE 0 END) AS BIGINT) AS n_train_chars,
             CAST(sum(CASE WHEN off % 2 = 0 THEN length(payload) ELSE 0 END) AS BIGINT) AS n_mask_chars
           FROM rn GROUP BY doc_key),
         n AS (
           SELECT doc_key, render, n_turns, n_train_chars, n_mask_chars,
             trim(regexp_replace(lower(render), '\\s+', ' ', 'g')) AS nm
           FROM r)
         SELECT printf('doc-%09d', doc_key) AS doc_id,
           n_turns, n_train_chars, n_mask_chars,
           CAST(list_reduce(
             list_prepend(CAST(0 AS HUGEINT),
               list_transform(range(1, length(nm) + 1),
                 i -> CAST(unicode(substr(nm, CAST(i AS INT), 1)) AS HUGEINT))),
             (acc, x) -> (acc * 257 + x) % 2305843009213693951) AS BIGINT) AS fp
         FROM n""",
    "q236_bucketed_pack" ->
      // q29 token law; same power-of-two ladder; rank within bucket by
      // doc_id (the global window is fine at oracle scale — the ENGINE
      // uses the two-phase scan)
      """WITH d AS (
           SELECT doc_id,
             CAST(len(string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         b AS (
           SELECT doc_id, n_tokens, least(n_tokens, 256) AS n_cap FROM d),
         c AS (
           SELECT doc_id, n_tokens,
             CASE WHEN n_cap <= 1 THEN 1 WHEN n_cap <= 2 THEN 2
                  WHEN n_cap <= 4 THEN 4 WHEN n_cap <= 8 THEN 8
                  WHEN n_cap <= 16 THEN 16 WHEN n_cap <= 32 THEN 32
                  WHEN n_cap <= 64 THEN 64 WHEN n_cap <= 128 THEN 128
                  ELSE 256 END AS bucket
           FROM b),
         r AS (
           SELECT doc_id, n_tokens, bucket,
             row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1 AS rank0,
             256 // bucket AS g
           FROM c)
       SELECT doc_id, n_tokens, CAST(bucket AS BIGINT) AS bucket,
         CAST(rank0 // g AS BIGINT) AS bin_idx,
         CAST(rank0 % g AS BIGINT) AS slot
       FROM r""",
    "q237_format_convert" -> OracleHashSql.q237FormatConvert,
    "q238_vrt_resolution" ->
      // same catalog arithmetic; ceil-div replayed as (a + r - 1) // r
      """WITH sc AS (
           SELECT s_suppkey AS sid,
             ([256, 512, 1024, 2048])[CAST(s_suppkey % 4 + 1 AS INT)] AS px_u,
             (s_suppkey % 16) * 65536 AS x0_u,
             (s_suppkey % 8) * 65536 AS y0_u,
             64 + (s_suppkey % 5) * 32 AS w_px,
             48 + (s_suppkey % 3) * 16 AS h_px
           FROM supplier),
         sc2 AS (SELECT *, x0_u + w_px * px_u AS x1_u, y0_u + h_px * px_u AS y1_u FROM sc),
         a AS (
           SELECT CAST(min(x0_u) AS BIGINT) AS xmin_u, CAST(min(y0_u) AS BIGINT) AS ymin_u,
             CAST(max(x1_u) AS BIGINT) AS xmax_u, CAST(max(y1_u) AS BIGINT) AS ymax_u,
             CAST(min(px_u) AS BIGINT) AS res_hi, CAST(max(px_u) AS BIGINT) AS res_lo,
             CAST(sum(px_u) // count(*) AS BIGINT) AS res_avg
           FROM sc2),
         m(mode) AS (VALUES ('highest'), ('lowest'), ('average')),
         x AS (
           SELECT m.mode,
             CASE m.mode WHEN 'highest' THEN a.res_hi
               WHEN 'lowest' THEN a.res_lo ELSE a.res_avg END AS res_u,
             a.xmin_u, a.ymin_u, a.xmax_u, a.ymax_u
           FROM a, m)
       SELECT mode, res_u, xmin_u, ymin_u, xmax_u, ymax_u,
         CAST((xmax_u - xmin_u + res_u - 1) // res_u AS BIGINT) AS nx,
         CAST((ymax_u - ymin_u + res_u - 1) // res_u AS BIGINT) AS ny
       FROM x""",
    "q239_dpo_pairs" -> OracleHashSql.q239DpoPairs,
    "q240_fim_transform" -> OracleHashSql.q240Fim,
    "q241_matryoshka" ->
      // same no-offset quantization; list slice == Spark slice
      """WITH q AS (
           SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q
           FROM embeddings),
         a AS (
           SELECT vec_id,
             CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS n2_full,
             CAST(list_sum(list_transform(list_slice(q, 1, 16), v -> v * v)) AS BIGINT) AS n2_16
           FROM q)
       SELECT vec_id, n2_full, n2_16,
         CAST(CASE WHEN n2_full = 0 THEN 0
              ELSE (n2_16 * 1000) // n2_full END AS BIGINT) AS retain_milli
       FROM a""",
    "q242_skew_census" ->
      // q13's rational cell law at zoom 7; same self-scaling salt law
      s"""WITH pts AS ($ptsSql),
         c AS (SELECT
             least(greatest(CAST(floor((lon + 180.0) / 360.0 * 256) AS BIGINT), 0), 255) AS tx,
             least(greatest(CAST(floor((90.0 - lat) / 180.0 * 128) AS BIGINT), 0), 127) AS ty
           FROM pts),
         t AS (SELECT count(*) AS total FROM c),
         g AS (SELECT tx, ty, count(*) AS cnt FROM c GROUP BY 1, 2),
         r AS (SELECT tx, ty, cnt,
             CAST(cnt * 1000 // t.total AS BIGINT) AS share_milli,
             CAST(least(cnt // greatest(t.total // 256, 1) + 1, 8) AS BIGINT) AS salt,
             row_number() OVER (ORDER BY cnt DESC, tx ASC, ty ASC) AS rank
           FROM g, t)
       SELECT CAST(rank AS BIGINT) AS rank, tx, ty, cnt, share_milli, salt
       FROM r WHERE rank <= 16""",
    "q243_gpkg" -> OracleHashSql.q243Gpkg,
    "q244_temperature_sampling" ->
      // α=1/2 power via correctly-rounded sqrt + exponent-only 2^20
      // scaling — bit-pinned on both engines; the rest is integer
      """WITH l AS (
           SELECT lang, sum(n_chars) AS c, count(*) AS n
           FROM documents GROUP BY lang),
         s AS (SELECT lang, c, n,
             CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1048576.0) AS BIGINT) AS sl
           FROM l),
         t AS (SELECT sum(sl) AS tot, sum(n) AS b FROM s),
         e AS (SELECT lang, sl,
             sl * 1000000 // t.tot AS w_ppm,
             ((t.b * sl // t.tot) * 1000) // n AS e_milli
           FROM s, t)
       SELECT d.doc_id, d.lang, e.sl, CAST(e.w_ppm AS BIGINT) AS w_ppm,
         CAST(e.e_milli // 1000
           + CASE WHEN (d.doc_id * 7919) % 1000 < e.e_milli % 1000 THEN 1 ELSE 0 END
           AS BIGINT) AS n_copies
       FROM documents d JOIN e ON e.lang = d.lang""",
    "q245_hillshade_igor" -> hillshadeIgorOracle,
    "q246_slm_token_select" ->
      // exact cross-multiplied add-one unigram comparison — no logs
      """WITH norm AS (
           SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS n
           FROM documents),
         toks AS (
           SELECT doc_id, unnest(CASE WHEN n = '' THEN CAST([] AS VARCHAR[])
                                      ELSE string_split(n, ' ') END) AS tok
           FROM norm),
         st AS (
           SELECT tok,
             sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
           FROM toks GROUP BY tok),
         tt AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS v FROM st),
         sel AS (
           SELECT t.doc_id,
             CASE WHEN (st.cb + 1) * (tt.na + tt.v) > (st.ca + 1) * (tt.nb + tt.v)
                  THEN 1 ELSE 0 END AS s
           FROM toks t JOIN st ON st.tok = t.tok, tt),
         agg AS (
           SELECT doc_id, count(*) AS n_tokens, sum(s) AS n_selected
           FROM sel GROUP BY doc_id)
       SELECT d.doc_id,
         CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
         CAST(coalesce(a.n_selected, 0) AS BIGINT) AS n_selected,
         CAST(CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0
                   ELSE a.n_selected * 1000 // a.n_tokens END AS BIGINT) AS sel_milli
       FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""",
    "q247_best_of_n" ->
      """WITH c AS (
           SELECT doc_id, doc_id // 8 AS prompt_id,
             (doc_id * 7919) % 256 AS reward
           FROM documents),
         k AS (
           SELECT prompt_id, max(reward) AS best FROM c GROUP BY prompt_id),
         kid AS (
           SELECT c.prompt_id, min(c.doc_id) AS keeper_id
           FROM c JOIN k ON k.prompt_id = c.prompt_id AND c.reward = k.best
           GROUP BY c.prompt_id)
       SELECT c.prompt_id, c.doc_id, c.reward,
         c.doc_id = kid.keeper_id AS is_keeper,
         CAST(k.best - c.reward AS BIGINT) AS margin
       FROM c JOIN k ON k.prompt_id = c.prompt_id
       JOIN kid ON kid.prompt_id = c.prompt_id""",
    "q248_gauss_kruger" -> OracleHashSql.q248GaussKruger(qptsSql),
    "q249_albers_forward" -> OracleHashSql.q249Albers(qptsSql),
    "q250_albers_inverse" -> OracleHashSql.q250AlbersInv,
    "q251_weighted_reservoir" -> OracleHashSql.q251WeightedReservoir,
    "q252_char_entropy" -> OracleHashSql.q252CharEntropy,
    "q253_hilbert_locality" -> OracleHashSql.q253Hilbert(qptsSql),
    "q254_rotated_gt" -> OracleHashSql.q254RotatedGt,
    "q255_suggested_warp" -> OracleHashSql.q255SuggestedWarp,
    "q256_ogr_vrt" ->
      """WITH sp AS (SELECT s_suppkey AS q_id FROM supplier),
b AS (SELECT q_id,
    CAST((q_id * 7919) % 1441 AS DOUBLE) / 4.0 - 180.0 AS lon,
    CAST((q_id * 104729) % 641 AS DOUBLE) / 4.0 - 80.0 AS lat
  FROM sp)
SELECT q_id, 'docs' AS layer,
  printf('doc %d, "t%d"', q_id, q_id % 5) AS label,
  CAST(q_id % 97 AS BIGINT) AS metric,
  CAST(printf('%.2f', lon) AS DOUBLE) AS x,
  CAST(printf('%.2f', lat) AS DOUBLE) AS y
FROM b""",
    "q257_ogr_parse_date" ->
      """WITH sp AS (SELECT s_suppkey AS q_id FROM supplier),
c AS (SELECT q_id,
    CAST(1970 + q_id % 55 AS INTEGER) AS y,
    CAST(1 + q_id % 12 AS INTEGER) AS mo,
    CAST(1 + q_id % 28 AS INTEGER) AS dd,
    CAST(q_id % 24 AS INTEGER) AS hh,
    CAST((q_id * 7) % 60 AS INTEGER) AS mi,
    CAST((q_id * 13) % 60 AS INTEGER) AS ss
  FROM sp),
s AS (SELECT *, CASE CAST(q_id % 6 AS INTEGER)
    WHEN 0 THEN printf('%04d-%02d-%02d %02d:%02d:%02d', y, mo, dd, hh, mi, ss)
    WHEN 1 THEN printf('%04d/%02d/%02d %02d:%02d:%02d+02:30', y, mo, dd, hh, mi, ss)
    WHEN 2 THEN printf('%04d-%02d-%02dT%02d:%02d:%02dZ', y, mo, dd, hh, mi, ss)
    WHEN 3 THEN printf('%04d-%02d-%02d', y, mo, dd)
    WHEN 4 THEN printf('%04d-%02d-%02d %02d:%02d:%02d-05:00', y, mo, dd, hh, mi, ss)
    ELSE printf('%04d-%02d-%02d %02d:%02d:%02d.5+03', y, mo, dd, hh, mi, ss)
    END AS str FROM c)
SELECT q_id, str, y AS py, mo AS pm, dd AS pd,
  CAST(CASE WHEN q_id % 6 = 3 THEN 0 ELSE hh END AS INTEGER) AS phh,
  CAST(CASE WHEN q_id % 6 = 3 THEN 0 ELSE mi END AS INTEGER) AS pmi,
  CAST(CASE WHEN q_id % 6 = 3 THEN 0
            WHEN q_id % 6 = 5 THEN ss * 1000 + 500
            ELSE ss * 1000 END AS INTEGER) AS pss_milli,
  CAST(CASE CAST(q_id % 6 AS INTEGER)
       WHEN 1 THEN 110 WHEN 2 THEN 100 WHEN 4 THEN 80 WHEN 5 THEN 112
       ELSE 0 END AS INTEGER) AS ptz
FROM s""",
    "q258_mmr_rerank" -> OracleHashSql.q258Mmr,
    "q259_sinusoidal" -> s"""
WITH qp AS ($qptsSql),
a AS (SELECT q_id, (lat / 180.0) * pi() AS phi, (lon / 180.0) * pi() AS lam FROM qp),
f AS (SELECT q_id, phi, lam,
    6371007.181 * lam * cos(phi) AS x, 6371007.181 * phi AS y FROM a),
b AS (SELECT q_id, x, y, y / 6371007.181 AS phib FROM f),
c AS (SELECT *, x / (6371007.181 * cos(phib)) AS lamb FROM b)
SELECT q_id,
  CAST(floor(x * 100.0 + 0.5) AS BIGINT) AS x_cm,
  CAST(floor(y * 100.0 + 0.5) AS BIGINT) AS y_cm,
  CAST(floor(((lamb * 180.0) / pi()) * 1000000.0 + 0.3) AS BIGINT) AS lon_udeg,
  CAST(floor(((phib * 180.0) / pi()) * 1000000.0 + 0.3) AS BIGINT) AS lat_udeg
FROM c""",
    "q260_merge_upsert" -> OracleHashSql.q260MergeUpsert,
    "q261_geohash" -> OracleHashSql.q261Geohash(qptsSql),
    "q262_domain_tv" ->
      """WITH toks AS (
  SELECT source, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents),
t2 AS (SELECT * FROM toks WHERE term <> ''),
dom AS (SELECT source, term, count(*) AS o FROM t2 GROUP BY 1, 2),
corp AS (SELECT term, sum(o) AS c FROM dom GROUP BY 1),
ndt AS (SELECT source, sum(o) AS nd FROM dom GROUP BY 1),
nt AS (SELECT sum(c) AS n FROM corp),
j AS (SELECT d.source, abs(d.o * nt.n - c.c * ndt.nd) AS dterm, c.c AS c, ndt.nd AS nd, nt.n AS n
      FROM dom d JOIN corp c ON c.term = d.term JOIN ndt ON ndt.source = d.source CROSS JOIN nt),
a AS (SELECT source, max(nd) AS nd, max(n) AS n, sum(dterm) AS dsum, sum(c) AS cd
      FROM j GROUP BY source)
SELECT source, CAST(nd AS BIGINT) AS nd,
  CAST((dsum + nd * (n - cd)) * 1000 // (2 * nd * n) AS BIGINT) AS tv_milli
FROM a""",
    "q263_network_sssp" ->
      """WITH RECURSIVE sp AS (SELECT s_suppkey - 1 AS i FROM supplier),
nt AS (SELECT count(*) AS n FROM sp),
edges AS (
  SELECT i AS src, i + 1 AS dst, 1 + (i * 7) % 7 AS w FROM sp, nt
    WHERE (i + 1) % 10 <> 0 AND i + 1 < nt.n
  UNION ALL SELECT i, i + 10, 1 + (i * 13) % 5 FROM sp, nt WHERE i + 10 < nt.n
  UNION ALL SELECT i, i + 33, 4 FROM sp, nt WHERE i + 33 < nt.n
  UNION ALL SELECT i, i + 205, 9 FROM sp, nt WHERE i + 205 < nt.n),
walk(node, d) AS (
  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS d
  UNION
  SELECT e.dst, w.d + e.w FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.d + e.w <= 1000)
SELECT node, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY node""",
    "q264_curriculum" -> OracleHashSql.q264Curriculum,
    "q265_bpe_fertility" -> OracleHashSql.q265BpeFertility,
    "q266_asof_join" ->
      """WITH ev AS (SELECT user_id, event_id, ts FROM events),
u AS (SELECT DISTINCT user_id FROM ev),
snaps AS (
  SELECT user_id, k.k AS k,
    TIMESTAMP '2023-12-30 00:00:00' + INTERVAL (user_id % 7) HOUR
      + INTERVAL (k.k * 3) DAY AS sts,
    user_id * 100 + k.k AS sval
  FROM u, generate_series(0, 9) k(k)),
j AS (
  SELECT e.user_id, e.event_id, s.sval,
    row_number() OVER (PARTITION BY e.event_id ORDER BY s.sts DESC) AS rn
  FROM ev e JOIN snaps s ON s.user_id = e.user_id AND s.sts <= e.ts)
SELECT user_id, event_id, CAST(sval AS BIGINT) AS asof_val FROM j WHERE rn = 1""",
    "q267_range_join" ->
      """WITH win AS (
  SELECT w.w AS window_id,
    TIMESTAMP '2023-12-31 16:00:00' + INTERVAL (w.w * 29) HOUR AS wstart,
    TIMESTAMP '2023-12-31 16:00:00' + INTERVAL (w.w * 29 + 9) HOUR AS wend
  FROM generate_series(0, 23) w(w))
SELECT e.event_id, CAST(win.window_id AS BIGINT) AS window_id
FROM events e JOIN win ON e.ts >= win.wstart AND e.ts < win.wend""",
    "q268_kmv_sketch" -> OracleHashSql.q268KmvSketch,
    "q269_pagerank" -> OracleHashSql.q269Pagerank,
    "q270_langid_confusion" ->
      """WITH toks AS (
  SELECT doc_id, lang,
    string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ts
  FROM documents),
scores AS (
  SELECT doc_id, lang,
    len(list_filter(ts, x -> x IN ('the','and','of','to','a'))) AS s_en,
    len(list_filter(ts, x -> x IN ('der','und','die','nicht','ist'))) AS s_de,
    len(list_filter(ts, x -> x IN ('le','la','et','les','des'))) AS s_fr,
    len(list_filter(ts, x -> x IN ('el','la','de','que','los'))) AS s_es,
    len(list_filter(ts, x -> x IN ('的','是','了','在','我'))) AS s_zh
  FROM toks),
pred AS (
  SELECT lang,
    CASE
      WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
      WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
      WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
      WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
      WHEN s_es >= s_zh THEN 'es'
      ELSE 'zh' END AS pred_lang
  FROM scores),
cells AS (SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2),
tot AS (SELECT lang, sum(n) AS nt FROM cells GROUP BY 1)
SELECT c.lang, c.pred_lang, CAST(c.n AS BIGINT) AS n,
  CAST(c.n * 1000000 // t.nt AS BIGINT) AS cell_ppm
FROM cells c JOIN tot t ON t.lang = c.lang""",
    "q271_layout_audit" -> OracleHashSql.q271LayoutAudit,
    "q272_tile_modality_census" -> s"""
WITH pts AS ($ptsSql),
sp AS (SELECT doc_key,
    CAST(floor((lon + 180.0) / 360.0 * 512) AS BIGINT) AS tx,
    CAST(floor((90.0 - lat) / 180.0 * 256) AS BIGINT) AS ty,
    CASE WHEN line_no % 4 = 0 THEN 1 ELSE 0 END AS is_media
  FROM pts),
pdt AS (SELECT tx, ty, doc_key,
    sum(CASE WHEN is_media = 0 THEN 1 ELSE 0 END) AS nt,
    sum(is_media) AS nm
  FROM sp GROUP BY 1, 2, 3)
SELECT tx, ty, CAST(sum(nt) AS BIGINT) AS n_text, CAST(sum(nm) AS BIGINT) AS n_media,
  CAST(count(*) AS BIGINT) AS n_docs,
  CASE WHEN sum(nt) > 0 AND sum(nm) > 0 THEN 'mixed'
       WHEN sum(nm) > 0 THEN 'media' ELSE 'text' END AS modality
FROM pdt GROUP BY 1, 2""",
    "q273_equalize" ->
      """WITH px AS (
  SELECT ((i.i % 1024) // 64) * 131 + ((i.i // 1024) // 64) * 173
       + ((i.i % 1024) % 64) * 7 + ((i.i // 1024) % 64) * 11 + 3 AS raw
  FROM generate_series(0, 65535) i(i)),
hist AS (SELECT raw % 256 AS v, count(*) AS cnt FROM px GROUP BY 1),
cum AS (SELECT v, cnt,
    sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cdf
  FROM hist),
mins AS (SELECT min(cdf) AS cdf_min, sum(cnt) AS n FROM cum)
SELECT c.v, CAST(c.cnt AS BIGINT) AS cnt, CAST(c.cdf AS BIGINT) AS cdf,
  CAST((c.cdf - m.cdf_min) * 255 // (m.n - m.cdf_min) AS BIGINT) AS lut,
  CAST(((c.cdf - m.cdf_min) * 255 // (m.n - m.cdf_min)) * c.cnt % 65535 AS BIGINT) AS wsum_mod
FROM cum c CROSS JOIN mins m""",
    "q274_dissolve" -> s"""
WITH boxes AS ($boxesSql),
gb AS (SELECT box_id % 16 AS g, box_id,
    CAST(floor(xmin) AS BIGINT) AS x0, CAST(floor(ymin) AS BIGINT) AS y0,
    CAST(xmax - xmin AS BIGINT) AS w, CAST(ymax - ymin AS BIGINT) AS h
  FROM boxes),
cx AS (SELECT g, y0, h, x0 + unnest(range(0, w)) AS ccx FROM gb),
cells0 AS (SELECT g, ccx, y0 + unnest(range(0, h)) AS ccy FROM cx),
cells AS (SELECT DISTINCT g, ccx, ccy FROM cells0),
area AS (SELECT g, count(*) AS area_cells FROM cells GROUP BY 1),
adj AS (
  SELECT c.g, count(*) AS covered_adj
  FROM cells c JOIN cells n ON n.g = c.g AND
    ((n.ccx = c.ccx + 1 AND n.ccy = c.ccy) OR (n.ccx = c.ccx - 1 AND n.ccy = c.ccy)
     OR (n.ccx = c.ccx AND n.ccy = c.ccy + 1) OR (n.ccx = c.ccx AND n.ccy = c.ccy - 1))
  GROUP BY c.g),
nb AS (SELECT g, count(*) AS n_boxes FROM gb GROUP BY 1)
SELECT a.g, CAST(nb.n_boxes AS BIGINT) AS n_boxes,
  CAST(a.area_cells AS BIGINT) AS area_cells,
  CAST(4 * a.area_cells - coalesce(adj.covered_adj, 0) AS BIGINT) AS perim_units
FROM area a JOIN nb ON nb.g = a.g LEFT JOIN adj ON adj.g = a.g""",
    "q276_robots_match" ->
      """WITH rules(prefix, allow) AS (VALUES
  ('/', 1), ('/private/', 0), ('/private/share/', 1), ('/tmp/', 0),
  ('/api/', 0), ('/api/pub/', 1), ('/static/', 1), ('/static/int/', 0),
  ('/user/', 1), ('/user/admin/', 0), ('/data/', 0), ('/data/open/', 1)),
segs(i, seg) AS (VALUES (0,'private'),(1,'share'),(2,'tmp'),(3,'api'),(4,'pub'),
  (5,'static'),(6,'int'),(7,'user'),(8,'admin'),(9,'data'),(10,'open'),(11,'x')),
u AS (
  SELECT s_suppkey AS q_id,
    (SELECT seg FROM segs WHERE i = s_suppkey % 12) AS p1,
    CASE WHEN (s_suppkey // 12) % 2 = 0 THEN
      CASE (SELECT seg FROM segs WHERE i = s_suppkey % 12)
        WHEN 'private' THEN 'share' WHEN 'api' THEN 'pub'
        WHEN 'static' THEN 'int' WHEN 'user' THEN 'admin'
        WHEN 'data' THEN 'open' ELSE 'x' END
    ELSE (SELECT seg FROM segs WHERE i = (s_suppkey * 5) % 12) END AS p2
  FROM supplier),
urls AS (SELECT q_id, p1, p2,
    '/' || p1 || '/' || p2 || '/page' || CAST(q_id % 7 AS VARCHAR) AS path
  FROM u),
cand AS (
  SELECT q_id, path, c.prefix, r.allow
  FROM urls, unnest(['/', '/' || p1 || '/', '/' || p1 || '/' || p2 || '/']) AS c(prefix)
  JOIN rules r ON r.prefix = c.prefix),
rnk AS (SELECT *, row_number() OVER (PARTITION BY q_id
    ORDER BY length(prefix) DESC, allow DESC) AS rn FROM cand)
SELECT q_id, path, prefix AS rule, CAST(allow AS BIGINT) AS allow
FROM rnk WHERE rn = 1""",
    "q275_geo_manifest" -> s"""
WITH pts AS ($ptsSql),
g AS (SELECT
    CAST(floor((lon + 180.0) / 360.0 * 4) AS BIGINT) AS tx,
    CAST(floor((90.0 - lat) / 180.0 * 4) AS BIGINT) AS ty,
    CAST(lon * 1024.0 AS BIGINT) AS li, CAST(lat * 1024.0 AS BIGINT) AS la
  FROM pts),
a AS (SELECT tx, ty, count(*) AS n_rows, min(li) AS xmin_m, max(li) AS xmax_m,
    min(la) AS ymin_m, max(la) AS ymax_m FROM g GROUP BY 1, 2)
SELECT tx, ty, CAST(n_rows AS BIGINT) AS n_rows, xmin_m, xmax_m, ymin_m, ymax_m,
  printf('{"cell":"2/%d/%d","rows":%d,"bbox_1024":[%d,%d,%d,%d]}',
    tx, ty, n_rows, xmin_m, ymin_m, xmax_m, ymax_m) AS manifest
FROM a"""
  )

  /** Shared oracle fragment for q55/q58: per-dst-pixel source values of
    * the 1024x512 -> 640x320 re-grid of the zoom-3 synthetic raster. */
  private val regridValsSql =
    """dst AS (SELECT dgx.x AS dgx, dgy.y AS dgy
           FROM generate_series(0, 639) dgx(x), generate_series(0, 319) dgy(y)),
         srcpx AS (
           SELECT d.dgx, d.dgy,
             ((16*d.dgx+4)//10 + ox.o) AS gx, ((16*d.dgy+4)//10 + oy.o) AS gy
           FROM dst d, generate_series(0, 1) ox(o), generate_series(0, 1) oy(o)
           WHERE 10*((16*d.dgx+4)//10 + ox.o) + 5 < 16*(d.dgx+1)
             AND 10*((16*d.dgy+4)//10 + oy.o) + 5 < 16*(d.dgy+1)),
         vals AS (
           SELECT dgx, dgy,
             ((gx//64)*131 + (gy//64)*173 + (gx%64)*7 + (gy%64)*11 + 3) % 256 AS v
           FROM srcpx)"""
}
