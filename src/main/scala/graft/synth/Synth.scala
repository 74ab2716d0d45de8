package graft.synth

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.F

/** Deterministic synthesis of the engine's spatial inputs from the driver's
  * parquet tables (TESTDATA.md). No external data, no RNG: every value is
  * integer arithmetic on TPC-H keys followed by division by a power of two,
  * so coordinates are exact binary fractions that a DuckDB SQL oracle
  * recomputes bit-for-bit from the same parquet. This is how the
  * interleaved-docs table of BASELINE.json:input_hint and the join inputs
  * stay verifiable end-to-end.
  *
  * Design notes:
  *  - point coords are multiples of 2^-10; box edges are integer + 2^-12,
  *    so a point can never lie exactly on a box edge (no boundary-rule
  *    ambiguity between engines).
  *  - ~10% of points (l_orderkey % 10 = 0) collapse into a 0.5° hot-spot
  *    disc at (10.25, 45.25) to exercise skew salting (FIXTURES.md F1).
  *  - a few giant boxes (p_partkey % 97 = 0) force multi-cell covers.
  */
object Synth {

  /** (pt_id, doc_id, offset, lon, lat) — one point per lineitem row.
    * SQL-equivalent (DuckDB): see SparkEntry.pointsSql. */
  def points(spark: SparkSession, sfDir: String): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    li.select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("pt_id"),
      col("l_orderkey").as("doc_key"),
      col("l_linenumber").as("line_no"),
      // (orderkey, linenumber) is NOT unique in the driver data; partkey +
      // suppkey complete a unique key — needed as a deterministic span-
      // order tiebreaker in docs()
      col("l_partkey").as("part_key"),
      col("l_suppkey").as("supp_key"),
      col("l_quantity"),
      when(col("l_orderkey") % 10 === 0,
        ((col("l_orderkey") * 7919 + col("l_linenumber") * 104729 + col("l_partkey")) % 512) / 1024.0 + 10.0)
        .otherwise(
          ((col("l_orderkey") * 7919 + col("l_linenumber") * 104729 + col("l_partkey")) % 368640) / 1024.0 - 180.0)
        .as("lon"),
      when(col("l_orderkey") % 10 === 0,
        ((col("l_orderkey") * 104729 + col("l_linenumber") * 7919 + col("l_suppkey")) % 512) / 1024.0 + 45.0)
        .otherwise(
          ((col("l_orderkey") * 104729 + col("l_linenumber") * 7919 + col("l_suppkey")) % 163840) / 1024.0 - 80.0)
        .as("lat"))
  }

  /** (box_id, xmin, ymin, xmax, ymax) — one axis-aligned box per part row. */
  def boxes(spark: SparkSession, sfDir: String): DataFrame = {
    val p = spark.read.parquet(s"$sfDir/part.parquet")
    val eps = lit(1.0 / 4096.0)
    val giant = col("p_partkey") % 97 === 0
    p.select(
      col("p_partkey").as("box_id"),
      (((col("p_partkey") * 131) % 340) - 170 + eps).as("xmin"),
      (((col("p_partkey") * 241) % 150) - 75 + eps).as("ymin"),
      (((col("p_partkey") * 131) % 340) - 170 + eps +
        when(giant, 25).otherwise(col("p_partkey") % 7 + 2)).as("xmax"),
      (((col("p_partkey") * 241) % 150) - 75 + eps +
        when(giant, 18).otherwise(col("p_partkey") % 5 + 1)).as("ymax"))
  }

  /** Box corners as WKT polygons (engine side parses with JTS). */
  def regionWkt(spark: SparkSession, sfDir: String): DataFrame =
    boxes(spark, sfDir).select(
      col("box_id").as("region_id"),
      format_string("POLYGON((%.12f %.12f, %.12f %.12f, %.12f %.12f, %.12f %.12f, %.12f %.12f))",
        col("xmin"), col("ymin"), col("xmax"), col("ymin"),
        col("xmax"), col("ymax"), col("xmin"), col("ymax"),
        col("xmin"), col("ymin")).as("wkt"))

  /** The polygon side of the region joins: `(region_id, geom)`, the
    * [[regionWkt]] boxes parsed to WKB. Nothing else reaches a join's
    * cover, so the WKT text is neither cached nor broadcast. */
  def regionGeoms(spark: SparkSession, sfDir: String): DataFrame = {
    F.ensureRegistered(spark)
    regionWkt(spark, sfDir).select(col("region_id"), F.st_geomfromwkt(col("wkt")).as("geom"))
  }

  /** The rasterize box set of q17, q119 and q130: every 7th [[boxes]] row
    * with its rectangle parsed as `geom`. */
  def rasterBoxes(spark: SparkSession, sfDir: String): DataFrame = {
    F.ensureRegistered(spark)
    boxes(spark, sfDir)
      .where(col("box_id") % 7 === 0)
      .withColumn("geom", F.st_geomfromwkt(format_string(
        "POLYGON((%.12f %.12f, %.12f %.12f, %.12f %.12f, %.12f %.12f, %.12f %.12f))",
        col("xmin"), col("ymin"), col("xmax"), col("ymin"),
        col("xmax"), col("ymax"), col("xmin"), col("ymax"), col("xmin"), col("ymin"))))
  }

  /** kNN query points — one per supplier row. */
  def queryPoints(spark: SparkSession, sfDir: String): DataFrame = {
    val s = spark.read.parquet(s"$sfDir/supplier.parquet")
    s.select(
      col("s_suppkey").as("q_id"),
      (((col("s_suppkey") * 7919) % 368640) / 1024.0 - 180.0).as("lon"),
      (((col("s_suppkey") * 104729) % 163840) / 1024.0 - 80.0).as("lat"))
  }

  /** The interleaved text+media documents table — the north-star input
    * shape (doc_id: string, spans: array<struct<kind,text,media_ref,offset>>).
    * One doc per order; spans from its lineitems ordered by linenumber.
    * Every 4th line is a media span whose tile:// ref is the zoom-8
    * geodetic tile of that line's point; others carry POINT WKT.
    * %.10f prints k/1024 coordinates exactly → WKT round-trips losslessly. */
  def docs(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = points(spark, sfDir)
    val w = Window.partitionBy(col("doc_key"))
      .orderBy(col("line_no"), col("part_key"), col("supp_key"))
    val spans = pts
      .withColumn("offset", (row_number().over(w) - 1).cast("int"))
      .withColumn("kind", when(col("line_no") % 4 === 0, "media").otherwise("text"))
      .withColumn("tx", floor((col("lon") + 180.0) / 360.0 * 512).cast("long"))
      .withColumn("ty", floor((lit(90.0) - col("lat")) / 180.0 * 256).cast("long"))
      .withColumn("text",
        when(col("kind") === "text", format_string("POINT(%.10f %.10f)", col("lon"), col("lat")))
          .otherwise(lit("")))
      .withColumn("media_ref",
        when(col("kind") === "media", format_string("tile://8/%d/%d/1", col("tx"), col("ty")))
          .otherwise(lit("")))
    spans
      .groupBy(col("doc_key"))
      .agg(sort_array(collect_list(struct(
        col("offset"), col("kind"), col("text"), col("media_ref")))).as("ordered"))
      .select(
        format_string("doc-%09d", col("doc_key")).as("doc_id"),
        expr("transform(ordered, s -> struct(s.kind as kind, s.text as text, s.media_ref as media_ref, s.offset as offset))").as("spans"))
  }

  // ---- OSM-style inputs (SURVEY §3.1 S10): nodes / ways / relations ----

  /** Node table (node_id, ix, iy) in integer 1/1024-degree units. Every
    * pt_id % 53 == 0 node is WITHHELD — the reference skips ways with
    * unresolvable refs, and this exercises that path. pt_id is not unique
    * in the driver data ((orderkey, linenumber) collides), so duplicates
    * collapse with independent min(ix)/min(iy): deterministic and
    * reproducible by the same GROUP BY in the DuckDB oracle. */
  def osmNodes(spark: SparkSession, sfDir: String): DataFrame =
    points(spark, sfDir)
      .where(col("pt_id") % 53 =!= 0)
      .select(col("pt_id").as("node_id"),
        ((col("lon") + 180.0) * 1024).cast("long").as("ix"),
        ((lit(90.0) - col("lat")) * 1024).cast("long").as("iy"))
      .groupBy("node_id")
      .agg(min("ix").as("ix"), min("iy").as("iy"))

  /** Way table (way_id, refs): one way per order, refs = its lineitems'
    * pt_ids in span order. doc_key % 7 == 0 ways with ≥ 3 refs are closed
    * by appending the first ref — the OSM closed-way/area encoding. */
  def osmWays(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_key"))
      .orderBy(col("line_no"), col("part_key"), col("supp_key"))
    points(spark, sfDir)
      .withColumn("pos", row_number().over(w))
      .groupBy(col("doc_key"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, pt_id))), s -> s.pt_id)")
        .as("refs"))
      .select(col("doc_key").as("way_id"),
        when(col("doc_key") % 7 === 0 && size(col("refs")) >= 3,
          concat(col("refs"), slice(col("refs"), 1, 1)))
          .otherwise(col("refs")).as("refs"))
  }

  /** Relation member arcs: each QUALIFYING closed way (all nodes present,
    * all resolved coordinates distinct — a ring with repeated points has
    * no unique stitch) is split into two open arcs A = [r1, r2] and
    * B = [r2..rn, r1]; stitching A+B must recover the original ring.
    * Arc way ids are way_id*10 + {1,2}. */
  def osmRelArcs(spark: SparkSession, sfDir: String): DataFrame = {
    val nodes = osmNodes(spark, sfDir)
    val closed = osmWays(spark, sfDir)
      .where(col("way_id") % 7 === 0 && size(col("refs")) >= 4)
    val cyc = closed
      .select(col("way_id"), size(col("refs")).as("n_refs"),
        posexplode(expr("slice(refs, 1, size(refs) - 1)")).as(Seq("pos", "node_id")))
      .join(nodes, "node_id")
      .groupBy("way_id")
      .agg(max("n_refs").as("n_refs"), count(lit(1)).as("n_res"),
        countDistinct(concat_ws(":", col("ix"), col("iy"))).as("n_coord"),
        expr("transform(sort_array(collect_list(struct(pos, node_id))), s -> s.node_id)")
          .as("cyc"))
      .where(col("n_res") === col("n_refs") - 1 && col("n_coord") === col("n_res"))
    cyc.select(explode(array(
        struct((col("way_id") * 10 + 1).as("way_id"), expr("slice(cyc, 1, 2)").as("refs")),
        struct((col("way_id") * 10 + 2).as("way_id"),
          expr("concat(slice(cyc, 2, size(cyc) - 1), slice(cyc, 1, 1))").as("refs")))).as("w"))
      .select(col("w.way_id").as("way_id"), col("w.refs").as("refs"))
  }

  /** Relations (rel_id, members array<struct<way_id, role>>): both arcs of
    * each split way as role=outer members. Takes the arcs DataFrame so a
    * caller can cache ONE arc derivation and feed both the member-way
    * table and the relation table (separate lineages would recompute the
    * whole window + join pipeline twice). */
  def osmRelationsFromArcs(arcs: DataFrame): DataFrame =
    arcs.groupBy(expr("way_id div 10").as("rel_id"))
      .agg(expr("transform(sort_array(collect_list(struct(way_id, 'outer' as role))), " +
        "m -> struct(m.way_id as way_id, m.role as role))").as("members"))

  def osmRelations(spark: SparkSession, sfDir: String): DataFrame =
    osmRelationsFromArcs(osmRelArcs(spark, sfDir))

  /** Synthetic raster tiles at a zoom: full geodetic grid 2^(z+1) × 2^z,
    * 64×64 px, pixel = (tx*131 + ty*173 + px*7 + py*11 + zoom) % 256 —
    * integer-valued so checksums are SQL-reproducible (FIXTURES.md F3). */
  final val TileW = 64
  final val TileH = 64

  /** Small w×h tiles over the full geodetic grid at a zoom with pixel =
    * (tx*131 + ty*173 + px*7 + py*11) % 16 — integer-valued and
    * SQL-reproducible; the canonical input for the polygonize / proximity /
    * focal oracle queries (a binary mask `v < 7` yields components that
    * cross tile seams). */
  def maskTiles(spark: SparkSession, zoom: Int, w: Int = 8, h: Int = 8): DataFrame = {
    val nx = 1L << (zoom + 1); val ny = 1L << zoom
    spark.range(nx * ny)
      .select((col("id") % nx).as("tx"), floor(col("id") / nx).cast("long").as("ty"))
      .withColumn("zoom", lit(zoom))
      .withColumn("pixels", expr(
        s"transform(sequence(0, ${w * h - 1}), i -> " +
        s"CAST((tx*131 + ty*173 + (i % $w)*7 + CAST(i / $w AS INT)*11) % 16 AS DOUBLE))"))
      .select("zoom", "tx", "ty", "pixels")
  }
  def tiles(spark: SparkSession, zoom: Int): DataFrame = {
    val nx = 1L << (zoom + 1); val ny = 1L << zoom
    spark.range(nx * ny)
      .select((col("id") % nx).as("tx"), floor(col("id") / nx).cast("long").as("ty"))
      .withColumn("zoom", lit(zoom))
      .withColumn("band", lit(1))
      .withColumn("w", lit(TileW)).withColumn("h", lit(TileH))
      .withColumn("pixels", expr(
        s"transform(sequence(0, ${TileW * TileH - 1}), i -> " +
        s"CAST((tx*131 + ty*173 + (i % $TileW)*7 + CAST(i / $TileW AS INT)*11 + zoom) % 256 AS DOUBLE))"))
      .select("zoom", "tx", "ty", "band", "w", "h", "pixels")
  }

  /** The pansharpen multispectral bands (q62, q137): band b in 1..3 of
    * the zoom-2 [[tiles]] with pixels (v·b + 17·b) mod 256. */
  def panBands(spark: SparkSession): DataFrame =
    (1 to 3).map { b =>
      tiles(spark, 2).withColumn("band", lit(b))
        .withColumn("pixels", expr(s"transform(pixels, v -> (v * $b + $b * 17) % 256)"))
    }.reduce(_ unionByName _)

  /** Three colour bands of the [[tiles]] at a zoom (q63, q70): v, (2v + 5)
    * mod 256 and (7v + 11) mod 256, so the grid has exactly 256 distinct
    * colours. */
  def rgbBands(spark: SparkSession, zoom: Int): DataFrame =
    Seq((1, "v"), (2, "(v * 2 + 5) % 256"), (3, "(v * 7 + 11) % 256"))
      .map { case (b, e) =>
        tiles(spark, zoom).withColumn("band", lit(b))
          .withColumn("pixels", expr(s"transform(pixels, v -> $e)"))
      }.reduce(_ unionByName _)

  /** The shape seeds of the format round-trip queries (q101, q112, q142,
    * q159, q162, q175, q189, q203, q237, q243): one row per supplier,
    * `q_id` with an anchor `(ax, ay)` on the quarter lattice and a size
    * `(w, h)` in halves and units. Each query builds its own WKT from them. */
  def shapeSeeds(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/supplier.parquet")
      .select(col("s_suppkey").as("q_id"))
      .withColumn("ax", expr("CAST((q_id * 7919) % 1024 AS DOUBLE) / 4.0D"))
      .withColumn("ay", expr("CAST((q_id * 104729) % 512 AS DOUBLE)"))
      .withColumn("w", expr("1.0D + CAST(q_id % 7 AS DOUBLE) / 2.0D"))
      .withColumn("h", expr("2.0D + CAST(q_id % 5 AS DOUBLE)"))

  /** The dyadic triangles of the line queries (q92, q106, q107): one row
    * per supplier, `q_id` and three vertices `(ax, ay)`, `(bx, by)`,
    * `(cx, cy)`, every coordinate a multiple of 2^-6. */
  def triangles(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/supplier.parquet")
      .select(col("s_suppkey").as("q_id"))
      .withColumn("ax", expr("CAST((q_id * 7919) % 1024 AS DOUBLE) / 64.0"))
      .withColumn("ay", expr("CAST((q_id * 104729) % 1024 AS DOUBLE) / 64.0"))
      .withColumn("bx", expr("ax + 1.0 + CAST(q_id % 13 AS DOUBLE) / 2.0"))
      .withColumn("by", expr("ay + CAST(q_id % 7 AS DOUBLE) / 4.0"))
      .withColumn("cx", expr("bx - CAST(q_id % 5 AS DOUBLE) / 2.0"))
      .withColumn("cy", expr("by + 2.0 + CAST(q_id % 11 AS DOUBLE) / 8.0"))

  /** The synthetic audio containers of q193/q226: one per supplier,
    * `(aid, bin)` with `bin` the header bytes 'AUD:nnnn:l:t:' — sample
    * count 64..192, lead silence 0..6 and tail silence 0..4. The counts
    * live only in the bytes; the queries decode them back. */
  def audioClips(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/supplier.parquet")
      .select(col("s_suppkey").as("aid"))
      .withColumn("bin", expr(
        """CAST(format_string('AUD:%04d:%01d:%01d:',
           64 + aid % 129, aid % 7, aid % 5) AS BINARY)"""))

  /** The near-dup-rich vector corpus of q43/q182: every embedding as
    * doubles `(vec_id, v)`, plus a perturbed twin (id + 10^7) whose
    * components move by integer thousandths, at cosine about 0.9999. */
  def twinEmbeddings(spark: SparkSession, sfDir: String): DataFrame = {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val base = e.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val pert = e.select((col("vec_id") + lit(10000000L)).as("vec_id"),
      expr("transform(sequence(1, 64), i -> " +
        "(floor(CAST(element_at(embedding, i) AS DOUBLE) * 1000.0) " +
        "+ ((vec_id * 31 + i) % 13) - 6) / 1000.0)").as("v"))
    base.unionByName(pert)
  }

  /** The q118/q126 overlay layers: input boxes `a` (q_id, rid, x0, y0,
    * x1, y1, ga) on the quarter lattice, each inside its 32-unit region
    * `rid = q_id % 32`, and one method rectangle `b` (rid, gb) per region
    * on the eighth-offset lattice, so no edges coincide. */
  def overlayRects(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    F.ensureRegistered(spark)
    val a = spark.read.parquet(s"$sfDir/supplier.parquet")
      .select(col("s_suppkey").as("q_id"))
      .withColumn("rid", expr("q_id % 32"))
      .withColumn("x0", expr("CAST(rid * 32 AS DOUBLE) + 2.0 + CAST((q_id * 7919) % 96 AS DOUBLE) / 4.0"))
      .withColumn("y0", expr("2.0 + CAST((q_id * 104729) % 96 AS DOUBLE) / 4.0"))
      .withColumn("x1", expr("x0 + 1.0 + CAST(q_id % 14 AS DOUBLE) / 4.0"))
      .withColumn("y1", expr("y0 + 1.0 + CAST(q_id % 11 AS DOUBLE) / 4.0"))
      .withColumn("ga", rectGeom("x0", "y0", "x1", "y1"))
    val b = spark.range(32)
      .select(col("id").as("rid"))
      .withColumn("u0", expr("CAST(rid * 32 AS DOUBLE) + 6.125 + CAST(rid % 3 AS DOUBLE)"))
      .withColumn("v0", expr("6.125 + CAST(rid % 5 AS DOUBLE)"))
      .withColumn("u1", expr("u0 + 14.0")).withColumn("v1", expr("v0 + 12.0"))
      .withColumn("gb", rectGeom("u0", "v0", "u1", "v1"))
      .select(col("rid"), col("gb"))
    (a, b)
  }

  /** Shared q210/q231 layer-algebra corpus: 256 input boxes confined to
    * per-(region, slot) 8×8 cells on the quarter lattice (`a`: q_id, rid,
    * …, ga) and one method rectangle per 32-unit region on the eighth
    * lattice (`b`: rid, gb). Every coordinate is dyadic, edges never
    * coincide, same-region inputs are disjoint, and no input contains a
    * method corner (see q210's comment for why each invariant makes the
    * oracle closed-form). */
  def algebraRects(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    F.ensureRegistered(spark)
    val a = spark.read.parquet(s"$sfDir/supplier.parquet")
      .select(col("s_suppkey").as("q_id"))
      .where(col("q_id") < 256) // one input per (region, cell slot)
      .withColumn("rid", expr("q_id % 32"))
      .withColumn("k", expr("CAST(q_id div 32 AS INT)"))
      .withColumn("cx", expr("element_at(array(1, 3, 0, 1, 2, 3, 1, 3), k + 1)"))
      .withColumn("cy", expr("element_at(array(0, 0, 1, 1, 1, 1, 2, 2), k + 1)"))
      .withColumn("x0", expr("CAST(rid * 32 + cx * 8 AS DOUBLE) + 0.25 + CAST((q_id * 7919) % 8 AS DOUBLE) / 4.0"))
      .withColumn("y0", expr("CAST(cy * 8 AS DOUBLE) + 0.25 + CAST((q_id * 104729) % 8 AS DOUBLE) / 4.0"))
      .withColumn("x1", expr("x0 + 1.0 + CAST(q_id % 14 AS DOUBLE) / 4.0"))
      .withColumn("y1", expr("y0 + 1.0 + CAST(q_id % 11 AS DOUBLE) / 4.0"))
      .withColumn("ga", rectGeom("x0", "y0", "x1", "y1"))
    val b = spark.range(32)
      .select(col("id").as("rid"))
      .withColumn("u0", expr("CAST(rid * 32 AS DOUBLE) + 2.125 + CAST(rid % 3 AS DOUBLE)"))
      .withColumn("v0", expr("2.125 + CAST(rid % 5 AS DOUBLE)"))
      .withColumn("u1", expr("u0 + 17.0")).withColumn("v1", expr("v0 + 16.0"))
      .withColumn("gb", rectGeom("u0", "v0", "u1", "v1"))
      .select(col("rid"), col("gb"))
    (a, b)
  }

  /** The closed rectangle ring over the named corner columns, parsed. */
  private def rectGeom(x0: String, y0: String, x1: String, y1: String) =
    call_function("st_geomfromwkt", format_string(
      "POLYGON((%s %s, %s %s, %s %s, %s %s, %s %s))",
      col(x0), col(y0), col(x1), col(y0), col(x1), col(y1),
      col(x0), col(y1), col(x0), col(y0)))
}
