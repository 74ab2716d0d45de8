package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.F
import graft.operators.{Knn, SpatialJoin}
import graft.synth.Synth
import graft.core.GeomIO

/** Engine vs brute-force oracles for the spatial join paths — including
  * non-box geometries (concave, holes) that the DuckDB range oracle cannot
  * cover, and the broadcast/shuffle/salted plan equivalence. */
class SpatialJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val pts = Synth.points(spark, TestSpark.SfSmall)
    .select("pt_id", "lon", "lat").collect()
    .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))

  test("envelope prefilter is inclusive: boundary points survive to the exact predicate") {
    // a point exactly ON the polygon's envelope edge must NOT be dropped by
    // the bbox gate — the exact predicate decides (intersects: true;
    // contains: false, boundary excluded)
    val polys = Seq((1L, "POLYGON((10 20, 30 20, 30 40, 10 40, 10 20))"))
      .toDF("region_id", "wkt")
      .withColumn("geom", F.st_geomfromwkt(col("wkt")))
    val points = Seq(
      (1L, 10.0, 30.0),  // on the west edge
      (2L, 30.0, 40.0),  // on the NE corner
      (3L, 20.0, 30.0),  // interior
      (4L, 9.999, 30.0)) // just outside
      .toDF("pt_id", "lon", "lat")
    def ids(pred: String) =
      SpatialJoin.pointInPolygon(polys, "geom", points, "lon", "lat", zoom = 5,
        predicate = pred)
        .select("pt_id").collect().map(_.getLong(0)).toSet
    assert(ids("intersects") == Set(1L, 2L, 3L))
    assert(ids("contains") == Set(3L))
  }

  test("PIP broadcast == PIP shuffle == PIP salted == JTS brute force") {
    val polys = Synth.regionWkt(spark, TestSpark.SfSmall)
      .withColumn("geom", F.st_geomfromwkt(col("wkt")))
    val points = Synth.points(spark, TestSpark.SfSmall)

    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("region_id").cast("long"), col("pt_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val bc = pairs(SpatialJoin.pointInPolygon(polys, "geom", points, "lon", "lat", 5))
    val sh = pairs(SpatialJoin.pointInPolygon(polys, "geom", points, "lon", "lat", 5,
      broadcastPolys = false))
    val salt = pairs(SpatialJoin.pointInPolygon(polys, "geom", points, "lon", "lat", 5,
      broadcastPolys = false, saltFactor = 4))
    assert(bc == sh, "broadcast vs shuffle mismatch")
    assert(bc == salt, "broadcast vs salted mismatch")
    // adaptive: low threshold forces BOTH paths (hot-spot cells salted,
    // cold cells plain) — must still be the identical row set
    val adaptive = pairs(SpatialJoin.pointInPolygonAdaptive(polys, "geom", points,
      "lon", "lat", 5, saltFactor = 4, hotThreshold = 50L))
    assert(bc == adaptive, "broadcast vs adaptive mismatch")

    // JTS brute force on driver
    val polyGeoms = Synth.regionWkt(spark, TestSpark.SfSmall).collect()
      .map(r => (r.getLong(0), GeomIO.fromWkt(r.getString(1))))
    val brute = (for {
      (rid, g) <- polyGeoms
      prep = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(g)
      (pid, lon, lat) <- pts
      if prep.contains(GeomIO.point(lon, lat))
    } yield (rid, pid)).toSet
    assert(bc == brute, s"engine ${bc.size} vs brute ${brute.size}")
  }

  test("PIP with concave polygon and polygon-with-hole matches brute force") {
    val shapes = Seq(
      (1L, "POLYGON((0 0, 40 0, 40 8, 8 8, 8 40, 0 40, 0 0))"),          // L
      (2L, "POLYGON((-60 -30, -20 -30, -20 10, -60 10, -60 -30), (-50 -20, -30 -20, -30 0, -50 0, -50 -20))"), // hole
      (3L, "POLYGON((100 -40, 140 -40, 120 10, 100 -40))"))               // triangle
    val polys = shapes.toDF("region_id", "wkt")
      .withColumn("geom", F.st_geomfromwkt(col("wkt")))
    val points = Synth.points(spark, TestSpark.SfSmall)
    val got = SpatialJoin.pointInPolygon(polys, "geom", points, "lon", "lat", 4)
      .select(col("region_id"), col("pt_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      (rid, wkt) <- shapes
      prep = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(GeomIO.fromWkt(wkt))
      (pid, lon, lat) <- pts
      if prep.contains(GeomIO.point(lon, lat))
    } yield (rid, pid)).toSet
    assert(got == brute, s"engine ${got.size} vs brute ${brute.size}")
  }

  test("cells_cover cap: hemisphere polygon at z15 coarsens to <= 65536 cells") {
    val hemi = Seq((1L, "POLYGON((-180 -90, 0 -90, 0 90, -180 90, -180 -90))"))
      .toDF("id", "wkt").withColumn("geom", F.st_geomfromwkt(col("wkt")))
    val cells = hemi.select(explode(F.cells_cover(col("geom"), lit(15))).as("c"))
      .select(col("c"), F.cell_zoom(col("c")).as("z")).collect()
    assert(cells.length <= 65536, s"cap violated: ${cells.length} cells")
    assert(cells.nonEmpty)
    val zs = cells.map(_.getLong(1)).distinct
    assert(zs.length == 1 && zs.head < 15, s"expected one coarser zoom, got ${zs.toSeq}")
    // uncapped variant at a modest zoom still returns the exact grid
    // half the 2*4^6 geodetic grid + the lon=0 boundary column (closed-
    // envelope rule: an edge exactly on a cell boundary keeps the neighbor)
    val exact = hemi.select(explode(F.cells_cover_exact(col("geom"), lit(6))).as("c")).count()
    assert(exact == ((1L << 6) + 1) * (1L << 6), s"exact cover wrong: $exact")
  }

  test("PIP with a cover-coarsening giant polygon still matches brute force") {
    // zoom 9: a near-global polygon needs ~2*4^9 >> 4096 cells -> coarsens;
    // the fan-to-zooms re-key must keep the join complete (points fan to
    // BOTH zooms: the giant's coarse zoom and the small boxes' zoom 9)
    val shapes = Seq(
      (1L, "POLYGON((-179 -89, 179 -89, 179 89, -179 89, -179 -89))"), // giant
      (2L, "POLYGON((10 10, 30 10, 30 30, 10 30, 10 10))"))            // small
    val polys = shapes.toDF("region_id", "wkt")
      .withColumn("geom", F.st_geomfromwkt(col("wkt")))
    val points = Synth.points(spark, TestSpark.SfSmall)
    val brute = (for {
      (rid, wkt) <- shapes
      prep = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(GeomIO.fromWkt(wkt))
      (pid, lon, lat) <- pts
      if prep.contains(GeomIO.point(lon, lat))
    } yield (rid, pid)).toSet
    // the salted joins must see the fanned (mixed-zoom) point keys too:
    // blanket salt, and the adaptive split with every cell forced hot
    val runs = Seq(
      "broadcast" -> SpatialJoin.pointInPolygon(polys, "geom", points, "lon", "lat", 9),
      "shuffle" -> SpatialJoin.pointInPolygon(polys, "geom", points, "lon", "lat", 9,
        broadcastPolys = false),
      "salted" -> SpatialJoin.pointInPolygon(polys, "geom", points, "lon", "lat", 9,
        broadcastPolys = false, saltFactor = 4),
      "adaptive" -> SpatialJoin.pointInPolygonAdaptive(polys, "geom", points, "lon", "lat", 9,
        saltFactor = 4, hotThreshold = 1L))
    for ((name, df) <- runs) {
      val got = df.select(col("region_id"), col("pt_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute, s"$name: engine ${got.size} vs brute ${brute.size}")
    }
  }

  // the same cover-coarsening input in both cell-join regimes: a cover
  // under the broadcast threshold joins map-side and skips the hot-cell
  // split; with broadcasting off every hot cell (threshold 1) is salted
  test("mixed-zoom giant polygon: adaptive PIP and salted geomSelfJoin rows hold with the cover broadcast or shuffled") {
    val shapes = Seq(
      (1L, "POLYGON((-179 -89, 179 -89, 179 89, -179 89, -179 -89))"), // giant
      (2L, "POLYGON((10 10, 30 10, 30 30, 10 30, 10 10))"))            // small
    val polys = shapes.toDF("region_id", "wkt")
      .withColumn("geom", F.st_geomfromwkt(col("wkt")))
    val geoms = polys.unionByName(Synth.regionWkt(spark, TestSpark.SfSmall).limit(20)
      .select((col("region_id") + 1000).as("region_id"), col("wkt"))
      .withColumn("geom", F.st_geomfromwkt(col("wkt"))))
    val points = Synth.points(spark, TestSpark.SfSmall)
    def pairs(df: org.apache.spark.sql.DataFrame, a: String, b: String): Set[(Long, Long)] =
      df.select(col(a).cast("long"), col(b).cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bc = pairs(SpatialJoin.pointInPolygon(polys, "geom", points, "lon", "lat", 9),
      "region_id", "pt_id")
    val two = pairs(SpatialJoin.geomJoin(
      geoms.select(col("region_id").as("id_a"), col("geom").as("ga")), "id_a", "ga",
      geoms.select(col("region_id").as("id_b"), col("geom").as("gb")), "id_b", "gb", 9),
      "id_a", "id_b")
    assert(bc.nonEmpty && two.size > geoms.count())
    def check(regime: String): Unit = {
      val adaptive = pairs(SpatialJoin.pointInPolygonAdaptive(polys, "geom", points,
        "lon", "lat", 9, saltFactor = 4, hotThreshold = 1L), "region_id", "pt_id")
      assert(adaptive == bc, s"$regime: adaptive ${adaptive.size} vs broadcast ${bc.size}")
      val self = pairs(SpatialJoin.geomSelfJoin(geoms, "region_id", "geom",
        "id_a", "ga", "id_b", "gb", 9, saltFactor = 4, hotThreshold = 1L), "id_a", "id_b")
      assert(self == two, s"$regime: salted self ${self.size} vs geomJoin ${two.size}")
    }
    check("broadcast cover")
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(check("shuffled cover"))
  }

  test("PIP on the MERCATOR cell grid == geodetic == brute force (post-warp prune path)") {
    val polys = Synth.regionWkt(spark, TestSpark.SfSmall)
      .withColumn("geom", F.st_geomfromwkt(col("wkt")))
    val points = Synth.points(spark, TestSpark.SfSmall)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("region_id").cast("long"), col("pt_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val geo = pairs(SpatialJoin.pointInPolygon(polys, "geom", points, "lon", "lat", 5))
    for (bc <- Seq(true, false)) {
      val merc = pairs(SpatialJoin.pointInPolygon(polys, "geom", points, "lon", "lat", 5,
        broadcastPolys = bc, mercator = true))
      assert(merc == geo, s"bc=$bc: mercator prune changed the row set")
    }
    assert(geo.nonEmpty)
  }

  test("geomJoin adaptive salting returns the identical pair set") {
    val left = Synth.regionWkt(spark, TestSpark.SfSmall).limit(60)
      .withColumn("geom_l", F.st_geomfromwkt(col("wkt")))
      .select(col("region_id").as("lid"), col("geom_l"))
    val right = Synth.regionWkt(spark, TestSpark.SfSmall)
      .withColumn("shifted", F.st_geomfromwkt(col("wkt")))
      .select((col("region_id") + 10000).as("rid"), col("shifted").as("geom_r"))
    val plain = SpatialJoin.geomJoin(left, "lid", "geom_l", right, "rid", "geom_r", 4)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // low threshold forces the hot path on real cells; rows must not change
    val salted = SpatialJoin.geomJoin(left, "lid", "geom_l", right, "rid", "geom_r", 4,
      saltFactor = 4, hotThreshold = 3L)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain == salted, s"plain ${plain.size} vs salted ${salted.size}")
  }

  test("geomJoin intersects: poly x poly with dedup matches brute force") {
    val left = Synth.regionWkt(spark, TestSpark.SfSmall).limit(60)
      .withColumn("geom_l", F.st_geomfromwkt(col("wkt")))
      .select(col("region_id").as("lid"), col("geom_l"))
    val right = Synth.regionWkt(spark, TestSpark.SfSmall)
      .withColumn("shifted", F.st_geomfromwkt(col("wkt")))
      .select((col("region_id") + 10000).as("rid"), col("shifted").as("geom_r"))
    val got = SpatialJoin.geomJoin(left, "lid", "geom_l", right, "rid", "geom_r", 4)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ls = Synth.regionWkt(spark, TestSpark.SfSmall).limit(60).collect()
      .map(r => (r.getLong(0), GeomIO.fromWkt(r.getString(1))))
    val rs = Synth.regionWkt(spark, TestSpark.SfSmall).collect()
      .map(r => (r.getLong(0) + 10000, GeomIO.fromWkt(r.getString(1))))
    val brute = (for ((l, gl) <- ls; (r, gr) <- rs if gl.intersects(gr)) yield (l, r)).toSet
    assert(got == brute, s"engine ${got.size} vs brute ${brute.size}")
  }

  test("kNN matches brute force incl. guarantee boundary") {
    val queries = Synth.queryPoints(spark, TestSpark.SfSmall)
    val points = Synth.points(spark, TestSpark.SfSmall)
    val got = Knn.knn(queries, "q_id", "lon", "lat", points, "pt_id", "lon", "lat",
      k = 5, zoom = 7)
      .select("q_id", "pt_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val qs = queries.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val brute = qs.flatMap { case (qid, qx, qy) =>
      pts.map { case (pid, px, py) =>
        (qid, pid, (px - qx) * (px - qx) + (py - qy) * (py - qy))
      }.sortBy(t => (t._3, t._2)).take(5).zipWithIndex
        .map { case ((q, p, _), i) => (q, p, i + 1) }
    }.toSet
    assert(got == brute, s"engine ${got.size} vs brute ${brute.size}")
  }

  test("kNN with k larger than any ring round (forces brute-force fallback)") {
    val queries = Synth.queryPoints(spark, TestSpark.SfSmall).limit(3)
    val points = Synth.points(spark, TestSpark.SfSmall).limit(40)
    val got = Knn.knn(queries, "q_id", "lon", "lat", points, "pt_id", "lon", "lat",
      k = 25, zoom = 10, maxRounds = 2) // sparse points at deep zoom -> fallback
      .groupBy("q_id").count().collect()
    assert(got.forall(_.getLong(1) == 25))
  }

  // OPTIMIZATION r6: the adaptive operators skip the cold/hot split when
  // the probe finds no hot cell — pin that branch's rows against the
  // broadcast reference (the threshold is set above any cell count, so
  // the plain-join branch is the one executing).
  test("adaptive PIP with empty hot-cell set (plain-join branch) matches broadcast") {
    val polys = Synth.regionWkt(spark, TestSpark.SfSmall)
      .withColumn("geom", F.st_geomfromwkt(col("wkt")))
    val points = Synth.points(spark, TestSpark.SfSmall)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("region_id").cast("long"), col("pt_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bc = pairs(SpatialJoin.pointInPolygon(polys, "geom", points, "lon", "lat", 5))
    val noHot = pairs(SpatialJoin.pointInPolygonAdaptive(polys, "geom", points,
      "lon", "lat", 5, saltFactor = 4, hotThreshold = Long.MaxValue))
    assert(bc == noHot, "broadcast vs empty-hot-set adaptive mismatch")
  }

  // OPTIMIZATION r6: geomSelfJoin builds ONE cover for both sides — rows
  // must equal the two-cover geomJoin on the same inputs, in both the
  // plain and the forced-hot salted regimes.
  test("geomSelfJoin == geomJoin on the same table (plain and salted)") {
    val r = Synth.regionWkt(spark, TestSpark.SfSmall).limit(80)
      .withColumn("g", F.st_geomfromwkt(col("wkt")))
    val a = r.select(col("region_id").as("id_a"), col("g").as("ga"))
    val b = r.select(col("region_id").as("id_b"), col("g").as("gb"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("id_a").cast("long"), col("id_b").cast("long")).collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
    val two = pairs(SpatialJoin.geomJoin(a, "id_a", "ga", b, "id_b", "gb", 4))
    val one = pairs(SpatialJoin.geomSelfJoin(r, "region_id", "g",
      "id_a", "ga", "id_b", "gb", 4))
    assert(two == one, s"two-cover ${two.size} vs self-join ${one.size}")
    val oneSalted = pairs(SpatialJoin.geomSelfJoin(r, "region_id", "g",
      "id_a", "ga", "id_b", "gb", 4, saltFactor = 4, hotThreshold = 3L))
    assert(two == oneSalted, s"two-cover ${two.size} vs salted self ${oneSalted.size}")
  }
}
