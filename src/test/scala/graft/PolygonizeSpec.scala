package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.Ccl
import graft.operators.Polygonize
import graft.synth.Synth
import org.locationtech.jts.geom.{Geometry, GeometryFactory, Coordinate}
import org.locationtech.jts.operation.union.CascadedPolygonUnion

/** Polygonize: distributed CCL vs the whole-grid scalar oracle, ring
  * assembly vs JTS union-of-pixel-squares, sieve semantics. */
class PolygonizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val gf = new GeometryFactory()

  /** Whole-grid oracle: label the fully-assembled raster as ONE tile with
    * the same scalar kernel, then aggregate stats per component. */
  private def oracleComponents(vals: Array[Double], gw: Int, gh: Int,
                               mask: Double => Boolean): Map[Long, (Double, Long, Long, Long, Long, Long)] = {
    val m = vals.map(mask)
    val labels = Ccl.labelLocal(vals, m, gw, gh)
    val acc = scala.collection.mutable.Map.empty[Long, (Double, Long, Long, Long, Long, Long)]
    for (i <- labels.indices if labels(i) >= 0) {
      val l = labels(i).toLong
      val gx = (i % gw).toLong; val gy = (i / gw).toLong
      acc.get(l) match {
        case None => acc(l) = (vals(i), 1L, gx, gx, gy, gy)
        case Some((dn, n, x0, x1, y0, y1)) =>
          acc(l) = (dn, n + 1, math.min(x0, gx), math.max(x1, gx), math.min(y0, gy), math.max(y1, gy))
      }
    }
    acc.toMap
  }

  private def synthVals(zoom: Int, w: Int, h: Int): (Array[Double], Int, Int) = {
    val nx = (1 << (zoom + 1)); val ny = (1 << zoom)
    val gw = nx * w; val gh = ny * h
    val vals = new Array[Double](gw * gh)
    for (gy <- 0 until gh; gx <- 0 until gw) {
      val tx = gx / w; val ty = gy / h; val px = gx % w; val py = gy % h
      vals(gy * gw + gx) = ((tx * 131 + ty * 173 + px * 7 + py * 11) % 16).toDouble
    }
    (vals, gw, gh)
  }

  test("distributed components == whole-grid scalar oracle (synthetic mask, zoom 2)") {
    val zoom = 2; val w = 8; val h = 8
    val (vals, gw, gh) = synthVals(zoom, w, h)
    val mask = (v: Double) => v < 7.0
    val want = oracleComponents(vals, gw, gh, mask)
    val got = Polygonize.components(Synth.maskTiles(spark, zoom, w, h), w, h, gw, gh, mask, _ => 1.0)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // oracle groups by dn too; with dnOf=const the grouping is mask-only, so
    // run the oracle with constant dn as well
    val wantConst = {
      val m = vals.map(mask)
      val labels = Ccl.labelLocal(vals.map(_ => 1.0), m, gw, gh)
      val acc = scala.collection.mutable.Map.empty[Long, (Long, Long, Long, Long, Long)]
      for (i <- labels.indices if labels(i) >= 0) {
        val l = labels(i).toLong
        val gx = (i % gw).toLong; val gy = (i / gw).toLong
        acc.get(l) match {
          case None => acc(l) = (1L, gx, gx, gy, gy)
          case Some((n, x0, x1, y0, y1)) =>
            acc(l) = (n + 1, math.min(x0, gx), math.max(x1, gx), math.min(y0, gy), math.max(y1, gy))
        }
      }
      acc.toMap
    }
    assert(got.size == wantConst.size, s"component count ${got.size} vs ${wantConst.size}")
    wantConst.foreach { case (l, (n, x0, x1, y0, y1)) =>
      val g = got(l)
      assert((g._2, g._3, g._4, g._5, g._6) == ((n, x0, x1, y0, y1)), s"comp $l: $g vs ${(n, x0, x1, y0, y1)}")
    }
  }

  test("equal-DN grouping: distributed == oracle with identity dn") {
    val zoom = 1; val w = 8; val h = 8
    val (vals, gw, gh) = synthVals(zoom, w, h)
    // coarse DN buckets so equal-valued neighbors exist
    val dnOf = (v: Double) => math.floor(v / 8.0)
    val mask = (_: Double) => true
    val got = Polygonize.components(Synth.maskTiles(spark, zoom, w, h), w, h, gw, gh, mask, dnOf)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val want = oracleComponents(vals.map(dnOf), gw, gh, _ => true)
    assert(got.size == want.size)
    want.foreach { case (l, (dn, n, _, _, _, _)) =>
      assert(got(l) == ((dn, n)), s"comp $l")
    }
  }

  test("cross-tile snake merges into one component") {
    // a 1-px-wide snake crossing a 4x2-tile grid (w=h=4): row y=2 all the
    // way across, plus verticals connecting to row y=5 — one component
    val w = 4; val h = 4; val gw = 16; val gh = 8
    val snake = (for (gx <- 0 until 16) yield (gx, 2)) ++
      Seq((15, 3), (15, 4), (15, 5)) ++ (for (gx <- 0 until 16) yield (gx, 5))
    val set = snake.toSet
    val tiles = (for (ty <- 0 until 2; tx <- 0 until 4) yield {
      val px = Array.tabulate(w * h) { i =>
        val gx = tx * w + i % w; val gy = ty * h + i / w
        if (set.contains((gx, gy))) 1.0 else 0.0
      }
      (tx.toLong, ty.toLong, px.toSeq)
    }).toDF("tx", "ty", "pixels")
    val comps = Polygonize.components(tiles, w, h, gw, gh, _ > 0.5).collect()
    assert(comps.length == 1)
    assert(comps.head.getAs[Long]("n_pixels") == set.size)
    assert(comps.head.getAs[Long]("label") == 2L * gw + 0) // min pixel id: (gy=2,gx=0)
  }

  test("contour polygons (q173 bands): per-band components match the scalar oracle and tile the grid") {
    val (vals, gw, gh) = synthVals(2, 8, 8)
    val bands = Seq[(Long, Double => Boolean)](
      (0L, _ < 4.0), (1L, v => v >= 4.0 && v < 8.0),
      (2L, v => v >= 8.0 && v < 12.0), (3L, _ >= 12.0))
    var covered = 0L
    bands.foreach { case (lvl, mask) =>
      val got = Polygonize.components(Synth.maskTiles(spark, 2, 8, 8), 8, 8, gw, gh, mask, _ => 1.0)
        .select("label", "n_pixels").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val m = vals.map(mask)
      val labels = Ccl.labelLocal(vals.map(_ => 1.0), m, gw, gh)
      val want = labels.filter(_ >= 0).groupBy(_.toLong).map { case (l, a) => l -> a.length.toLong }
      assert(got == want, s"band $lvl")
      covered += got.values.sum
    }
    assert(covered == gw.toLong * gh, "bands must partition the grid exactly")
  }

  test("8-connectivity: diagonal merges locally, across seams, and on every tile-corner diagonal") {
    val w = 4; val h = 4
    // distributed == whole-grid scalar with conn8, on the synthetic mask
    val zoom = 2
    val (vals, gw, gh) = synthVals(zoom, 8, 8)
    val mask = (v: Double) => v < 7.0
    val m = vals.map(mask)
    val want = {
      val labels = Ccl.labelLocal(vals.map(_ => 1.0), m, gw, gh, conn8 = true)
      labels.filter(_ >= 0).groupBy(identity).map { case (l, a) => (l.toLong, a.length.toLong) }
    }
    val got = Polygonize.components(Synth.maskTiles(spark, zoom, 8, 8), 8, 8, gw, gh,
      mask, _ => 1.0, conn8 = true)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == want, s"got ${got.size} comps, want ${want.size}")
    // 8-conn must merge strictly more than 4-conn on this mask
    val got4 = Polygonize.components(Synth.maskTiles(spark, zoom, 8, 8), 8, 8, gw, gh,
      mask, _ => 1.0).collect().length
    assert(got.size < got4, s"8-conn ${got.size} vs 4-conn $got4")
    // in-tile anti-diagonal pair: one component under conn8, two under 4
    val one = Seq((0L, 0L, Array.tabulate(w * h)(i => if (i == 1 * w + 2 || i == 2 * w + 1) 1.0 else 0.0).toSeq))
      .toDF("tx", "ty", "pixels")
    assert(Polygonize.components(one, w, h, w, h, _ > 0.5, conn8 = true).collect().length == 1)
    assert(Polygonize.components(one, w, h, w, h, _ > 0.5).collect().length == 2)
    // cross-tile corner diagonals on a 2x2 tile grid, one pair per
    // direction (NOT a 2x2 block — each pair touches only corner-to-
    // corner): SE diagonal (3,3)/(4,4) and SW anti-diagonal (4,3)/(3,4)
    def cornerTiles(pxSet: Set[(Long, Long)]) =
      (for (ty <- 0 until 2; tx <- 0 until 2) yield {
        val px = Array.tabulate(w * h) { i =>
          val gx = tx * w + i % w; val gy = ty * h + i / w
          if (pxSet.contains((gx.toLong, gy.toLong))) 1.0 else 0.0
        }
        (tx.toLong, ty.toLong, px.toSeq)
      }).toDF("tx", "ty", "pixels")
    for (pair <- Seq(Set((3L, 3L), (4L, 4L)), Set((4L, 3L), (3L, 4L)))) {
      val t2 = cornerTiles(pair)
      val c8 = Polygonize.components(t2, w, h, 8, 8, _ > 0.5, conn8 = true).collect()
      assert(c8.length == 1 && c8.head.getAs[Long]("n_pixels") == 2L, s"pair $pair")
      assert(Polygonize.components(t2, w, h, 8, 8, _ > 0.5).collect().length == 2, s"pair $pair")
    }
    val tilesDn = (for (ty <- 0 until 2; tx <- 0 until 2) yield {
      val px = Array.tabulate(w * h) { i =>
        val gx = tx * w + i % w; val gy = ty * h + i / w
        if ((gx, gy) == ((3, 3))) 1.0 else if ((gx, gy) == ((4, 4))) 2.0 else 0.0
      }
      (tx.toLong, ty.toLong, px.toSeq)
    }).toDF("tx", "ty", "pixels")
    assert(Polygonize.components(tilesDn, w, h, 8, 8, _ > 0.5, dnOf = v => v,
      conn8 = true).collect().length == 2)
  }

  test("ring assembly equals JTS union of pixel squares (random blobs, incl. holes)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 8) {
      val w = 12; val h = 10
      val pts = (0 until 40).map(_ => (rnd.nextInt(w).toLong, rnd.nextInt(h).toLong)).distinct.toArray
      // label into components first (toPolygon expects ONE component)
      val mask = Array.fill(w * h)(false)
      pts.foreach { case (x, y) => mask((y * w + x).toInt) = true }
      val labels = Ccl.labelLocal(Array.fill(w * h)(1.0), mask, w, h)
      val byComp = pts.groupBy { case (x, y) => labels((y * w + x).toInt) }
      byComp.foreach { case (_, comp) =>
        val got = Ccl.toPolygon(comp)
        val squares = comp.map { case (x, y) =>
          gf.createPolygon(Array(
            new Coordinate(x, y), new Coordinate(x + 1, y),
            new Coordinate(x + 1, y + 1), new Coordinate(x, y + 1),
            new Coordinate(x, y))).asInstanceOf[Geometry]
        }
        val want = CascadedPolygonUnion.union(java.util.Arrays.asList(squares: _*))
        assert(got.equalsTopo(want),
          s"trial $trial comp of ${comp.length}px: ${got.toText} vs ${want.toText}")
      }
    }
  }

  test("explicit hole: 3x3 ring of pixels yields shell + 1 hole") {
    val comp = (for (x <- 0 to 2; y <- 0 to 2 if !(x == 1 && y == 1)) yield (x.toLong, y.toLong)).toArray
    val poly = Ccl.toPolygon(comp)
    assert(poly.getNumInteriorRing == 1)
    assert(poly.getArea == 8.0)
  }

  test("corner-touch pixels stay separate rings (4-connectivity)") {
    // pixels (0,0) and (1,1) touch only at the corner — two components
    val mask = Array(true, false, false, true)
    val labels = Ccl.labelLocal(Array(1.0, 1.0, 1.0, 1.0), mask, 2, 2)
    assert(labels(0) == 0 && labels(3) == 3)
    val p0 = Ccl.toPolygon(Array((0L, 0L)))
    val p1 = Ccl.toPolygon(Array((1L, 1L)))
    assert(p0.getArea == 1.0 && p1.getArea == 1.0)
  }

  test("polygonizeWkt matches JTS union per component on the synthetic grid") {
    val zoom = 1; val w = 8; val h = 8
    val (vals, gw, gh) = synthVals(zoom, w, h)
    val mask = (v: Double) => v < 7.0
    val rows = Polygonize.polygonizeWkt(Synth.maskTiles(spark, zoom, w, h), w, h, gw, gh, mask, _ => 1.0)
      .collect()
    val reader = new org.locationtech.jts.io.WKTReader()
    // oracle: label whole grid, union squares per component
    val m = vals.map(mask)
    val labels = Ccl.labelLocal(vals.map(_ => 1.0), m, gw, gh)
    val byComp = labels.zipWithIndex.filter(_._1 >= 0)
      .groupBy(_._1).view.mapValues(_.map { case (_, i) => ((i % gw).toLong, (i / gw).toLong) })
    assert(rows.length == byComp.size)
    rows.foreach { r =>
      val label = r.getAs[Long]("label")
      val got = reader.read(r.getAs[String]("wkt"))
      val comp = byComp(label.toInt)
      val squares = comp.map { case (x, y) =>
        gf.createPolygon(Array(
          new Coordinate(x, y), new Coordinate(x + 1, y),
          new Coordinate(x + 1, y + 1), new Coordinate(x, y + 1),
          new Coordinate(x, y))).asInstanceOf[Geometry]
      }
      val want = CascadedPolygonUnion.union(java.util.Arrays.asList(squares.toSeq: _*))
      assert(got.equalsTopo(want), s"component $label")
      assert(r.getAs[Long]("n_pixels") == comp.length.toLong)
    }
  }

  test("polygonizeRings rows rebuild exactly polygonizeWkt's polygons (q34 surface)") {
    val zoom = 1; val w = 8; val h = 8
    val (_, gw, gh) = synthVals(zoom, w, h)
    val mask = (v: Double) => v < 7.0
    val wktRows = Polygonize.polygonizeWkt(Synth.maskTiles(spark, zoom, w, h), w, h, gw, gh, mask, _ => 1.0)
      .collect().map(r => r.getAs[Long]("label") -> r.getAs[String]("wkt")).toMap
    val ringRows = Polygonize.polygonizeRings(Synth.maskTiles(spark, zoom, w, h), w, h, gw, gh, mask, _ => 1.0)
      .collect()
      .map(r => (r.getAs[Long]("label"), r.getAs[Long]("ring"), r.getAs[Long]("seq"),
        r.getAs[Long]("x"), r.getAs[Long]("y")))
    val reader = new org.locationtech.jts.io.WKTReader()
    val byLabel = ringRows.groupBy(_._1)
    assert(byLabel.keySet == wktRows.keySet)
    byLabel.foreach { case (label, rows) =>
      val rings = rows.groupBy(_._2).toSeq.sortBy(_._1).map { case (_, vs) =>
        val pts = vs.sortBy(_._3).map(v => new Coordinate(v._4.toDouble, v._5.toDouble))
        gf.createLinearRing((pts :+ pts.head).toArray)
      }
      val rebuilt = gf.createPolygon(rings.head, rings.tail.toArray)
      val want = reader.read(wktRows(label))
      // equalsExact: SAME ring decomposition and vertex order, not just
      // the same point set — the row surface is the WKT surface
      assert(rebuilt.equalsExact(want), s"component $label")
    }
  }

  test("sieve -8: a diagonal pair is ONE component and survives a threshold 4-conn would kill") {
    val w = 4; val h = 4 // 8x4 grid, 2 tiles: sea dn=1 with a diagonal dn=2 pair
    val pairSet = Set((4L, 1L), (5L, 2L))
    val tiles = (for (tx <- 0 until 2) yield {
      val px = Array.tabulate(w * h) { i =>
        val gx = tx * w + i % w; val gy = i / w
        if (pairSet.contains((gx.toLong, gy.toLong))) 2.0 else 1.0
      }
      (tx.toLong, 0L, px.toSeq)
    }).toDF("tx", "ty", "pixels")
    // conn8: the pair is one size-2 component -> meets threshold 2, survives
    val s8 = Polygonize.sieve(tiles, w, h, 8, 4, threshold = 2, _ => true,
      identity, conn8 = true).collect()
    assert(s8.length == 2, s8.mkString("; "))
    assert(s8.map(_.getAs[Long]("n_pixels")).sorted.toSeq == Seq(2L, 30L))
    // 4-conn: two size-1 singles, both sieved into the sea
    val s4 = Polygonize.sieve(tiles, w, h, 8, 4, threshold = 2, _ => true, identity).collect()
    assert(s4.length == 1 && s4.head.getAs[Long]("n_pixels") == 32L
      && s4.head.getAs[Double]("dn") == 1.0)
  }

  test("sieve merges small components into largest neighbor") {
    // two tiles side by side; left tile: big blob dn=1 (12px) + the rest
    // dn=0; right tile: tiny blob dn=2 (2px) adjacent to the dn=0 sea
    val w = 4; val h = 4
    val left = Array(
      1.0, 1.0, 1.0, 0.0,
      1.0, 1.0, 1.0, 0.0,
      1.0, 1.0, 1.0, 0.0,
      1.0, 1.0, 1.0, 0.0)
    val right = Array(
      2.0, 2.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 0.0)
    val tiles = Seq((0L, 0L, left.toSeq), (1L, 0L, right.toSeq)).toDF("tx", "ty", "pixels")
    val before = Polygonize.components(tiles, w, h, 8, 4, _ => true).collect()
    assert(before.length == 3)
    val after = Polygonize.sieve(tiles, w, h, 8, 4, threshold = 3, _ => true).collect()
    assert(after.length == 2)
    val total = after.map(_.getAs[Long]("n_pixels")).sum
    assert(total == 32L)
    // the 2px dn=2 blob merged into the dn=0 sea (its only/largest
    // neighbor): 18 sea px + 2 absorbed px
    val sea = after.filter(_.getAs[Double]("dn") == 0.0)
    assert(sea.length == 1 && sea.head.getAs[Long]("n_pixels") == 20L)
  }

  test("sieve resolves merge CHAINS: A->B->C collapses into C, B does not survive") {
    // one 8x1 strip: A (1px, dn=3) | B (2px, dn=2) | C (5px, dn=1).
    // threshold 3: A and B are small. A's only bigger neighbor is B,
    // B's largest neighbor is C -> chain A->B->C; all must land on C.
    val w = 8; val h = 1
    val strip = Array(3.0, 2.0, 2.0, 1.0, 1.0, 1.0, 1.0, 1.0)
    val tiles = Seq((0L, 0L, strip.toSeq)).toDF("tx", "ty", "pixels")
    val before = Polygonize.components(tiles, w, h, 8, 1, _ => true).collect()
    assert(before.length == 3)
    val after = Polygonize.sieve(tiles, w, h, 8, 1, threshold = 3, _ => true).collect()
    assert(after.length == 1, s"chain left ${after.length} components: ${after.toSeq}")
    assert(after.head.getAs[Double]("dn") == 1.0)
    assert(after.head.getAs[Long]("n_pixels") == 8L)
  }

  test("distributed label loop survives on RELIABLE checkpoints (no localCheckpoint) and matches driver union-find") {
    // driverThreshold = 0 forces the distributed pointer-jumping path on a
    // graph the driver path also solves — outputs must be identical, and
    // the per-round lineage truncation must have gone through the
    // sparkContext checkpoint dir (reliable storage: survives executor
    // loss on a real cluster), not executor-local blocks.
    val nodes = (1L to 64L).toDF("node")
    val edges = ((1L until 32L).map(i => (i, i + 1)) ++
      (40L until 50L).map(i => (i, i + 1))).toDF("a", "b")
    val dist = Polygonize.resolveLabels(nodes, edges, maxIter = 50, driverThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val drv = Polygonize.resolveLabels(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dist == drv)
    // a threshold at Int.MaxValue must still take the driver path (the
    // collect limit threshold+1 must not wrap negative)
    val drvMax = Polygonize.resolveLabels(nodes, edges, driverThreshold = Int.MaxValue.toLong)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(drvMax == drv)
    assert(dist.filter(_._1 <= 32L).forall(_._2 == 1L))
    val ckDir = spark.sparkContext.getCheckpointDir
    assert(ckDir.isDefined, "reliable checkpoint dir must be set by Checkpoints.reliable")
    val p = new org.apache.hadoop.fs.Path(ckDir.get)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(p) && fs.listStatus(p).nonEmpty,
      "checkpoint files must exist under the reliable checkpoint dir")
  }

  test("distributed label loop raises at its round cap instead of returning unconverged labels") {
    // a 64-node chain needs more than one round
    val nodes = (1L to 64L).toDF("node")
    val edges = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Polygonize.resolveLabels(nodes, edges, maxIter = 1, driverThreshold = 0L).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("footprint: per-scene components match a driver union-find; bbox georeferenced exactly") {
    // scene (0,0): two valid runs split by a nodata column; scene (1,0):
    // fully valid -> one full-tile component
    val w = 4; val h = 4
    val t00 = Array(
      1.0, 1.0, 0.0, 1.0,
      1.0, 0.0, 0.0, 1.0,
      0.0, 0.0, 0.0, 1.0,
      0.0, 0.0, 0.0, 1.0)
    val t10 = Array.fill(16)(1.0)
    val tiles = Seq((0L, 0L, t00.toSeq), (1L, 0L, t10.toSeq)).toDF("tx", "ty", "pixels")
    val rows = Polygonize.footprint(tiles, w, h, 64, _ != 0.0, degPerPx = 5.625)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
      .sortBy(t => (t._1, t._3))
    assert(rows.length == 3, s"expected 3 components, got ${rows.toSeq}")
    // scene (0,0), comp at label 0 (min global id 0): the 3-px L at the left
    assert(rows(0) == ((0L, 0L, 0L, 3L,
      -180.0, -180.0 + 2 * 5.625, 90.0 - 2 * 5.625, 90.0)))
    // scene (0,0), right column: label = global id of (gx=3, gy=0) = 3
    assert(rows(1) == ((0L, 0L, 3L, 4L,
      -180.0 + 3 * 5.625, -180.0 + 4 * 5.625, 90.0 - 4 * 5.625, 90.0)))
    // scene (1,0): whole tile, label = global id of (gx=4, gy=0) = 4
    assert(rows(2) == ((1L, 0L, 4L, 16L,
      -180.0 + 4 * 5.625, -180.0 + 8 * 5.625, 90.0 - 4 * 5.625, 90.0)))
    // components NEVER span scenes: same mask through the corpus-wide CCL
    // on one seam-sharing grid would merge (3,0)-(4,0); footprint must not
    assert(rows.map(_._3).distinct.length == 3)
  }
}
