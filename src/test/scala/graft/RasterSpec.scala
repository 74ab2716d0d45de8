package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.F
import graft.operators.Raster
import graft.synth.Synth
import graft.core.{Checksum, GeomIO, Resample, Scanline, TileMath, ZCell}

/** Distributed raster operators vs single-threaded scalar oracles built
  * from the same core kernels (single source of truth — SURVEY.md §6.1):
  * what these tests validate is the DISTRIBUTED part (cell cover, shuffle,
  * aggregation, source-window join), since the kernels themselves are
  * pinned against JTS/hand cases in ScanlineSpec/CoreSpec. */
class RasterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def synthPixel(zoom: Int, tx: Long, ty: Long, px: Int, py: Int): Double =
    ((tx * 131 + ty * 173 + px * 7 + py * 11 + zoom) % 256).toDouble

  test("rasterize ADD matches scalar oracle checksums") {
    val boxes = Synth.boxes(spark, TestSpark.SfSmall).where(col("box_id") % 7 === 0)
    val rows = boxes.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val geoms = boxes
      .withColumn("geom", F.st_geomfromwkt(format_string(
        "POLYGON((%.12f %.12f, %.12f %.12f, %.12f %.12f, %.12f %.12f, %.12f %.12f))",
        col("xmin"), col("ymin"), col("xmax"), col("ymin"),
        col("xmax"), col("ymax"), col("xmin"), col("ymax"), col("xmin"), col("ymin"))))
      .withColumn("burn", (col("box_id") % 97 + 1).cast("double"))
    val got = Raster.rasterize(geoms, "geom", "burn", zoom = 4, mode = "add")
      .select(col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap

    // scalar oracle: sequential burn into a map of tiles
    val tiles = scala.collection.mutable.Map.empty[(Long, Long), Array[Double]]
    for ((id, xmin, ymin, xmax, ymax) <- rows) {
      val burn = (id % 97 + 1).toDouble
      val poly = GeomIO.box(xmin, ymin, xmax, ymax).asInstanceOf[org.locationtech.jts.geom.Polygon]
      val cells = TileMath.geoCellsForEnvelope(xmin, ymin, xmax, ymax, 4)
      for (c <- cells) {
        val (tx, ty) = (ZCell.tx(c), ZCell.ty(c))
        val (w, s, e, n) = TileMath.geoTileBounds(4, tx, ty)
        val runs = Scanline.fillPolygon(poly, w, n, (e - w) / 64, (n - s) / 64, 64, 64)
        if (runs.nonEmpty) {
          val buf = tiles.getOrElseUpdate((tx, ty), new Array[Double](64 * 64))
          runs.foreach { case (py, xs, xe) =>
            (xs until xe).foreach(x => buf(py * 64 + x) += burn)
          }
        }
      }
    }
    val want = tiles.map { case (k, v) => (k, Checksum.checksum(v, 64, 64)) }.toMap
    assert(got == want, s"got ${got.size} tiles vs want ${want.size}")
  }

  test("rasterize LINES (all-touched DDA): tiled == whole-grid walk, seams exact") {
    import spark.implicits._
    // integer-pixel endpoints at zoom 3 (1024x512 global px), incl. a
    // horizontal, a vertical, a steep diagonal and a tile-corner crosser
    val segs = Seq(
      (1L, 10L, 10L, 200L, 10L), (2L, 63L, 0L, 63L, 130L),
      (3L, 0L, 0L, 1023L, 511L), (4L, 60L, 60L, 70L, 70L),
      (5L, 128L, 64L, 128L, 64L)) // degenerate point-like
    val c = 45.0 / 128.0
    val lines = segs.toDF("id", "x0", "y0", "x1", "y1")
      .withColumn("geom", F.st_geomfromwkt(format_string(
        "LINESTRING(%.10f %.10f, %.10f %.10f)",
        lit(-180.0) + col("x0") * c, lit(90.0) - col("y0") * c,
        lit(-180.0) + col("x1") * c, lit(90.0) - col("y1") * c)))
      .withColumn("burn", (col("id") % 3 + 1).cast("double"))
    val got = Raster.rasterize(lines, "geom", "burn", zoom = 3, mode = "add")
      .select("tx", "ty", "pixels").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Double](2).toArray)).toMap
    // whole-grid oracle: one global DDA per line (same closed-form walk)
    val acc = scala.collection.mutable.Map.empty[(Long, Long), Array[Double]]
    for ((id, x0, y0, x1, y1) <- segs) {
      val burn = (id % 3 + 1).toDouble
      val steps = math.max(1, math.ceil(math.max(math.abs(x1 - x0), math.abs(y1 - y0)).toDouble * 2).toInt)
      val pxs = (0 to steps).map { s =>
        (math.floor(((steps - s) * x0 + s.toLong * x1).toDouble / steps).toLong,
         math.floor(((steps - s) * y0 + s.toLong * y1).toDouble / steps).toLong)
      }.distinct
      for ((px, py) <- pxs if px >= 0 && px < 1024 && py >= 0 && py < 512) {
        val k = (px / 64, py / 64)
        val buf = acc.getOrElseUpdate(k, new Array[Double](64 * 64))
        buf(((py % 64) * 64 + px % 64).toInt) += burn
      }
    }
    assert(got.keySet == acc.keySet, s"tile sets differ: ${got.keySet} vs ${acc.keySet}")
    for ((k, buf) <- acc) assert(got(k).toSeq == buf.toSeq, s"tile $k differs")
  }

  test("rasterize MAX (REPLACE-by-priority) deterministic overlap") {
    import spark.implicits._
    val two = Seq(
      (1L, "POLYGON((0 0, 20 0, 20 20, 0 20, 0 0))", 1.0),
      (2L, "POLYGON((10 10, 30 10, 30 30, 10 30, 10 10))", 2.0))
      .toDF("id", "wkt", "burn")
      .withColumn("geom", F.st_geomfromwkt(col("wkt")))
    val out = Raster.rasterize(two, "geom", "burn", zoom = 3, mode = "max")
      .select(col("tx"), col("ty"), col("pixels")).collect()
    // tile containing (15,15) must have burn 2 there (priority wins)
    val res = 180.0 / 8
    val tx = TileMath.geoTileX(15.0, 3); val ty = TileMath.geoTileY(15.0, 3)
    val tile = out.find(r => r.getLong(0) == tx && r.getLong(1) == ty).get
    val (w, s, e, n) = TileMath.geoTileBounds(3, tx, ty)
    val px = ((15.0 - w) / ((e - w) / 64)).toInt
    val py = ((n - 15.0) / ((n - s) / 64)).toInt
    assert(tile.getSeq[Double](2)(py * 64 + px) == 2.0)
  }

  test("pyramid 3->0 matches scalar oracle") {
    val base = Synth.tiles(spark, 3)
    val got = Raster.pyramid(base, 3, 0)
      .select(col("zoom"), col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
      .collect().map(r => ((r.getInt(0), r.getLong(1), r.getLong(2)), r.getInt(3))).toMap

    // scalar: build zoom-3 grid, reduce level by level with core kernel
    var level = (for (tx <- 0L until 16L; ty <- 0L until 8L) yield {
      val px = Array.tabulate(64 * 64)(i => synthPixel(3, tx, ty, i % 64, i / 64))
      ((tx, ty), px)
    }).toMap
    val want = scala.collection.mutable.Map.empty[(Int, Long, Long), Int]
    level.foreach { case ((tx, ty), px) => want((3, tx, ty)) = Checksum.checksum(px, 64, 64) }
    for (z <- 2 to 0 by -1) {
      val next = level.groupBy { case ((tx, ty), _) => (tx / 2, ty / 2) }.map {
        case ((ptx, pty), children) =>
          val buf = new Array[Double](64 * 64)
          children.foreach { case ((ctx, cty), cpx) =>
            val down = Resample.downsample2x2Avg(cpx, 64, 64)
            val ox = (ctx % 2).toInt * 32; val oy = (cty % 2).toInt * 32
            for (y <- 0 until 32; x <- 0 until 32)
              buf((oy + y) * 64 + ox + x) = down(y * 32 + x)
          }
          ((ptx, pty), buf)
      }
      next.foreach { case ((tx, ty), px) => want((z, tx, ty)) = Checksum.checksum(px, 64, 64) }
      level = next
    }
    assert(got == want.toMap, s"got ${got.size} vs want ${want.size}")
  }

  test("warp to mercator matches scalar oracle (all 7 kernels)") {
    val srcZoom = 3; val dstZoom = 3
    // scalar oracle: direct global sampling (no tile join) via the same kernels
    val srcFn: (Int, Int) => Double = (gx, gy) => {
      val nx = (1L << (srcZoom + 1)) * 64; val ny = (1L << srcZoom) * 64
      if (gx < 0 || gy < 0 || gx >= nx || gy >= ny) Double.NaN
      else synthPixel(srcZoom, gx / 64, gy / 64, gx % 64, gy % 64)
    }
    val srcResX = 360.0 / ((1L << (srcZoom + 1)) * 64).toDouble
    val srcResY = 180.0 / ((1L << srcZoom) * 64).toDouble
    for (method <- Seq("near", "bilinear", "cubic", "cubicspline", "lanczos", "average", "mode")) {
      val got = Raster.warpToMercator(Synth.tiles(spark, srcZoom), srcZoom, dstZoom, method)
        .select(col("tx"), col("ty"), F.checksum_px(col("pixels")).as("cks"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
      val want = (for (tx <- 0L until 8L; ty <- 0L until 8L) yield {
        val (xm0, ym0, xm1, ym1) = TileMath.mercTileBoundsMeters(dstZoom, tx, ty)
        val dxm = (xm1 - xm0) / 64; val dym = (ym1 - ym0) / 64
        val buf = Array.tabulate(64 * 64) { i =>
          val px = i % 64; val py = i / 64
          val v = method match {
            case "average" | "mode" =>
              val gyN = (90.0 - TileMath.mercYToLat(ym1 - py * dym)) / srcResY
              val gyS = (90.0 - TileMath.mercYToLat(ym1 - (py + 1) * dym)) / srcResY
              val gxW = (TileMath.mercXToLon(xm0 + px * dxm) + 180.0) / srcResX
              val gxE = (TileMath.mercXToLon(xm0 + (px + 1) * dxm) + 180.0) / srcResX
              if (method == "average") Resample.boxAverage(srcFn, gxW, gyN, gxE, gyS)
              else Resample.boxMode(srcFn, gxW, gyN, gxE, gyS)
            case _ =>
              val lat = TileMath.mercYToLat(ym1 - (py + 0.5) * dym)
              val lon = TileMath.mercXToLon(xm0 + (px + 0.5) * dxm)
              val gx = (lon + 180.0) / srcResX; val gy = (90.0 - lat) / srcResY
              method match {
                case "near"        => Resample.nearest(srcFn, gx, gy)
                case "cubic"       => Resample.cubic(srcFn, gx, gy)
                case "cubicspline" => Resample.cubicSpline(srcFn, gx, gy)
                case "lanczos"     => Resample.lanczos(srcFn, gx, gy)
                case _             => Resample.bilinear(srcFn, gx, gy)
              }
          }
          if (v.isNaN) 0.0 else v
        }
        ((tx, ty), Checksum.checksum(buf, 64, 64))
      }).toMap
      assert(got == want, s"method $method")
    }
  }

  test("warp dst universe scales with SOURCE coverage, not the planet") {
    import spark.implicits._
    // one source tile at zoom 3 warped to dstZoom 6: round 1 enumerated
    // every dst tile on Earth (4^6 = 4096 rows pre-join); the derived
    // universe must stay proportional to the projected footprint of the
    // single tile (+1 halo tile per side)
    val one = Synth.tiles(spark, 3).where(col("tx") === 5 && col("ty") === 3)
    val out = Raster.warpToMercator(one, srcZoom = 3, dstZoom = 6, "near")
      .select("tx", "ty").collect()
    assert(out.nonEmpty)
    // src tile covers 22.5° x 22.5° ≈ 4x(4..8) mercator z6 tiles (5.625°)
    // + halo; anything near 4096 means the planet got enumerated again
    assert(out.length <= 60, s"dst universe exploded: ${out.length} tiles")
  }

  test("cubic kernel reproduces linear ramps exactly (Keys a=-0.5)") {
    val src: (Int, Int) => Double = (x, y) => 3.0 * x + 2.0 * y + 1.0
    for (sx <- Seq(5.1, 5.5, 6.9); sy <- Seq(4.2, 4.5, 5.8)) {
      val want = 3.0 * (sx - 0.5) + 2.0 * (sy - 0.5) + 1.0
      assert(math.abs(Resample.cubic(src, sx, sy) - want) < 1e-9, s"($sx,$sy)")
    }
    // constant field preserved (within kernel-weight rounding)
    assert(math.abs(Resample.cubic((_, _) => 7.0, 3.3, 2.7) - 7.0) < 1e-12)
  }

  test("cubicspline and lanczos kernel properties") {
    val ramp: (Int, Int) => Double = (x, y) => 3.0 * x + 2.0 * y + 1.0
    for (sx <- Seq(5.1, 5.5, 6.9); sy <- Seq(4.2, 4.5, 5.8)) {
      val want = 3.0 * (sx - 0.5) + 2.0 * (sy - 0.5) + 1.0
      // B-spline: partition of unity + symmetry -> linear ramps preserved
      assert(math.abs(Resample.cubicSpline(ramp, sx, sy) - want) < 1e-9, s"bspline ($sx,$sy)")
    }
    // lanczos: weight-normalized -> constants exact; a step edge must
    // overshoot (ringing), unlike the monotone kernels
    assert(math.abs(Resample.lanczos((_, _) => 7.0, 3.3, 2.7) - 7.0) < 1e-12)
    val step: (Int, Int) => Double = (x, _) => if (x < 6) 0.0 else 10.0
    // ~1.5 px left of the edge: the value-10 taps sit in the sinc's
    // negative lobe, so the result dips below 0
    val near = Resample.lanczos(step, 4.6, 4.5)
    assert(near < 0.0, s"expected undershoot below the step, got $near")
    // smoothing: B-spline at a sample center does NOT reproduce a spike
    val spike: (Int, Int) => Double = (x, y) => if (x == 5 && y == 5) 6.0 else 0.0
    assert(math.abs(Resample.cubicSpline(spike, 5.5, 5.5) - 6.0 * 4.0 / 9.0) < 1e-9)
  }

  test("rgb2pct guards the driver histogram collect above quantBits=6") {
    val ms = Synth.tiles(spark, 1).withColumn("band", lit(1))
    val e = intercept[IllegalArgumentException] {
      Raster.rgb2pct(ms, paletteSize = 256, quantBits = 8)
    }
    assert(e.getMessage.contains("allowLargePalette"))
  }

  test("rgb2pct median cut: distributed == whole-grid scalar; palette partitioning-independent") {
    import spark.implicits._
    // general path: 5-bit bins, 16-entry palette over 256 distinct colors
    val ms = Synth.rgbBands(spark, 2)
    val (mapped, pal) = Raster.rgb2pct(ms, paletteSize = 16, quantBits = 5)
    assert(pal.length <= 16 && pal.length > 1)
    assert(pal.sameElements(pal.sorted), "palette must be sorted")
    val got = mapped.select("tx", "ty", "pixels").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Double](2).toSeq)).toMap
    // scalar oracle: whole-grid histogram + same kernels
    def chans(tx: Long, ty: Long, i: Int): (Int, Int, Int) = {
      val v = synthPixel(2, tx, ty, i % 64, i / 64).toInt
      (v, (v * 2 + 5) % 256, (v * 7 + 11) % 256)
    }
    val hist = scala.collection.mutable.Map.empty[Int, Long]
    for (tx <- 0L until 8L; ty <- 0L until 4L; i <- 0 until 4096) {
      val (r, g, b) = chans(tx, ty, i)
      val c = ((r >> 3) << 3 << 16) | ((g >> 3) << 3 << 8) | ((b >> 3) << 3)
      hist(c) = hist.getOrElse(c, 0L) + 1
    }
    val palWant = graft.core.MedianCut.palette(hist.toArray, 16)
    assert(pal.sameElements(palWant), "distributed histogram changed the palette")
    for (tx <- 0L until 8L; ty <- 0L until 4L) {
      val want = (0 until 4096).map { i =>
        val (r, g, b) = chans(tx, ty, i)
        graft.core.MedianCut.nearestIdx(palWant, r, g, b).toDouble
      }
      assert(got((tx, ty)) == want, s"tile ($tx,$ty) mapping differs")
    }
    // partitioning independence
    val (mapped2, pal2) = Raster.rgb2pct(ms.repartition(13), paletteSize = 16, quantBits = 5)
    assert(pal2.sameElements(pal))
    assert(mapped2.select("tx", "ty", "pixels").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Double](2).toSeq)).toMap == got)
  }

  test("mosaic max_by priority") {
    val a = Synth.tiles(spark, 2).withColumn("prio", lit(1))
    val b = Synth.tiles(spark, 2).where(col("tx") === 0)
      .withColumn("pixels", expr("transform(pixels, p -> p + 5.0)"))
      .withColumn("prio", lit(2))
    val out = Raster.mosaic(a.unionByName(b), "prio")
      .where(col("tx") === 0 && col("ty") === 0)
      .select(col("pixels")).collect()(0).getSeq[Double](0)
    assert(out(0) == synthPixel(2, 0, 0, 0, 0) + 5.0)
  }

  test("warpGcpNear: identity GCPs reproduce the source grid exactly") {
    val spark = TestSpark.spark
    val tiles = graft.synth.Synth.tiles(spark, 2) // 8x4 tiles, 512x256 px
    val out = Raster.warpGcpNear(tiles,
      Seq((0L, 0L, 0L, 0L), (64L, 0L, 64L, 0L), (0L, 64L, 0L, 64L)),
      srcW = 512, srcH = 256, dstW = 512, dstH = 256)
    val got = out.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Double](2))).toMap
    val want = tiles.select(col("tx"), col("ty"), col("pixels")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Double](2))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, px) => assert(px == want(k), s"tile $k") }
  }

  test("warpGcpNear: translated+scaled affine pins hand-computed samples; off-grid tiles drop") {
    val spark = TestSpark.spark
    val tiles = graft.synth.Synth.tiles(spark, 2)
    // dst (dx,dy) -> src (2dx - 100, dy + 3): x doubles with a negative
    // offset, so low dst x maps off-grid (background / dropped columns)
    val out = Raster.warpGcpNear(tiles,
      Seq((0L, 0L, -100L, 3L), (64L, 0L, 28L, 3L), (0L, 64L, -100L, 67L)),
      srcW = 512, srcH = 256, dstW = 512, dstH = 256)
    val got = out.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Double](2))).toMap
    def srcPx(gx: Long, gy: Long): Double =
      ((gx / 64) * 131 + (gy / 64) * 173 + (gx % 64) * 7 + (gy % 64) * 11 + 2) % 256
    // dst gdx=50 -> sgx=0 (valid from gdx >= 50); pixel (50, 10) of tile (0,0)
    val t00 = got((0L, 0L))
    assert(t00(10 * 64 + 50) == srcPx(0, 13))
    assert(t00(10 * 64 + 49) == 0.0, "left of src coverage must be background")
    // dst gdx >= 306 -> sgx >= 512 out of grid; tile tx=5 has gdx in [320,384) -> dropped
    assert(!got.contains((5L, 0L)))
  }

  private def rpcCoeffs(pairs: (Int, Double)*): Array[Double] = {
    val a = new Array[Double](20)
    pairs.foreach { case (i, v) => a(i - 1) = v }
    a
  }

  test("warpRpcNear: identity RPC (all ops dyadic-exact) reproduces the source grid") {
    val spark = TestSpark.spark
    val tiles = graft.synth.Synth.tiles(spark, 2) // 512x256 px
    // samp = ((lon/180)·256 + 256) = gdx and line = ((-lat/90)·128 + 128)
    // = gdy exactly: every step is a dyadic rational, so floor sampling
    // is the identity and the warped grid must equal the source
    val ident = graft.core.Rpc.Model(
      0.0, 180.0, 0.0, 90.0, 0.0, 500.0,
      256.0, 256.0, 128.0, 128.0,
      rpcCoeffs(2 -> 1.0), rpcCoeffs(1 -> 1.0),
      rpcCoeffs(3 -> -1.0), rpcCoeffs(1 -> 1.0))
    val out = Raster.warpRpcNear(tiles, ident, 512, 256, 512, 256,
      lon0 = -180.0, lonStep = 0.703125, lat0 = 90.0, latStep = -0.703125)
    val got = out.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Double](2))).toMap
    val want = tiles.select(col("tx"), col("ty"), col("pixels")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Double](2))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, px) => assert(px == want(k), s"tile $k") }
  }

  test("warpRpcNear: distorted model routes/ships/samples correctly per pixel") {
    val spark = TestSpark.spark
    // zoom-3 (1024x512) — the geometry core/Rpc.demo is scaled for: the
    // whole dst window maps inside the src grid, so all 128 tiles emit
    val tiles = graft.synth.Synth.tiles(spark, 3)
    val m = graft.core.Rpc.demo
    val out = Raster.warpRpcNear(tiles, m, 1024, 512, 1024, 512,
      lon0 = -180.0, lonStep = 0.3515625, lat0 = 90.0, latStep = -0.3515625)
    val got = out.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Double](2))).toMap
    assert(got.size == 128, s"expected all 128 dst tiles, got ${got.size}")
    // hand-replay a handful of pixels through the scalar transform and the
    // closed-form source grid — pins the DISTRIBUTED path (corner routing,
    // chunk shipping, per-tile indexing) against the scalar reference
    def srcPx(gx: Long, gy: Long): Double =
      ((gx / 64) * 131 + (gy / 64) * 173 + (gx % 64) * 7 + (gy % 64) * 11 + 3) % 256
    for ((gdx, gdy) <- Seq((0L, 0L), (255L, 100L), (1023L, 511L), (600L, 7L))) {
      val (samp, line) = graft.core.Rpc.sampLine(m,
        -180.0 + gdx * 0.3515625, 90.0 + gdy * -0.3515625, 0.0)
      val sgx = math.floor(samp).toLong; val sgy = math.floor(line).toLong
      assert(sgx >= 0 && sgx < 1024 && sgy >= 0 && sgy < 512)
      val key = (gdx / 64, gdy / 64)
      assert(got(key)(((gdy % 64) * 64 + gdx % 64).toInt) == srcPx(sgx, sgy), s"pixel ($gdx,$gdy)")
    }
    // the distortion is real: some pixel must differ from the identity map
    assert((0L until 1024L).exists { gdx =>
      val (samp, _) = graft.core.Rpc.sampLine(m, -180.0 + gdx * 0.3515625, 0.0, 0.0)
      math.floor(samp).toLong != gdx
    })
  }

  test("rat: per-class stats == per-pixel brute force; empty classes dropped") {
    val spark = TestSpark.spark
    val tiles = graft.synth.Synth.tiles(spark, 2) // 512x256
    val got = Raster.rat(tiles, nClasses = 20, classWidth = 16.0).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    // brute force over the closed-form grid
    val brute = scala.collection.mutable.Map.empty[Long, (Long, Double, Double, Long)]
    for (gx <- 0L until 512L; gy <- 0L until 256L) {
      val v = ((gx / 64) * 131 + (gy / 64) * 173 + (gx % 64) * 7 + (gy % 64) * 11 + 2) % 256 // + zoom
      val cls = v / 16
      val (c, mn, mx, sm) = brute.getOrElse(cls, (0L, Double.MaxValue, Double.MinValue, 0L))
      brute(cls) = (c + 1, math.min(mn, v.toDouble), math.max(mx, v.toDouble), sm + v)
    }
    assert(got.keySet == brute.keySet)
    got.foreach { case (cls, t) => assert(t == brute(cls), s"class $cls") }
    // classes 16..19 can never occur (values < 256)
    assert(got.keySet.forall(_ < 16))
  }

  test("rasterizeInvert: exact complement of coverage over the FULL tile universe") {
    val spark = TestSpark.spark
    val geoms = graft.synth.Synth.boxes(spark, TestSpark.SfSmall)
      .where(col("box_id") % 7 === 0)
      .withColumn("geom", F.st_geomfromwkt(format_string(
        "POLYGON((%.12f %.12f, %.12f %.12f, %.12f %.12f, %.12f %.12f, %.12f %.12f))",
        col("xmin"), col("ymin"), col("xmax"), col("ymin"),
        col("xmax"), col("ymax"), col("xmin"), col("ymax"), col("xmin"), col("ymin"))))
    val cover = Raster.rasterize(geoms.withColumn("burn", lit(1.0)), "geom", "burn", 4, "max")
      .collect().map(r => (r.getLong(2), r.getLong(3)) -> r.getSeq[Double](4)).toMap
    val inv = Raster.rasterizeInvert(geoms, "geom", 4, 5.0, 32, 16).collect()
    assert(inv.length == 32 * 16, "every universe tile must emit")
    assert(cover.nonEmpty && cover.size < 32 * 16, "need touched AND untouched tiles")
    inv.foreach { r =>
      val key = (r.getLong(2), r.getLong(3))
      val px = r.getSeq[Double](4)
      cover.get(key) match {
        case None => assert(px.forall(_ == 5.0), s"untouched tile $key must be all-burn")
        case Some(mask) =>
          for (i <- px.indices)
            assert(px(i) == (if (mask(i) > 0.0) 0.0 else 5.0), s"tile $key px $i")
      }
    }
  }

  test("regrid -srcnodata: nodata excluded from average/mode, all-nodata windows fall back") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 128x64 src (2 tiles) -> 64x64 dst: each dst px averages 2 src
    // centers on x (row 0 probes below), 1 on y
    val p0 = Array.fill(64 * 64)(5.0)
    p0(0) = 2.0; p0(1) = 9.0 // dst(0,0): mixed nodata
    p0(2) = 2.0; p0(3) = 2.0 // dst(1,0): ALL nodata
    p0(4) = 2.0; p0(5) = 7.0 // dst(2,0): mode discriminator
    val tiles = Seq((0L, 0L, p0.toSeq), (1L, 0L, Array.fill(64 * 64)(5.0).toSeq))
      .toDF("tx", "ty", "pixels")
    def px0(method: String, nd: Option[Double]): Seq[Double] =
      graft.operators.Raster.regrid(tiles, 128, 64, 64, 64, method, nd)
        .where(col("tx") === 0 && col("ty") === 0)
        .collect().head.getSeq[Double](2)
    val ndAvg = px0("average", Some(2.0))
    assert(ndAvg(0) == 9.0, "mixed window averages valid sources only")
    assert(ndAvg(1) == 2.0, "all-nodata window writes the nodata value back")
    assert(ndAvg(2) == 7.0) // valid-only mean of {7}
    val plainAvg = px0("average", None)
    assert(plainAvg(0) == (2.0 + 9.0) / 2.0 && plainAvg(2) == (2.0 + 7.0) / 2.0,
      "default path unchanged")
    val ndMode = px0("mode", Some(2.0))
    val plainMode = px0("mode", None)
    assert(ndMode(0) == 9.0 && ndMode(1) == 2.0 && ndMode(2) == 7.0)
    assert(plainMode(2) == 2.0, "tie resolves to smallest value without the gate")
    // gdalwarp -r min / max / sum reducers over the same windows
    val mnv = px0("min", None); val mxv = px0("max", None); val smv = px0("sum", None)
    assert(mnv(0) == 2.0 && mxv(0) == 9.0 && smv(0) == 11.0)
    assert(mnv(2) == 2.0 && mxv(2) == 7.0 && smv(2) == 9.0)
    assert(smv(10) == 10.0, "uniform window sums its two 5.0 centers")
    // nodata gate applies to the reducers exactly like average/mode
    val ndMin = px0("min", Some(2.0)); val ndSum = px0("sum", Some(2.0))
    assert(ndMin(0) == 9.0 && ndSum(0) == 9.0, "valid-only extreme/total")
    assert(ndMin(1) == 2.0 && ndSum(1) == 2.0, "all-nodata window falls back")
  }

  test("warpRpcDemNear: per-point DEM height shifts the sampled source vs fixed h=0") {
    val spark = TestSpark.spark
    val tiles = graft.synth.Synth.tiles(spark, 3)
    val dem: (Double, Double) => Double = (lon, lat) => {
      val cx = math.floor((lon + 180.0) / 2.8125).toLong
      val cy = math.floor((90.0 - lat) / 2.8125).toLong
      ((cx * 37 + cy * 91) % 400).toDouble
    }
    val fixed = Raster.warpRpcNear(tiles, graft.core.Rpc.demo, 1024, 512, 1024, 512,
      -180.0, 0.3515625, 90.0, -0.3515625)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
    val demd = Raster.warpRpcDemNear(tiles, graft.core.Rpc.demo, dem, 1024, 512, 1024, 512,
      -180.0, 0.3515625, 90.0, -0.3515625)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
    assert(demd.keySet == fixed.keySet && demd.nonEmpty)
    assert(demd.exists { case (k, px) => px != fixed(k) }, "DEM leg must perturb the warp")
    // spot-replay one pixel end-to-end: dst (100, 100)
    val gdx = 100L; val gdy = 100L
    val lon = -180.0 + gdx * 0.3515625; val lat = 90.0 - gdy * 0.3515625
    val (samp, line) = graft.core.Rpc.sampLine(graft.core.Rpc.demo, lon, lat, dem(lon, lat))
    val sgx = math.floor(samp).toLong; val sgy = math.floor(line).toLong
    val expected =
      if (sgx < 0 || sgx >= 1024 || sgy < 0 || sgy >= 512) 0.0
      else (((sgx / 64) * 131 + (sgy / 64) * 173 + (sgx % 64) * 7 + (sgy % 64) * 11 + 3) % 256).toDouble
    val got = demd((gdx / 64, gdy / 64))((gdy % 64).toInt * 64 + (gdx % 64).toInt)
    assert(got == expected, s"pixel replay: got $got expected $expected")
  }

  test("bandStats: exact global stats == per-pixel brute force; hand anchors") {
    val spark = TestSpark.spark
    import spark.implicits._
    val row = Raster.bandStats(graft.synth.Synth.tiles(spark, 3)).collect().head
    // brute force over the closed-form zoom-3 grid with EXACT integers,
    // then the identical double op sequence
    var s = 0L; var sq = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
    val n = 1024L * 512L
    for (gx <- 0L until 1024L; gy <- 0L until 512L) {
      val v = ((gx / 64) * 131 + (gy / 64) * 173 + (gx % 64) * 7 + (gy % 64) * 11 + 3) % 256
      s += v; sq += v * v; mn = math.min(mn, v); mx = math.max(mx, v)
    }
    val mean = s.toDouble / n.toDouble
    val std = math.sqrt(sq.toDouble / n.toDouble - mean * mean)
    assert(row.getLong(0) == n && row.getLong(1) == mn && row.getLong(2) == mx)
    assert(row.getDouble(3) == mean && row.getDouble(4) == std, "mean/std must be BIT-exact")
    // hand anchors: constant band → std 0; two-value band → half-spread
    def statsOf(px: Seq[Double]): (Long, Long, Long, Double, Double) = {
      val r = Raster.bandStats(Seq((0L, 0L, px)).toDF("tx", "ty", "pixels")).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
    }
    assert(statsOf(Seq.fill(16)(7.0)) == ((16L, 7L, 7L, 7.0, 0.0)))
    val (n2, mn2, mx2, mean2, std2) = statsOf(Seq.fill(8)(1.0) ++ Seq.fill(8)(3.0))
    assert(n2 == 16L && mn2 == 1L && mx2 == 3L && mean2 == 2.0 && std2 == 1.0)
  }

  test("warpTpsNear: distributed warp == per-pixel scalar replay of the spline") {
    val spark = TestSpark.spark
    val tiles = graft.synth.Synth.tiles(spark, 3) // 1024x512
    val m = graft.core.Tps.demo
    val out = Raster.warpTpsNear(tiles, m, 1024, 512, 1024, 512)
    val got = out.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Double](2))).toMap
    def srcPx(gx: Long, gy: Long): Double =
      ((gx / 64) * 131 + (gy / 64) * 173 + (gx % 64) * 7 + (gy % 64) * 11 + 3) % 256
    // scalar replay of EVERY pixel in four spread tiles (incl. an edge tile
    // where part of the window maps off-grid)
    var expectTiles = Set.empty[(Long, Long)]
    for ((dtx, dty) <- Seq((0L, 0L), (7L, 3L), (15L, 7L), (9L, 0L))) {
      var any = false
      val want = new Array[Double](64 * 64)
      for (i <- 0 until 64 * 64) {
        val gdx = dtx * 64 + i % 64; val gdy = dty * 64 + i / 64
        val (samp, line) = graft.core.Tps.eval(m, gdx.toDouble, gdy.toDouble)
        val sgx = math.floor(samp).toLong; val sgy = math.floor(line).toLong
        if (sgx >= 0 && sgx < 1024 && sgy >= 0 && sgy < 512) {
          want(i) = srcPx(sgx, sgy); any = true
        }
      }
      if (any) { expectTiles += ((dtx, dty)); assert(got((dtx, dty)) == want.toSeq, s"tile ($dtx,$dty)") }
    }
    assert(expectTiles.forall(got.keySet.contains))
    // the spline is not the identity anywhere useful: corner tile shifts
    val identTile = (0 until 64 * 64).map(i => srcPx(i % 64, i / 64))
    assert(got((0L, 0L)) != identTile)
  }

  test("nearblack: per-row collar trim == scalar replica; interior near-collar kept; all-collar rows wiped") {
    val spark = TestSpark.spark
    import spark.implicits._
    val w = 4; val h = 2
    // 2×2 tiles of 4×2: global 8×4. Row layouts exercise all branches:
    //   gy 0: collar both ends, a near-collar INTERIOR pixel kept
    //   gy 1: exceeds at both extremes (nothing trimmed)
    //   gy 2: all-collar (sentinel row → fully replaced)
    //   gy 3: collar on the left only
    val grid: Array[Array[Double]] = Array(
      Array(0, 2, 9, 1, 8, 3, 0, 0),
      Array(7, 0, 0, 0, 0, 0, 0, 9),
      Array(1, 2, 3, 0, 4, 5, 0, 1),
      Array(0, 0, 0, 7, 9, 8, 6, 5))
    val tiles = (for (tty <- 0 to 1; ttx <- 0 to 1) yield {
      val px = for (py <- 0 until h; x <- 0 until w) yield grid(tty * h + py)(ttx * w + x)
      (ttx.toLong, tty.toLong, px)
    }).toDF("tx", "ty", "pixels")
    val got = Raster.nearblack(tiles, w, h, nb = 5.0, collar = 0.0, replace = 255.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Double](2))).toMap
    // scalar replica
    val want = grid.map { row =>
      val ex = row.indices.filter(x => math.abs(row(x) - 0.0) > 5.0)
      if (ex.isEmpty) Array.fill(row.length)(255.0)
      else row.indices.map(x => if (x >= ex.head && x <= ex.last) row(x) else 255.0).toArray
    }
    for (tty <- 0 to 1; ttx <- 0 to 1; py <- 0 until h; x <- 0 until w)
      assert(got((ttx.toLong, tty.toLong))(py * w + x) == want(tty * h + py)(ttx * w + x),
        s"tile($ttx,$tty) px($x,$py)")
    // the hand-pins the replica must itself satisfy:
    assert(want(0).toSeq == Seq(255.0, 255.0, 9.0, 1.0, 8.0, 255.0, 255.0, 255.0)) // interior 1 kept
    assert(want(1).toSeq == grid(1).toSeq)                  // full-width row untouched
    assert(want(2).forall(_ == 255.0))                      // all-collar row wiped
    assert(want(3).toSeq == Seq(255.0, 255.0, 255.0, 7.0, 9.0, 8.0, 6.0, 255.0))
  }

  test("retile: every output pixel == closed form at its global coords; edges clipped") {
    val got = Raster.retile(Synth.tiles(spark, 3), 16, 8, 160, 96)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getInt(2), r.getInt(3), r.getSeq[Double](4).toArray))).toMap
    assert(got.size == 7 * 6)
    assert(got((0L, 0L))._1 == 160 && got((0L, 0L))._2 == 96)
    assert(got((6L, 0L))._1 == 64)   // 1024 - 6*160
    assert(got((0L, 5L))._2 == 32)   // 512 - 5*96
    var total = 0L
    for (((otx, oty), (w, h, px)) <- got) {
      assert(px.length == w * h, s"tile ($otx,$oty) dims")
      total += px.length
      var i = 0
      while (i < px.length) {
        val gx = otx * 160 + i % w; val gy = oty * 96 + i / w
        assert(px(i) == synthPixel(3, gx / 64, gy / 64, (gx % 64).toInt, (gy % 64).toInt),
          s"tile ($otx,$oty) i=$i")
        i += 1
      }
    }
    assert(total == 1024L * 512)     // exact partition of the raster
  }

  test("retile -overlap: stride = size - overlap, replicated bands match closed form") {
    val ov = 16
    val got = Raster.retile(Synth.tiles(spark, 3), 16, 8, 160, 96, overlap = ov)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getInt(2), r.getInt(3), r.getSeq[Double](4).toArray))).toMap
    assert(got.size == 8 * 7)                 // offsets 0,144..1008 x 0,80..480
    assert(got((7L, 0L))._1 == 16)            // 1024 - 7*144
    assert(got((0L, 6L))._2 == 32)            // 512 - 6*80
    var total = 0L
    for (((otx, oty), (w, h, px)) <- got) {
      assert(px.length == w * h, s"tile ($otx,$oty) dims")
      total += px.length
      var i = 0
      while (i < px.length) {
        val gx = otx * 144 + i % w; val gy = oty * 80 + i / w
        assert(px(i) == synthPixel(3, gx / 64, gy / 64, (gx % 64).toInt, (gy % 64).toInt),
          s"tile ($otx,$oty) i=$i")
        i += 1
      }
    }
    // replication is exact: Σ tile areas = Σ over pixels of (tiles per px)
    assert(total > 1024L * 512, "overlap must replicate interior pixels")
    // the overlap BAND is bit-identical between horizontal neighbors
    val (w0, _, p0) = got((0L, 0L)); val (_, _, p1) = got((1L, 0L))
    for (dy <- 0 until 96; k <- 0 until ov)
      assert(p0(dy * w0 + 144 + k) == p1(dy * 160 + k), s"seam band dy=$dy k=$k")
  }

  test("pyramidGauss tiled == whole-grid scalar (halo seams, border truncation)") {
    val got = Raster.pyramidGauss(Synth.tiles(spark, 2))
      .collect().map(r => ((r.getLong(1), r.getLong(2)), r.getSeq[Double](3).toArray)).toMap
    assert(got.size == 4 * 2 && got.keySet.forall { case (tx, ty) => tx < 4 && ty < 2 })
    val gw = 8 * 64; val gh = 4 * 64 // child grid at zoom 2
    def child(gx: Long, gy: Long): Double = synthPixel(2, gx / 64, gy / 64, (gx % 64).toInt, (gy % 64).toInt)
    for (pty <- 0L until 2L; ptx <- 0L until 4L; py <- 0 until 64; px <- 0 until 64) {
      val cgx = 2 * (ptx * 64 + px); val cgy = 2 * (pty * 64 + py)
      var s = 0.0; var ws = 0.0
      for (dy <- -1 to 1; dx <- -1 to 1) {
        val x = cgx + dx; val y = cgy + dy
        if (x >= 0 && x < gw && y >= 0 && y < gh) {
          val w = (2 - math.abs(dx)) * (2 - math.abs(dy))
          s += w * child(x, y); ws += w
        }
      }
      assert(got((ptx, pty))(py * 64 + px) == s / ws, s"parent ($ptx,$pty) px ($px,$py)")
    }
    // border truncation actually fires: corner parent pixel uses 4 cells
    val corner = got((0L, 0L))(0)
    val full = (4 * child(0, 0) + 2 * child(1, 0) + 2 * child(0, 1) + 1 * child(1, 1)) / 9.0
    assert(corner == full)
  }

  test("hsvMerge: value replacement == c*shade div max; black pixels take the shade") {
    import org.apache.spark.sql.functions._
    // one 4096-px tile, three bands; r/g/b laws chosen so pixel 0 is BLACK
    // (all three channels 0 — exercising the vmax=0 → shade branch that
    // the q176 ramp corpus can never reach) and the rest are mixed colors
    val base = Synth.tiles(spark, 0).where(col("tx") === 0 && col("ty") === 0)
    val rgb = Seq(1 -> "CAST((CAST(v AS BIGINT) * 3) % 256 AS DOUBLE)",
      2 -> "CAST((CAST(v AS BIGINT) * 5) % 256 AS DOUBLE)",
      3 -> "CAST((CAST(v AS BIGINT) * 7) % 256 AS DOUBLE)").map { case (b, law) =>
      base.withColumn("band", lit(b))
        .withColumn("pixels", expr(s"transform(pixels, v -> $law)"))
    }.reduce(_ unionByName _)
    val shade = base.withColumn("pixels",
      expr("transform(pixels, v -> CAST((CAST(v AS BIGINT) * 11 + 100) % 256 AS DOUBLE))"))
    val got = Raster.hsvMerge(rgb, shade).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](3)).toMap
    def law(i: Int): Long = // zoom-0 synth pixel law
      ((i % 64) * 7L + (i / 64) * 11L) % 256
    for (i <- 0 until 4096; b <- 1 to 3) {
      val v = law(i)
      val c = (v * Seq(3, 5, 7)(b - 1)) % 256
      val sh = (v * 11 + 100) % 256
      val vmax = Seq((v * 3) % 256, (v * 5) % 256, (v * 7) % 256).max
      val want = if (vmax == 0) sh else c * sh / vmax
      assert(got(b)(i) == want.toDouble, s"band $b pixel $i")
    }
    // the black-pixel branch actually fired: law(0) == 0 → all channels 0
    assert(law(0) == 0 && got(1)(0) == 100.0 && got(2)(0) == 100.0 && got(3)(0) == 100.0)
    // channel-ratio preservation: max channel equals the shade exactly
    val i1 = 1 // law(1) = 7 → channels 21/35/49, vmax = 49
    assert(got(3)(i1) == ((law(i1) * 11 + 100) % 256).toDouble)
  }

  test("tindex: location strings + bounds replay the zoom-3 geotransform") {
    val rows = Raster.tindex(Synth.tiles(spark, 3), 3).collect()
    assert(rows.length == 128)
    val m = rows.map(r => r.getString(0) ->
      ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(m("z3_0_0.tif") == ((-180.0, 67.5, -157.5, 90.0)))
    assert(m("z3_15_7.tif") == ((157.5, -90.0, 180.0, -67.5)))
    // tiles partition the world: xmax of col k == xmin of col k+1
    assert(m("z3_7_3.tif")._3 == m("z3_8_3.tif")._1)
  }
}
