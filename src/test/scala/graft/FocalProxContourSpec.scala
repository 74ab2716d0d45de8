package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.{Focal => FocalKernel}
import graft.operators.{Contour, Focal, Proximity}
import graft.synth.Synth

/** Focal (gdaldem), proximity, contour: the distributed tiled plan must
  * equal the whole-grid scalar path (halo/seam correctness), and kernels
  * are pinned with hand-computed cases. */
class FocalProxContourSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def synthVals(zoom: Int, w: Int, h: Int): (Array[Double], Int, Int) = {
    val nx = 1 << (zoom + 1); val ny = 1 << zoom
    val gw = nx * w; val gh = ny * h
    val vals = new Array[Double](gw * gh)
    for (gy <- 0 until gh; gx <- 0 until gw) {
      val tx = gx / w; val ty = gy / h; val px = gx % w; val py = gy % h
      vals(gy * gw + gx) = ((tx * 131 + ty * 173 + px * 7 + py * 11) % 16).toDouble
    }
    (vals, gw, gh)
  }

  test("focal tiled == whole-grid oracle for every mode (zoom 2, 8x8 tiles)") {
    val zoom = 2; val w = 8; val h = 8
    val (vals, gw, gh) = synthVals(zoom, w, h)
    val tiles = Synth.maskTiles(spark, zoom, w, h)
    for (mode <- Seq("tri", "tpi", "roughness", "slope_deg", "aspect_deg",
      "hillshade", "hillshade_md", "hillshade_combined",
      "slope_zt", "aspect_zt", "hillshade_zt", "slope_pct", "aspect_trig")) {
      val want = FocalKernel.wholeGrid(vals, gw, gh, mode)
      val got = Focal.focal(tiles, w, h, 1 << (zoom + 1), 1 << zoom, mode)
        .collect()
      val flat = new Array[Double](gw * gh)
      got.foreach { r =>
        val tx = r.getLong(0); val ty = r.getLong(1)
        val px = r.getSeq[Double](2)
        for (i <- px.indices)
          flat(((ty * h + i / w) * gw + tx * w + i % w).toInt) = px(i)
      }
      for (i <- flat.indices)
        assert(flat(i) == want(i) || (flat(i).isNaN && want(i).isNaN),
          s"$mode px $i (${i % gw},${i / gw}): ${flat(i)} vs ${want(i)}")
    }
  }

  test("focal on a SPARSE tile table: no phantom tiles, gaps edge-clamp like borders") {
    // 3 tiles in a row with the middle one missing: neighbor strips from
    // (0,0) and (2,0) address tile (1,0), which has no self part — the
    // group must be dropped, and tiles bordering the gap must clamp the
    // missing side exactly like a raster border (= the whole-grid result
    // of each tile computed in isolation).
    val w = 4; val h = 4
    def tilePx(seed: Int) = Array.tabulate(w * h)(i => ((seed * 31 + i * 7) % 13).toDouble)
    val tiles = Seq(
      (0L, 0L, tilePx(1).toSeq),
      (2L, 0L, tilePx(2).toSeq)).toDF("tx", "ty", "pixels")
    val got = Focal.focal(tiles, w, h, nxTiles = 8, nyTiles = 4, "tri").collect()
    assert(got.length == 2, s"phantom tiles emitted: ${got.map(r => (r.getLong(0), r.getLong(1))).toSeq}")
    assert(got.forall(r => !r.getSeq[Double](2).exists(_.isNaN)), "NaN leaked into output")
    // isolated-tile oracle: each tile alone == its rows in the sparse run
    for ((tx, seed) <- Seq((0L, 1), (2L, 2))) {
      val solo = Focal.focal(Seq((tx, 0L, tilePx(seed).toSeq)).toDF("tx", "ty", "pixels"),
        w, h, 8, 4, "tri").collect().head.getSeq[Double](2)
      val sparse = got.find(_.getLong(0) == tx).get.getSeq[Double](2)
      assert(solo == sparse, s"tile $tx differs between solo and sparse runs")
    }
  }

  test("slope/aspect anchors: tilted planes, the flat sentinel, compass azimuths") {
    val gw = 5; val gh = 5
    // z = x plane (rises eastward): slope 45°, downslope faces west (270°)
    val zx = Array.tabulate(gw * gh)(i => (i % gw).toDouble)
    val s1 = FocalKernel.wholeGrid(zx, gw, gh, "slope_deg")
    val a1 = FocalKernel.wholeGrid(zx, gw, gh, "aspect_deg")
    for (y <- 1 until gh - 1; x <- 1 until gw - 1) {
      assert(math.abs(s1(y * gw + x) - 45.0) < 1e-12, s"slope ($x,$y)")
      assert(math.abs(a1(y * gw + x) - 270.0) < 1e-9, s"aspect ($x,$y): ${a1(y * gw + x)}")
    }
    // z = y plane (rises southward, y down): downslope faces north — az 0
    // (or its 360° twin within ULPs of the wrap boundary)
    val zy = Array.tabulate(gw * gh)(i => (i / gw).toDouble)
    val a2 = FocalKernel.wholeGrid(zy, gw, gh, "aspect_deg")
    for (y <- 1 until gh - 1; x <- 1 until gw - 1) {
      val v = a2(y * gw + x)
      assert(math.min(v, 360.0 - v) < 1e-9, s"north aspect ($x,$y): $v")
    }
    // z = -y (rises northward): downslope faces south — az 180
    val zny = Array.tabulate(gw * gh)(i => -(i / gw).toDouble)
    val a3 = FocalKernel.wholeGrid(zny, gw, gh, "aspect_deg")
    for (y <- 1 until gh - 1; x <- 1 until gw - 1)
      assert(math.abs(a3(y * gw + x) - 180.0) < 1e-9)
    // flat → the reference's -9999 sentinel, everywhere (borders included)
    val flat = Array.fill(gw * gh)(7.0)
    assert(FocalKernel.wholeGrid(flat, gw, gh, "aspect_deg").forall(_ == -9999.0))
    // steeper plane: z = 2x → slope atan(2)
    val z2x = Array.tabulate(gw * gh)(i => 2.0 * (i % gw))
    val s2 = FocalKernel.wholeGrid(z2x, gw, gh, "slope_deg")
    val want = math.atan(2.0) / (math.Pi / 180.0)
    for (y <- 1 until gh - 1; x <- 1 until gw - 1)
      assert(math.abs(s2(y * gw + x) - want) < 1e-12)
    // percent slope: z = x plane → 100%, z = 2x → 200%, flat → 0 (EXACT —
    // the mode has no trig)
    val pct1 = FocalKernel.wholeGrid(zx, gw, gh, "slope_pct")
    val pct2 = FocalKernel.wholeGrid(z2x, gw, gh, "slope_pct")
    for (y <- 1 until gh - 1; x <- 1 until gw - 1) {
      assert(pct1(y * gw + x) == 100.0, s"pct plane ($x,$y)")
      assert(pct2(y * gw + x) == 200.0, s"pct 2x plane ($x,$y)")
    }
    assert(FocalKernel.wholeGrid(flat, gw, gh, "slope_pct").forall(_ == 0.0))
    // trigonometric aspect: CCW-from-east math angle, zero for flat.
    // z = x rises east -> downslope vector points WEST -> atan2(0, -1)
    // = 180; z = y (y down, rises south) -> dzdy > 0 -> atan2(+, 0) = 90
    val at1 = FocalKernel.wholeGrid(zx, gw, gh, "aspect_trig")
    for (y <- 1 until gh - 1; x <- 1 until gw - 1)
      assert(math.abs(at1(y * gw + x) - 180.0) < 1e-9, s"trig east-rise ($x,$y)")
    val zy2 = Array.tabulate(gw * gh)(i => (i / gw).toDouble)
    val at2 = FocalKernel.wholeGrid(zy2, gw, gh, "aspect_trig")
    for (y <- 1 until gh - 1; x <- 1 until gw - 1)
      assert(math.abs(at2(y * gw + x) - 90.0) < 1e-9, s"trig south-rise ($x,$y)")
    assert(FocalKernel.wholeGrid(flat, gw, gh, "aspect_trig").forall(_ == 0.0))
  }

  test("Zevenbergen-Thorne kernels: plane-identical to Horn, corner-blind where Horn is not") {
    val gw = 5; val gh = 5
    // on any PLANE the 2-tap central difference equals Horn's weighted
    // gradient, so slope/aspect/hillshade agree exactly in the interior
    val zx = Array.tabulate(gw * gh)(i => (i % gw).toDouble)
    for ((hm, zm) <- Seq(("slope_deg", "slope_zt"), ("aspect_deg", "aspect_zt"),
      ("hillshade", "hillshade_zt"))) {
      val horn = FocalKernel.wholeGrid(zx, gw, gh, hm)
      val zt = FocalKernel.wholeGrid(zx, gw, gh, zm)
      for (y <- 1 until gh - 1; x <- 1 until gw - 1)
        assert(zt(y * gw + x) == horn(y * gw + x), s"$zm plane ($x,$y)")
    }
    assert(math.abs(FocalKernel.wholeGrid(zx, gw, gh, "slope_zt")(2 * gw + 2) - 45.0) < 1e-12)
    assert(math.abs(FocalKernel.wholeGrid(zx, gw, gh, "aspect_zt")(2 * gw + 2) - 270.0) < 1e-9)
    // the defining difference: a lone CORNER spike moves Horn's gradient
    // but is invisible to ZT's edge-only taps — ZT stays flat (sentinel)
    val spike = Array.fill(gw * gh)(0.0)
    spike(1 * gw + 1) = 8.0 // NW corner neighbor of center (2,2)
    val c = 2 * gw + 2
    assert(FocalKernel.wholeGrid(spike, gw, gh, "aspect_zt")(c) == -9999.0)
    assert(FocalKernel.wholeGrid(spike, gw, gh, "aspect_deg")(c) != -9999.0)
    assert(FocalKernel.wholeGrid(spike, gw, gh, "slope_zt")(c) == 0.0)
    assert(FocalKernel.wholeGrid(spike, gw, gh, "slope_deg")(c) > 0.0)
    // an EDGE spike moves ZT twice as hard as Horn (weight 1/2 vs 2/8=1/4
    // per tap... identical here: (f-d)/2 with f=8 vs (2f)/8 — ZT sees
    // gradient 4.0, Horn 2.0)
    val espike = Array.fill(gw * gh)(0.0)
    espike(2 * gw + 3) = 8.0 // E neighbor of center
    val sZt = FocalKernel.wholeGrid(espike, gw, gh, "slope_zt")(c)
    val sHorn = FocalKernel.wholeGrid(espike, gw, gh, "slope_deg")(c)
    assert(sZt == math.atan(4.0) / (math.Pi / 180.0) && sHorn == math.atan(2.0) / (math.Pi / 180.0))
  }

  test("hillshade Params: non-default alt/az/z/scale/res pin against a scalar replica") {
    val gw = 5; val gh = 5
    val p = FocalKernel.Params(ewres = 0.5, nsres = 0.5, z = 2.0, scale = 2.0,
      altDeg = 30.0, azDeg = 225.0)
    // flat raster: cang = sin(alt) -> byte floor(1 + 254*sin30 + 0.5) = 128
    val flat = Array.fill(gw * gh)(3.0)
    assert(FocalKernel.wholeGrid(flat, gw, gh, "hillshade", p).forall(_ == 128.0))
    // tilted plane z = x: replay the kernel arithmetic exactly
    val zx = Array.tabulate(gw * gh)(i => (i % gw).toDouble)
    val got = FocalKernel.wholeGrid(zx, gw, gh, "hillshade", p)(2 * gw + 2)
    val d2r = math.Pi / 180.0
    val xx = 2.0 * ((1.0 + 2.0 + 1.0) - (3.0 + 6.0 + 3.0)) / (8.0 * 0.5 * 2.0)
    val yy = 2.0 * ((1.0 + 4.0 + 3.0) - (1.0 + 4.0 + 3.0)) / (8.0 * 0.5 * 2.0)
    val slope = math.Pi / 2.0 - math.atan(math.sqrt(xx * xx + yy * yy))
    val cang = math.sin(30.0 * d2r) * math.sin(slope) +
      math.cos(30.0 * d2r) * math.cos(slope) *
        math.cos(225.0 * d2r - math.Pi / 2.0 - math.atan2(yy, xx))
    val want = if (cang <= 0.0) 1.0 else math.floor(1.0 + 254.0 * cang + 0.5)
    assert(got == want, s"$got vs $want")
    // low sun on a steep WEST-rising plane (east-facing slope, away from
    // the 225-deg sun): the cang<=0 clamp actually fires
    val steep = Array.tabulate(gw * gh)(i => -40.0 * (i % gw))
    assert(FocalKernel.wholeGrid(steep, gw, gh, "hillshade", p)(2 * gw + 2) == 1.0)
  }

  test("kernel hand-pins: flat raster and a single spike") {
    // flat 3x3=5 everywhere: TRI=0, TPI=0, roughness=0, slope=0, hillshade = flat-face value
    val flat = Array.fill(25)(5.0)
    assert(FocalKernel.wholeGrid(flat, 5, 5, "tri").forall(_ == 0.0))
    assert(FocalKernel.wholeGrid(flat, 5, 5, "tpi").forall(_ == 0.0))
    assert(FocalKernel.wholeGrid(flat, 5, 5, "roughness").forall(_ == 0.0))
    assert(FocalKernel.wholeGrid(flat, 5, 5, "slope_deg").forall(_ == 0.0))
    // flat hillshade = round(1 + 254*sin(alt=45°)) = round(1+254*0.7071) = 181
    assert(FocalKernel.wholeGrid(flat, 5, 5, "hillshade").forall(_ == 181.0))
    // multidirectional degenerates to the same value on flat terrain
    // (sin² weights sum to 2, each azimuth's cang = sin(alt))
    assert(FocalKernel.wholeGrid(flat, 5, 5, "hillshade_md").forall(_ == 181.0))
    // combined hillshade: flat → 255 ALWAYS (slope angle 0 kills the
    // acos damping term), unlike plain hillshade's alt-dependent 181 —
    // the mode's defining property
    assert(FocalKernel.wholeGrid(flat, 5, 5, "hillshade_combined").forall(_ == 255.0))
    // tilted-plane anchors (interior cells; bytes computed independently
    // from cmb = 1 − acos(cang)·slopeAng·4/π², margins ≥0.19 from the
    // rounding boundary so libm ULPs can't flip them)
    val zxPlane = Array.tabulate(25)(i => (i % 5).toDouble)
    val cz = FocalKernel.wholeGrid(zxPlane, 5, 5, "hillshade_combined")
    for (y <- 1 until 4; x <- 1 until 4)
      assert(cz(y * 5 + x) == 211.0, s"z=x combined ($x,$y): ${cz(y * 5 + x)}")
    val zyPlane = Array.tabulate(25)(i => (i / 5).toDouble)
    val cy = FocalKernel.wholeGrid(zyPlane, 5, 5, "hillshade_combined")
    for (y <- 1 until 4; x <- 1 until 4)
      assert(cy(y * 5 + x) == 140.0, s"z=y combined ($x,$y): ${cy(y * 5 + x)}")
    // spike at center of 3x3 zeros
    val spike = Array(0.0, 0.0, 0.0, 0.0, 9.0, 0.0, 0.0, 0.0, 0.0)
    val tri = FocalKernel.wholeGrid(spike, 3, 3, "tri")
    assert(tri(4) == 9.0)           // center: all 8 neighbors differ by 9
    assert(tri(0) == 9.0 / 8.0)     // corner (clamped halo): one neighbor is the spike
    val tpi = FocalKernel.wholeGrid(spike, 3, 3, "tpi")
    assert(tpi(4) == 9.0)           // 9 - mean(0)
    val rough = FocalKernel.wholeGrid(spike, 3, 3, "roughness")
    assert(rough.forall(_ == 9.0))  // every window contains the spike (clamping)
  }

  test("proximity tiled == brute force (zoom 2, 8x8 tiles, maxDist 10)") {
    val zoom = 2; val w = 8; val h = 8
    val (vals, gw, gh) = synthVals(zoom, w, h)
    val mask = (v: Double) => v < 1.0 // sparse targets
    val maxD = 10.0
    val targets = for (i <- vals.indices if mask(vals(i))) yield ((i % gw).toLong, (i / gw).toLong)
    assert(targets.nonEmpty)
    val want = (for (gy <- 0 until gh; gx <- 0 until gw) yield {
      val d2 = targets.map { case (tx2, ty2) =>
        (gx - tx2) * (gx - tx2) + (gy - ty2) * (gy - ty2)
      }.min
      ((gx.toLong, gy.toLong), d2)
    }).filter(_._2 <= maxD * maxD).toMap
    val got = Proximity.proximity(Synth.maskTiles(spark, zoom, w, h), w, h,
      1 << (zoom + 1), 1 << zoom, mask, maxD)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got.size == want.size, s"${got.size} vs ${want.size}")
    want.foreach { case (k, d2) => assert(got(k) == d2, s"pixel $k") }
  }

  test("proximityBuffer: full raster emitted, target-free tile all-nodata (LEFT join path)") {
    // hand corpus: tile (0,0) has ONE target at its top-left corner, tile
    // (1,0) has none — out of reach at maxDist 2, it must still emit all
    // 64 pixels, every one nodata
    val w = 8; val h = 8
    val t0 = Array.tabulate(w * h)(i => if (i == 0) 0.0 else 5.0)
    val t1 = Array.fill(w * h)(5.0)
    val tiles = Seq((0L, 0L, t0.toSeq), (1L, 0L, t1.toSeq)).toDF("tx", "ty", "pixels")
    val got = Proximity.proximityBuffer(tiles, w, h, 2, 1, _ < 1.0,
      maxDistPx = 2.0, bufVal = 1.0, nodata = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.size == 2 * w * h) // EVERY pixel of both tiles present
    for (gy <- 0 until h; gx <- 0 until 2 * w) {
      val want = if (gx * gx + gy * gy <= 4.0) 1.0 else 0.0
      assert(got((gx.toLong, gy.toLong)) == want, s"pixel ($gx,$gy)")
    }
    assert((8 until 16).forall(gx => got((gx.toLong, 0L)) == 0.0)) // tile 1 all-nodata
  }

  for (weighting <- Seq("mean", "idw"))
  test(s"fillNodata ($weighting) tiled == whole-grid scalar (radius halo correctness)") {
    val zoom = 2; val w = 8; val h = 8
    val (vals, gw, gh) = synthVals(zoom, w, h)
    val r = 4
    val isNd = (v: Double) => v < 1.0
    // whole-grid oracle
    val want = new Array[Double](gw * gh)
    for (gy <- 0 until gh; gx <- 0 until gw) {
      val v = vals(gy * gw + gx)
      want(gy * gw + gx) =
        if (!isNd(v)) v
        else {
          var sum = 0.0; var n = 0L
          for (dy <- -r to r; dx <- -r to r
               if dx * dx + dy * dy <= r * r && (dx != 0 || dy != 0)
               if gx + dx >= 0 && gx + dx < gw && gy + dy >= 0 && gy + dy < gh) {
            val nv = vals((gy + dy) * gw + gx + dx)
            val wgt = if (weighting == "idw") (1L << 20) / (dx * dx + dy * dy) else 1L
            if (!isNd(nv)) { sum += nv * wgt; n += wgt }
          }
          if (n == 0) v else sum / n
        }
    }
    val got = graft.operators.Raster.fillNodata(
      Synth.maskTiles(spark, zoom, w, h), w, h, 1 << (zoom + 1), 1 << zoom, isNd, r, weighting)
      .collect()
    val flat = new Array[Double](gw * gh)
    got.foreach { row =>
      val tx = row.getLong(0); val ty = row.getLong(1)
      val px = row.getSeq[Double](2)
      for (i <- px.indices)
        flat(((ty * h + i / w) * gw + tx * w + i % w).toInt) = px(i)
    }
    for (i <- flat.indices) assert(flat(i) == want(i), s"px (${i % gw},${i / gw})")
  }

  test("smoothFill tiled == whole-grid scalar; anchors never change; iterations compose") {
    val zoom = 2; val w = 8; val h = 8
    val (vals, gw, gh) = synthVals(zoom, w, h)
    val msk = vals.map(v => if (v < 1.0) 1.0 else 0.0)
    // whole-grid scalar replica of one pass (row-major left-assoc adds,
    // in-grid divisor), iterated
    def pass(cur: Array[Double]): Array[Double] = Array.tabulate(gw * gh) { i =>
      val gx = i % gw; val gy = i / gw
      if (msk(i) != 1.0) cur(i)
      else {
        var s = 0.0; var cnt = 0
        for (dy <- -1 to 1; dx <- -1 to 1) {
          val nx = gx + dx; val ny = gy + dy
          if (nx >= 0 && nx < gw && ny >= 0 && ny < gh) { s = s + cur(ny * gw + nx); cnt += 1 }
        }
        s / cnt
      }
    }
    val filled = graft.operators.Raster.fillNodata(
      Synth.maskTiles(spark, zoom, w, h), w, h, 1 << (zoom + 1), 1 << zoom, _ < 1.0, radiusPx = 4)
    // scalar fill replica to seed the expected grid
    val seed = filled
      .select(col("tx"), col("ty"), posexplode(col("pixels")).as(Seq("i", "v")))
      .collect().map(r => ((r.getLong(1) * h + r.getInt(2) / w) * gw
        + r.getLong(0) * w + r.getInt(2) % w, r.getDouble(3)))
      .sortBy(_._1).map(_._2)
    val want = pass(pass(seed))
    val withMask = filled.join(
      Synth.maskTiles(spark, zoom, w, h).select(col("tx"), col("ty"), expr(
        "transform(pixels, v -> CAST(CASE WHEN v < 1.0 THEN 1.0 ELSE 0.0 END AS DOUBLE))").as("mask")),
      Seq("tx", "ty"))
    val got = graft.operators.Focal.smoothFill(withMask, w, h, 1 << (zoom + 1), 1 << zoom, 2)
      .select(col("tx"), col("ty"), posexplode(col("pixels")).as(Seq("i", "v")))
      .collect().map(r => ((r.getLong(0) * w + r.getInt(2) % w,
        r.getLong(1) * h + r.getInt(2) / w), r.getDouble(3))).toMap
    assert(got.size == gw * gh)
    for (gy <- 0 until gh; gx <- 0 until gw) {
      val i = gy * gw + gx
      assert(got((gx.toLong, gy.toLong)) == want(i), s"pixel ($gx,$gy)")
      if (msk(i) == 0.0) assert(got((gx.toLong, gy.toLong)) == seed(i), s"anchor ($gx,$gy) moved")
    }
  }

  test("contour segments: tiled == single-giant-tile (seam correctness)") {
    val zoom = 1; val w = 8; val h = 8
    val (vals, gw, gh) = synthVals(zoom, w, h)
    val level2x = 15L // level 7.5
    val tiled = Contour.segments(Synth.maskTiles(spark, zoom, w, h), w, h,
      1 << (zoom + 1), 1 << zoom, level2x)
      .collect().map(_.toSeq).toSet
    val giant = Seq((0L, 0L, vals.toSeq)).toDF("tx", "ty", "pixels")
    val whole = Contour.segments(giant, gw, gh, 1, 1, level2x)
      .collect().map(_.toSeq).toSet
    assert(tiled == whole, s"${tiled.size} vs ${whole.size} segments; " +
      s"onlyTiled=${(tiled -- whole).take(3)} onlyWhole=${(whole -- tiled).take(3)}")
    assert(tiled.nonEmpty)
  }

  test("contour hand-pin: single high pixel yields a closed 4-segment diamond") {
    // 3x3 zeros with v(1,1)=1, level 0.5 → diamond around the center pixel
    val px = Array(0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0)
    val tiles = Seq((0L, 0L, px.toSeq)).toDF("tx", "ty", "pixels")
    val segs = Contour.segments(tiles, 3, 3, 1, 1, level2x = 1L)
    assert(segs.count() == 4)
    val stitched = Contour.stitch(segs).collect()
    assert(stitched.length == 1 && stitched.head.getAs[Long]("n_segments") == 4L)
  }

  test("contour stitch: polyline count is partitioning-independent") {
    val zoom = 1; val w = 8; val h = 8
    val segs = Contour.segments(Synth.maskTiles(spark, zoom, w, h), w, h,
      1 << (zoom + 1), 1 << zoom, level2x = 15L)
    val a = Contour.stitch(segs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Contour.stitch(segs.repartition(7)).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("contour polylines: single spike assembles into a closed diamond LINESTRING") {
    val px = Array(0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0)
    val tiles = Seq((0L, 0L, px.toSeq)).toDF("tx", "ty", "pixels")
    val segs = Contour.segments(tiles, 3, 3, 1, 1, level2x = 1L)
    val lines = Contour.polylines(segs).collect()
    assert(lines.length == 1)
    val r = lines.head
    assert(r.getAs[Long]("n_segments") == 4L)
    assert(r.getAs[Boolean]("closed"))
    val wkt = r.getAs[String]("wkt")
    // ring: 5 points, first == last, all on the diamond around (1.5, 1.5)
    val coords = wkt.stripPrefix("LINESTRING(").stripSuffix(")").split(", ")
      .map { s => val Array(x, y) = s.split(" "); (x.toDouble, y.toDouble) }
    assert(coords.length == 5 && coords.head == coords.last, wkt)
    assert(coords.distinct.length == 4, wkt)
    assert(coords.forall { case (x, y) =>
      math.abs(math.abs(x - 1.0) + math.abs(y - 1.0) - 0.5) < 1e-12 }, wkt)
  }

  test("contour polylines: tiled == single-giant-tile and partitioning-independent") {
    val zoom = 1; val w = 8; val h = 8
    val (vals, gw, gh) = synthVals(zoom, w, h)
    val level2x = 15L
    def lineSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Boolean, String)] =
      Contour.polylines(df).collect()
        .map(r => (r.getAs[Long]("n_segments"), r.getAs[Boolean]("closed"), r.getAs[String]("wkt"))).toSet
    val tiledSegs = Contour.segments(Synth.maskTiles(spark, zoom, w, h), w, h,
      1 << (zoom + 1), 1 << zoom, level2x)
    val tiled = lineSet(tiledSegs)
    val giant = lineSet(Contour.segments(
      Seq((0L, 0L, vals.toSeq)).toDF("tx", "ty", "pixels"), gw, gh, 1, 1, level2x))
    assert(tiled == giant, s"tiled ${tiled.size} vs giant ${giant.size}")
    val reparted = lineSet(tiledSegs.repartition(7))
    assert(tiled == reparted, "assembly depends on partitioning")
    assert(tiled.nonEmpty)
  }

  test("contour polylineVertices rows rebuild exactly polylines' WKT paths (q57 surface)") {
    val zoom = 1; val w = 8; val h = 8
    val level2x = 15L
    val segs = Contour.segments(Synth.maskTiles(spark, zoom, w, h), w, h,
      1 << (zoom + 1), 1 << zoom, level2x)
    val wkts = Contour.polylines(segs).collect()
      .map(r => r.getAs[Long]("polyline_id") ->
        (r.getAs[String]("wkt"), r.getAs[Boolean]("closed"))).toMap
    val verts = Contour.polylineVertices(segs).collect()
      .map(r => (r.getAs[Long]("polyline_id"), r.getAs[Long]("seq"),
        r.getAs[Long]("xn"), r.getAs[Long]("xd"),
        r.getAs[Long]("yn"), r.getAs[Long]("yd"), r.getAs[Boolean]("closed")))
      .groupBy(_._1)
    assert(verts.keySet == wkts.keySet)
    verts.foreach { case (pid, rows) =>
      val path = rows.sortBy(_._2)
        .map(v => s"${v._3.toDouble / v._4} ${v._5.toDouble / v._6}")
        .mkString("LINESTRING(", ", ", ")")
      assert(path == wkts(pid)._1, s"polyline $pid")
      assert(rows.forall(_._7 == wkts(pid)._2), s"polyline $pid closed flag")
    }
  }

  test("cutline blend: hand-pinned milli-weight ramp at the box edge") {
    import graft.functions.F
    import graft.operators.Raster
    // box [100,300)x[50,200) px at zoom 3 (the q61/q74 box 1, alone)
    val c = 45.0 / 128.0
    val cut = Seq((1L, 100L, 50L, 300L, 200L)).toDF("cut_id", "x0", "y0", "x1", "y1")
      .withColumn("geom", F.st_geomfromwkt(format_string(
        "POLYGON((%.10f %.10f, %.10f %.10f, %.10f %.10f, %.10f %.10f, %.10f %.10f))",
        lit(-180.0) + col("x0") * c, lit(90.0) - col("y0") * c,
        lit(-180.0) + col("x1") * c, lit(90.0) - col("y0") * c,
        lit(-180.0) + col("x1") * c, lit(90.0) - col("y1") * c,
        lit(-180.0) + col("x0") * c, lit(90.0) - col("y1") * c,
        lit(-180.0) + col("x0") * c, lit(90.0) - col("y0") * c)))
    val out = Raster.cutlineBlend(Synth.tiles(spark, 3), cut, "geom", zoom = 3,
        w = 64, h = 64, nxTiles = 16, nyTiles = 8, blendPx = 6)
      .select((col("tx") * 64 + col("i") % 64).as("gx"),
        (col("ty") * 64 + expr("CAST(i div 64 AS BIGINT)")).as("gy"), col("w_milli"))
    def at(gx: Long, gy: Long): Long =
      out.where(col("gx") === gx && col("gy") === gy).collect()(0).getLong(2)
    def ramp(base: Double, sign: Int, d2: Long): Long =
      math.floor(base + sign * (500.0 * math.sqrt(d2.toDouble)) / 6.0).toLong
    assert(at(200, 125) == 1000)              // deep inside
    assert(at(106, 125) == 1000)              // inside, edge distance 7 > blend
    assert(at(100, 125) == ramp(500, 1, 1))   // inside at the edge: d2=1 -> 583
    assert(at(99, 125) == ramp(500, -1, 1))   // outside at the edge: 416
    assert(at(99, 49) == ramp(500, -1, 2))    // outside diagonal corner: d2=2
    assert(at(93, 125) == 0)                  // outside, distance 7 > blend
  }
}
