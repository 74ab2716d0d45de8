package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

class CoreSpec extends AnyFunSuite {
  // seeded property loops (scalatestplus bridge unavailable offline)
  private def forSeeded(n: Int)(body: scala.util.Random => Unit): Unit = {
    val rng = new scala.util.Random(42); (0 until n).foreach(_ => body(rng))
  }

  test("ZCell pack/unpack roundtrip (property)") {
    forSeeded(500) { rng =>
      val z = rng.nextInt(21)
      val x = math.abs(rng.nextLong()) % (1L << (z + 1))
      val y = math.abs(rng.nextLong()) % math.max(1L, 1L << z)
      val c = ZCell.pack(z, x, y)
      assert(ZCell.zoom(c) == z && ZCell.tx(c) == x && ZCell.ty(c) == y)
    }
  }

  test("ZCell parent/children consistency") {
    val c = ZCell.pack(5, 13, 9)
    assert(ZCell.children(c).forall(ch => ZCell.parent(ch) == c))
  }

  test("ring r covers exactly the Chebyshev shell, disk has no duplicates") {
    val c = ZCell.pack(6, 50, 30)
    for (r <- 0 to 3) {
      val shell = ZCell.ring(c, r, colsShift = 1)
      assert(shell.distinct.length == shell.length)
      shell.foreach { s =>
        val d = math.max(math.abs(ZCell.tx(s) - 50), math.abs(ZCell.ty(s) - 30))
        assert(d == r, s"cell at chebyshev $d in ring $r")
      }
      if (r > 0) assert(shell.length == 8 * r) // interior cell, no clamping
    }
  }

  test("geodetic tile encode matches bounds") {
    forSeeded(500) { rng =>
      val lon = rng.nextDouble() * 359.98 - 179.99
      val lat = rng.nextDouble() * 179.98 - 89.99
      val z = rng.nextInt(13)
      val tx = TileMath.geoTileX(lon, z); val ty = TileMath.geoTileY(lat, z)
      val (w, s, e, n) = TileMath.geoTileBounds(z, tx, ty)
      assert(lon >= w && lon <= e, s"$lon not in [$w,$e]")
      assert(lat >= s && lat <= n, s"$lat not in [$s,$n]")
    }
  }

  test("mercator 4326<->3857 roundtrip") {
    forSeeded(500) { rng =>
      val lon = rng.nextDouble() * 358 - 179; val lat = rng.nextDouble() * 168 - 84
      val x = TileMath.lonToMercX(lon); val y = TileMath.latToMercY(lat)
      assert(math.abs(TileMath.mercXToLon(x) - lon) < 1e-9)
      assert(math.abs(TileMath.mercYToLat(y) - lat) < 1e-9)
    }
  }

  test("checksum: constant tile and known small case") {
    // 2x2 tile [1,2,3,4]: 1*1+2*2+3*3+4*4 = 30
    assert(Checksum.checksum(Array(1.0, 2.0, 3.0, 4.0), 2, 2) == 30)
    // NaN treated as 0
    assert(Checksum.checksum(Array(Double.NaN, 2.0), 2, 1) == 4)
  }

  test("mulMod61 matches BigInt") {
    forSeeded(2000) { rng =>
      val a = math.abs(rng.nextLong()) % TextCore.FpMod
      val b = math.abs(rng.nextLong()) % 100000L
      val want = (BigInt(a) * BigInt(b) % BigInt(TextCore.FpMod)).toLong
      assert(TextCore.mulMod61(a, b) == want)
    }
  }

  test("jaccard on sorted long arrays") {
    assert(TextCore.jaccard(Array(1L, 2L, 3L), Array(2L, 3L, 4L)) == 0.5)
    assert(TextCore.jaccard(Array.empty[Long], Array.empty[Long]) == 1.0)
    assert(TextCore.jaccard(Array(1L), Array(2L)) == 0.0)
  }

  test("minhash similarity approximates jaccard") {
    val a = TextCore.wordShingles("the quick brown fox jumps over the lazy dog again and again", 2)
    val b = TextCore.wordShingles("the quick brown fox jumps over the lazy cat again and again", 2)
    val trueJ = TextCore.jaccard(a, b)
    val sa = TextCore.minhash(a, 256); val sb = TextCore.minhash(b, 256)
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / 256
    assert(math.abs(est - trueJ) < 0.2, s"est $est vs true $trueJ")
  }

  test("simhash: identical texts collide, different texts differ") {
    val h1 = TextCore.simhash64("alpha beta gamma delta")
    val h2 = TextCore.simhash64("alpha beta gamma delta")
    val h3 = TextCore.simhash64("completely different words entirely")
    assert(h1 == h2)
    assert(TextCore.hamming64(h1, h3) > 4)
  }

  test("langId deterministic rules") {
    assert(TextCore.langId("the cat and the dog of a house") == "en")
    assert(TextCore.langId("der hund und die katze ist nicht") == "de")
    assert(TextCore.langId("xyzzy plugh") == "und")
  }

  test("st_buffer / st_simplify through the Column API") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.F
    // simplify: Douglas-Peucker removes exactly the collinear midpoints
    val line = Seq("LINESTRING(0 0, 1 1, 2 2, 3 3)").toDF("wkt")
      .select(F.st_astext(F.st_simplify(F.st_geomfromwkt(col("wkt")), lit(0.001))).as("s"))
      .collect()(0).getString(0)
    assert(line == "LINESTRING (0 0, 3 3)")
    // buffer: contains the original, area grows at least by perimeter*d
    val row = Seq("POLYGON((0 0, 4 0, 4 2, 0 2, 0 0))").toDF("wkt")
      .select(F.st_geomfromwkt(col("wkt")).as("g"))
      .select(F.st_buffer(col("g"), lit(0.5)).as("b"), col("g"))
      .select(F.st_area(col("b")).as("ba"),
        call_function("st_contains", col("b"), col("g")).as("cont"))
      .collect()(0)
    assert(row.getBoolean(1))
    assert(row.getDouble(0) > 8.0 + 12.0 * 0.5 && row.getDouble(0) < 8.0 + 12.0 * 0.5 + math.Pi * 0.25 + 1e-9)
  }

  test("st_makevalid repairs a bowtie into two exact triangles") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.F
    // bowtie over box (2, 3)-(9, 8): w=7, h=5 — repaired area w*h/2 = 17.5
    val row = Seq("POLYGON((2 3, 9 8, 2 8, 9 3, 2 3))").toDF("wkt")
      .select(F.st_geomfromwkt(col("wkt")).as("g"))
      .select(F.st_isvalid(col("g")).as("vb"), F.st_area(col("g")).as("ab"),
        F.st_makevalid(col("g")).as("fg"))
      .select(col("vb"), col("ab"), F.st_isvalid(col("fg")).as("va"),
        call_function("st_geometrytype", col("fg")).as("gt"),
        F.st_area(col("fg")).as("aa"))
      .collect()(0)
    assert(!row.getBoolean(0) && row.getDouble(1) == 0.0)
    assert(row.getBoolean(2) && row.getString(3) == "MULTIPOLYGON")
    assert(row.getDouble(4) == 17.5)
    // valid input passes through untouched
    val same = Seq("POLYGON((0 0, 4 0, 4 2, 0 2, 0 0))").toDF("wkt")
      .select(F.st_geomfromwkt(col("wkt")).as("g"))
      .select(F.st_astext(F.st_makevalid(col("g"))).as("t"))
      .collect()(0).getString(0)
    assert(same == "POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))")
  }

  test("UTM Krüger series: Snyder cross-check, anchors, round-trip") {
    import graft.core.Utm
    // independent forward implementation (Snyder, USGS PP 1395 eq. 8-9..8-15,
    // accuracy ~mm in-zone) — two unrelated series agreeing to < 5 mm
    // validates the Krüger coefficients; round-trip validates the inverse
    def snyder(lon: Double, lat: Double, zone: Int, north: Boolean): (Double, Double) = {
      val a = 6378137.0; val f = 1 / 298.257223563; val k0 = 0.9996
      val e2 = f * (2 - f); val ep2 = e2 / (1 - e2)
      val phi = math.toRadians(lat)
      val lam = math.toRadians(lon - (zone * 6 - 183))
      val sp = math.sin(phi); val cp = math.cos(phi)
      val nr = a / math.sqrt(1 - e2 * sp * sp)
      val t = math.tan(phi) * math.tan(phi); val c = ep2 * cp * cp
      val aa = lam * cp
      val e4 = e2 * e2; val e6 = e4 * e2
      val m = a * ((1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * phi
        - (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024) * math.sin(2 * phi)
        + (15 * e4 / 256 + 45 * e6 / 1024) * math.sin(4 * phi)
        - (35 * e6 / 3072) * math.sin(6 * phi))
      val east = 500000.0 + k0 * nr * (aa + (1 - t + c) * aa * aa * aa / 6
        + (5 - 18 * t + t * t + 72 * c - 58 * ep2) * math.pow(aa, 5) / 120)
      val nth = (if (north) 0.0 else 1e7) + k0 * (m + nr * math.tan(phi) * (aa * aa / 2
        + (5 - t + 9 * c + 4 * c * c) * math.pow(aa, 4) / 24
        + (61 - 58 * t + t * t + 600 * c - 330 * ep2) * math.pow(aa, 6) / 720))
      (east, nth)
    }
    val cases = Seq(
      (2.3522, 48.8566, 31, true),    // Paris, zone 31N
      (-73.9857, 40.7484, 18, true),  // NYC, zone 18N
      (151.2093, -33.8688, 56, false),// Sydney, zone 56S
      (18.4241, -33.9249, 34, false), // Cape Town, zone 34S
      (0.0, 0.0, 31, true),           // equator west edge of zone 31
      (5.9, 62.0, 32, true))          // high latitude, off-center
    for ((lon, lat, zone, north) <- cases) {
      val (e1, n1) = Utm.forward(lon, lat, zone, north)
      val (e2, n2) = snyder(lon, lat, zone, north)
      assert(math.abs(e1 - e2) < 0.005 && math.abs(n1 - n2) < 0.005,
        s"snyder mismatch at ($lon,$lat): ($e1,$n1) vs ($e2,$n2)")
      val (lon2, lat2) = Utm.inverse(e1, n1, zone, north)
      assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9,
        s"round-trip drift at ($lon,$lat): ($lon2,$lat2)")
    }
    // anchors: central meridian → E exactly 500000; equator north → N 0
    val (ec, nc) = Utm.forward(9.0, 45.0, 32, true)
    assert(math.abs(ec - 500000.0) < 1e-6)
    val (_, n0) = Utm.forward(8.0, 0.0, 32, true)
    assert(math.abs(n0) < 1e-6)
    // published meridian-arc anchor: k0 × (arc 0→45°) ≈ 0.9996 × 4984944.378
    assert(math.abs(nc - 0.9996 * 4984944.378) < 0.01)
  }

  test("st_transform routes UTM <-> 4326 <-> 3857") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.F
    val wkt = Seq("POINT(2.3522 48.8566)").toDF("wkt")
      .select(F.st_geomfromwkt(col("wkt")).as("g"))
    val p = wkt.select(
        F.st_transform(col("g"), lit(4326), lit(32631)).as("u"))
      .select(F.st_x(col("u")).as("e"), F.st_y(col("u")).as("n"),
        F.st_transform(F.st_point(col("e"), col("n")), lit(32631), lit(3857)).as("m"))
      .select(col("e"), col("n"), F.st_x(col("m")).as("mx"), F.st_y(col("m")).as("my"))
      .collect()(0)
    // zone 31N easting/northing of Paris should land in-zone
    assert(p.getDouble(0) > 100000 && p.getDouble(0) < 900000)
    assert(p.getDouble(1) > 5000000 && p.getDouble(1) < 6000000)
    // chained UTM→3857 equals direct 4326→3857 of the original point
    val direct = wkt.select(F.st_transform(col("g"), lit(4326), lit(3857)).as("m"))
      .select(F.st_x(col("m")), F.st_y(col("m"))).collect()(0)
    assert(math.abs(p.getDouble(2) - direct.getDouble(0)) < 1e-6)
    assert(math.abs(p.getDouble(3) - direct.getDouble(1)) < 1e-6)
  }

  test("LCC 2SP: standard-parallel scale identity, anchors, round-trip") {
    import graft.core.Lcc
    for (c <- Seq(Lcc.crs2154, Lcc.crs3978)) {
      // conformal-conic defining property: point scale k(φ) = n·ρ/(a·m) is
      // EXACTLY 1 at both standard parallels — a structural check on the
      // whole n/F/ρ constant derivation, independent of any test vector
      val (l1, l2) = if (c.epsg == 2154) (49.0, 44.0) else (49.0, 77.0)
      assert(math.abs(c.scaleFactor(l1) - 1.0) < 1e-12, s"k(φ1) != 1 for ${c.epsg}")
      assert(math.abs(c.scaleFactor(l2) - 1.0) < 1e-12, s"k(φ2) != 1 for ${c.epsg}")
      // between the parallels the cone is below scale, outside above
      assert(c.scaleFactor((l1 + l2) / 2.0) < 1.0)
      assert(c.scaleFactor(math.max(l1, l2) + 5.0) > 1.0)
      // false-origin anchor: (λ0, φ0) maps to exactly (FE, FN)
      val lat0 = if (c.epsg == 2154) 46.5 else 49.0
      val (e0, n0) = Lcc.forward(c.lon0Deg, lat0, c)
      assert(math.abs(e0 - c.fe) < 1e-6 && math.abs(n0 - c.fn) < 1e-6)
      // round-trip grid across the CRS's working area
      for (dloni <- -12 to 12 by 4; lati <- 30 to 70 by 8) {
        val lon = c.lon0Deg + dloni; val lat = lati.toDouble
        val (e, n) = Lcc.forward(lon, lat, c)
        val (lon2, lat2) = Lcc.inverse(e, n, c)
        assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9,
          s"round-trip drift at ($lon,$lat) epsg ${c.epsg}: ($lon2,$lat2)")
      }
    }
    // λ−λ0 wrap: the far side of the globe stays finite and round-trips
    val (ew, nw) = Lcc.forward(179.0, 50.0, Lcc.crs3978) // λ−λ0 = 274 → −86
    val (lonw, latw) = Lcc.inverse(ew, nw, Lcc.crs3978)
    assert(math.abs(latw - 50.0) < 1e-9 && math.abs(lonw - (179.0 - 360.0)) < 1e-9)
  }

  test("Albers: equal-area Jacobian identity, anchors, n<0 case, round-trip") {
    import graft.core.Albers
    for (c <- Seq(Albers.crs5070, Albers.crs3577)) {
      // false-origin anchor: (λ0, φ0) maps to exactly (FE, FN) = (0, 0)
      val lat0 = if (c.epsg == 5070) 23.0 else 0.0
      val (e0, n0) = Albers.forward(c.lon0Deg, lat0, c)
      assert(math.abs(e0) < 1e-6 && math.abs(n0) < 1e-6, s"origin anchor ${c.epsg}")
      // equal-area defining property: the areal scale factor of the
      // projected image is EXACTLY 1 everywhere — checked numerically via
      // a central-difference Jacobian against the ellipsoidal area element
      // dA = M·N·cosφ (a structural check on the whole n/C/ρ derivation,
      // independent of any test vector)
      val a = 6378137.0; val e2 = c.e2
      for (dlon <- Seq(-100.0, -30.0, 0.0, 40.0); lat <- Seq(-60.0, -20.0, 10.0, 45.0, 70.0)) {
        val lon = c.lon0Deg + dlon
        val h = 1e-5 // degrees
        val (exp, eyp) = Albers.forward(lon + h, lat, c)
        val (exm, eym) = Albers.forward(lon - h, lat, c)
        val (fxp, fyp) = Albers.forward(lon, lat + h, c)
        val (fxm, fym) = Albers.forward(lon, lat - h, c)
        val dXdl = (exp - exm) / (2 * h); val dYdl = (eyp - eym) / (2 * h)
        val dXdf = (fxp - fxm) / (2 * h); val dYdf = (fyp - fym) / (2 * h)
        val jac = math.abs(dXdl * dYdf - dYdl * dXdf) // m² per deg²
        val phi = math.toRadians(lat); val s = math.sin(phi)
        val w2 = 1.0 - e2 * s * s
        val bigM = a * (1.0 - e2) / (w2 * math.sqrt(w2))
        val bigN = a / math.sqrt(w2)
        val dA = bigM * bigN * math.cos(phi) * math.pow(math.Pi / 180.0, 2)
        assert(math.abs(jac / dA - 1.0) < 1e-6,
          s"areal scale != 1 at ($lon,$lat) epsg ${c.epsg}: ${jac / dA}")
      }
      // round-trip grid across the CRS's working area and beyond
      for (dloni <- -150 to 150 by 50; lati <- -75 to 75 by 25) {
        val lon0 = c.lon0Deg + dloni
        val lon = if (lon0 > 180) lon0 - 360 else if (lon0 < -180) lon0 + 360 else lon0
        val lat = lati.toDouble
        val (e, n) = Albers.forward(lon, lat, c)
        val (lon2, lat2) = Albers.inverse(e, n, c)
        assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9,
          s"round-trip drift at ($lon,$lat) epsg ${c.epsg}: ($lon2,$lat2)")
      }
      // C − n·q stays positive over the whole globe (forward never √-fails)
      for (lati <- -90 to 90 by 5) {
        val q = c.qf(math.toRadians(lati.toDouble))
        assert(c.bigC - c.n * q >= 0.0, s"C - n·q < 0 at φ=$lati epsg ${c.epsg}")
      }
    }
    // the n<0 CRS: cone constant negative, ρ0 negative, and a point far
    // west of λ0 round-trips onto the canonical (−180, 180] branch (the
    // inverse wraps its output longitude — unlike LCC's unwrapped exit,
    // pinned there; both behaviors are documented)
    assert(Albers.crs3577.n < 0 && Albers.crs3577.rho0 < 0)
    val (ew, nw) = Albers.forward(-104.9903, 39.7392, Albers.crs3577)
    val (lonw, latw) = Albers.inverse(ew, nw, Albers.crs3577)
    assert(math.abs(lonw - (-104.9903)) < 1e-9 && math.abs(latw - 39.7392) < 1e-9)
    // public-registry plausibility anchors (values from the validated
    // formula replication; magnitudes match the published CRS extents):
    // Denver in Conus Albers, Sydney in Australian Albers
    val (de, dn) = Albers.forward(-104.9903, 39.7392, Albers.crs5070)
    assert(math.abs(de - -762409.05) < 0.5 && math.abs(dn - 1893843.60) < 0.5)
    val (se, sn) = Albers.forward(151.2093, -33.8688, Albers.crs3577)
    assert(math.abs(se - 1760981.53) < 0.5 && math.abs(sn - -3828749.39) < 0.5)
  }

  test("st_union_fold: tree cascade equals pairwise reference; area/perimeter exact on the lattice") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import graft.functions.F
    // nine overlapping lattice boxes, one detached → union is a
    // MultiPolygon with a known cell count
    val wkts = (0 until 9).map { i =>
      val x = (i % 3) * 2; val y = (i / 3) * 2 // 3x3 of 3-wide boxes, overlapping
      s"POLYGON(($x $y, ${x + 3} $y, ${x + 3} ${y + 3}, $x ${y + 3}, $x $y))"
    } :+ "POLYGON((20 20, 22 20, 22 21, 20 21, 20 20))"
    val df = spark.range(0, 10).toDF("i")
      .withColumn("wkt", expr(s"element_at(array(${wkts.map("'" + _ + "'").mkString(",")}), CAST(i + 1 AS INT))"))
      .withColumn("g", call_function("st_geomfromwkt", col("wkt")))
      .agg(sort_array(collect_list(struct(col("i"), col("g")))).as("gs"))
      .select(call_function("st_union_fold", expr("transform(gs, x -> x.g)")).as("u"))
      .select(expr("st_area(u)").as("a"), expr("st_length(u)").as("l"))
    val r = df.collect()(0)
    // 3x3 grid of 3-wide boxes spaced 2 apart covers a 7x7 square = 49,
    // plus the detached 2x1 box
    assert(r.getDouble(0) == 49.0 + 2.0, s"area ${r.getDouble(0)}")
    assert(r.getDouble(1) == 28.0 + 6.0, s"perimeter ${r.getDouble(1)}")
    // pairwise reference fold on the driver must agree
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val reader = new org.locationtech.jts.io.WKTReader(gf)
    val ref = wkts.map(reader.read).reduce(_.union(_))
    assert(ref.getArea == 51.0 && ref.getLength == 34.0)
  }

  test("st_union_fold: two-level cascade equals the single-row fold on a mega-group") {
    // The q274 dissolve plan (OPTIMIZATION r6) folds tile-keyed partial
    // unions, then unions the partials — this pins cascade ≡ single fold
    // on a mega-group fixture: 240 overlapping lattice boxes in ONE
    // attribute group, partials keyed by id % 16. Union associativity +
    // exact dyadic lattice arithmetic ⇒ identical area/perimeter.
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import graft.functions.F
    val boxes = spark.range(0, 240).toDF("i")
      .withColumn("x", expr("(i % 20) * 2 + (i div 100)"))
      .withColumn("y", expr("((i div 20) % 10) * 2"))
      .withColumn("wkt", expr(
        "concat('POLYGON((', x, ' ', y, ', ', x + 3, ' ', y, ', ', " +
          "x + 3, ' ', y + 3, ', ', x, ' ', y + 3, ', ', x, ' ', y, '))')"))
      .withColumn("g", call_function("st_geomfromwkt", col("wkt")))
    val single = boxes
      .agg(sort_array(collect_list(struct(col("i"), col("g")))).as("gs"))
      .select(expr("st_area(st_union_fold(transform(gs, x -> x.g)))").as("a"),
        expr("st_length(st_union_fold(transform(gs, x -> x.g)))").as("l"))
      .collect()(0)
    val cascade = boxes
      .withColumn("sub", col("i") % 16)
      .groupBy("sub")
      .agg(sort_array(collect_list(struct(col("i"), col("g")))).as("gs"))
      .withColumn("pu", call_function("st_union_fold", expr("transform(gs, x -> x.g)")))
      .agg(sort_array(collect_list(struct(col("sub"), col("pu")))).as("ps"))
      .select(expr("st_area(st_union_fold(transform(ps, x -> x.pu)))").as("a"),
        expr("st_length(st_union_fold(transform(ps, x -> x.pu)))").as("l"))
      .collect()(0)
    assert(single.getDouble(0) == cascade.getDouble(0),
      s"area ${single.getDouble(0)} vs ${cascade.getDouble(0)}")
    assert(single.getDouble(1) == cascade.getDouble(1),
      s"perimeter ${single.getDouble(1)} vs ${cascade.getDouble(1)}")
  }

  test("topk_by_score: bounded aggregate equals the row_number window law") {
    // Pins the bruteTopK rewrite (OPTIMIZATION r6): the bounded top-k
    // aggregate must reproduce row_number() over (score desc, id asc)
    // rank-for-rank, including tie groups (equal scores break to the
    // smaller id) and groups with fewer than k rows.
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.F
    val rows = spark.range(0, 2000).toDF("id")
      .withColumn("grp", expr("id % 7"))
      .withColumn("score", expr("(id * 7919) % 101")) // many ties
    val w = Window.partitionBy("grp").orderBy(col("score").desc, col("id"))
    val ref = rows.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
      .select(col("grp"), col("rank").cast("int").as("rank"), col("id"), col("score"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val got = rows.groupBy("grp")
      .agg(call_function("topk_by_score", col("score"), col("id"), lit(5)).as("top"))
      .select(col("grp"), posexplode(col("top")).as(Seq("r0", "e")))
      .select(col("grp"), (col("r0") + 1).cast("int").as("rank"),
        col("e.neighbor_id"), col("e.score"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == ref, s"topk mismatch: extra=${got -- ref} missing=${ref -- got}")
    // under-full group: 3 rows, k = 5 — emits exactly 3, fully ranked
    val small = spark.range(0, 3).toDF("id").withColumn("score", col("id") * 10)
      .agg(call_function("topk_by_score", col("score"), col("id"), lit(5)).as("top"))
      .select(expr("transform(top, x -> x.neighbor_id)").as("ids")).collect()(0)
    assert(small.getSeq[Long](0) == Seq(2L, 1L, 0L))
  }

  test("OGRParseDate: separators, fractions, TZFlag encoding, rejection") {
    import graft.core.OgrDate
    def p(s: String) = OgrDate.parse(s)
    assert(p("2024-03-07 12:34:56") == OgrDate.Parsed(2024, 3, 7, 12, 34, 56000, 0))
    assert(p("1999/12/31 23:59:59+02:30") == OgrDate.Parsed(1999, 12, 31, 23, 59, 59000, 110))
    assert(p("2005-01-02T08:00:00Z") == OgrDate.Parsed(2005, 1, 2, 8, 0, 0, 100))
    assert(p("2012-06-15") == OgrDate.Parsed(2012, 6, 15, 0, 0, 0, 0))
    assert(p("2020-11-03 04:05:06-05:00") == OgrDate.Parsed(2020, 11, 3, 4, 5, 6000, 80))
    // fractional right-padding: .5 → 500 ms, .55 → 550, .555 → 555
    assert(p("2018-02-09 10:20:30.5+03").ssMilli == 30500)
    assert(p("2018-02-09 10:20:30.55Z").ssMilli == 30550)
    assert(p("2018-02-09 10:20:30.555").ssMilli == 30555)
    assert(p("2018-02-09 10:20:30.5+03").tzFlag == 112)
    // compact ±HHMM timezone (no colon)
    assert(p("2018-02-09 10:20:30+0230").tzFlag == 110)
    // minutes-only time (no seconds)
    assert(p("2018-02-09 10:20") == OgrDate.Parsed(2018, 2, 9, 10, 20, 0, 0))
    // single-digit month/day tolerance (the reference accepts them)
    assert(p("2018-2-9") == OgrDate.Parsed(2018, 2, 9, 0, 0, 0, 0))
    for (bad <- Seq("garbage", "2018-13-01", "2018-02-30 25:00:00", "2018-02-09x", "18-02-09"))
      intercept[IllegalArgumentException] { p(bad) }
  }

  test("OGR VRT layer: config parse (CDATA, comments), field mapping, PointFromColumns") {
    import graft.core.OgrVrt
    val xml = """<?xml version="1.0"?>
<!-- comment before root -->
<OGRVRTDataSource>
  <OGRVRTLayer name="roads">
    <SrcDataSource>a.csv</SrcDataSource>
    <Description><![CDATA[raw <text> &amp; unescaped]]></Description>
    <GeometryType>wkbPoint</GeometryType>
    <GeometryField encoding="PointFromColumns" x="px" y="py"/>
    <Field name="cls" src="road_class" type="String"/>
    <Field name="speed" type="Integer"/>
  </OGRVRTLayer>
</OGRVRTDataSource>"""
    val cfg = OgrVrt.parse(xml)
    assert(cfg.name == "roads" && cfg.srcDataSource == "a.csv")
    assert(cfg.encoding == "PointFromColumns" && cfg.xCol == "px" && cfg.yCol == "py")
    // CDATA content comes through raw — no entity unescaping inside
    assert(cfg.description.contains("raw <text> &amp; unescaped"))
    // Field without src defaults to its own name (the reference's rule)
    assert(cfg.fields == Vector(OgrVrt.FieldMap("cls", "road_class", "String"),
      OgrVrt.FieldMap("speed", "speed", "Integer")))
    val header = Array("id", "road_class", "px", "py", "speed")
    val rec = OgrVrt.csvSplit("7,\"a,b \"\"x\"\"\",1.25,-3.50,90")
    assert(rec.toSeq == Seq("7", "a,b \"x\"", "1.25", "-3.50", "90"))
    val out = OgrVrt.feature(cfg, header, rec)
    assert(out.toSeq == Seq("roads", "a,b \"x\"", "90", "POINT(1.25 -3.50)"))
    // a src column missing from the header is a loud error, not a null
    val bad = intercept[IllegalArgumentException] {
      OgrVrt.feature(cfg, Array("id", "px", "py"), Array("1", "2", "3"))
    }
    assert(bad.getMessage.contains("road_class"))
  }

  test("Hilbert curve: bijection, unit-step adjacency, locality beats Morton") {
    import graft.core.{Hilbert, ZCell}
    // bijection + round trip over the full order-4 grid (256 cells)
    val n = 4; val side = 1 << n
    val ds = for (x <- 0L until side; y <- 0L until side) yield Hilbert.xy2d(n, x, y)
    assert(ds.toSet == (0L until side.toLong * side).toSet, "xy2d is not a bijection")
    for (d <- 0L until side.toLong * side) {
      val (x, y) = Hilbert.d2xy(n, d)
      assert(Hilbert.xy2d(n, x, y) == d, s"round trip broke at d=$d")
    }
    // THE Hilbert property: consecutive indices are grid-ADJACENT
    // (|Δx|+|Δy| = 1 always); Morton's key-order walk jumps (Chebyshev
    // distance up to 2^(n-1)) at quadrant seams
    var mortonMaxJump = 0L
    for (d <- 0L until side.toLong * side - 1) {
      val (x1, y1) = Hilbert.d2xy(n, d); val (x2, y2) = Hilbert.d2xy(n, d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1, s"non-unit step at d=$d")
    }
    val mortonOrder = (for (x <- 0L until side; y <- 0L until side)
      yield ((ZCell.pack(n, x, y), x, y))).sortBy(_._1)
    for (i <- 0 until mortonOrder.length - 1) {
      val (_, x1, y1) = mortonOrder(i); val (_, x2, y2) = mortonOrder(i + 1)
      mortonMaxJump = math.max(mortonMaxJump,
        math.max(math.abs(x1 - x2), math.abs(y1 - y2)))
    }
    assert(mortonMaxJump >= (side / 2), s"expected Morton seam jumps, got $mortonMaxJump")
    // row-group envelope metric (the scan-pruning quantity): key-order
    // cells in groups of 16; sum of group bbox areas must be tighter for
    // Hilbert than Morton (strictly, on this grid)
    def envelopeArea(order: Seq[(Long, Long)]): Long =
      order.grouped(16).map { g =>
        val xs = g.map(_._1); val ys = g.map(_._2)
        (xs.max - xs.min + 1) * (ys.max - ys.min + 1)
      }.sum
    val hilbOrder = (0L until side.toLong * side).map(Hilbert.d2xy(n, _))
    val hilbArea = envelopeArea(hilbOrder)
    val mortArea = envelopeArea(mortonOrder.map(t => (t._2, t._3)))
    assert(hilbArea <= mortArea,
      s"Hilbert row-group envelopes ($hilbArea) should not exceed Morton's ($mortArea)")
    // order-8 spot anchors (the q253 grid): corners of the first quadrant walk
    assert(Hilbert.xy2d(8, 0, 0) == 0L)
    assert(Hilbert.xy2d(8, 255, 0) == (1L << 16) - 1) // curve ends at (side-1, 0)
  }

  test("st_transform routes LCC <-> 4326 and chains to mercator") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.F
    val wkt = Seq("POINT(2.3522 48.8566)").toDF("wkt")
      .select(F.st_geomfromwkt(col("wkt")).as("g"))
    val p = wkt.select(F.st_transform(col("g"), lit(4326), lit(2154)).as("u"))
      .select(F.st_x(col("u")).as("e"), F.st_y(col("u")).as("n"),
        F.st_transform(F.st_point(col("e"), col("n")), lit(2154), lit(3857)).as("m"))
      .select(col("e"), col("n"), F.st_x(col("m")).as("mx"), F.st_y(col("m")).as("my"))
      .collect()(0)
    // Paris lands in Lambert-93's metropolitan-France envelope
    assert(p.getDouble(0) > 500000 && p.getDouble(0) < 800000)
    assert(p.getDouble(1) > 6700000 && p.getDouble(1) < 7000000)
    // chained 2154→3857 equals direct 4326→3857 of the original point
    val direct = wkt.select(F.st_transform(col("g"), lit(4326), lit(3857)).as("m"))
      .select(F.st_x(col("m")), F.st_y(col("m"))).collect()(0)
    assert(math.abs(p.getDouble(2) - direct.getDouble(0)) < 1e-6)
    assert(math.abs(p.getDouble(3) - direct.getDouble(1)) < 1e-6)
  }

  test("polar stereographic B: standard-parallel scale identity, pole anchor, round-trip") {
    import graft.core.Ps
    for (c <- Seq(Ps.crs3031, Ps.crs3413)) {
      // defining property of variant B: point scale k(φ) = ρ/(a·m) is
      // EXACTLY 1 at the standard parallel — structural check on the
      // whole mF/tF/k derivation, independent of any test vector
      val latF = if (c.epsg == 3031) -71.0 else 70.0
      assert(math.abs(c.scaleFactor(latF) - 1.0) < 1e-12, s"k(φF) != 1 for ${c.epsg}")
      // scale grows away from the pole, shrinks toward it
      val toward = if (c.epsg == 3031) -85.0 else 85.0
      val away = if (c.epsg == 3031) -55.0 else 55.0
      assert(c.scaleFactor(toward) < 1.0 && c.scaleFactor(away) > 1.0)
      // the pole itself maps to the false origin exactly (t = tan(0) = 0)
      val pole = if (c.south) -90.0 else 90.0
      val (pe, pn) = Ps.forward(123.0, pole, c)
      assert(pe == c.fe && pn == c.fn)
      // axis orientation (PROJ stere convention): on the central meridian
      // at the standard parallel, E = 0 and N points away from λ0 for the
      // north aspect (N < 0), toward it for the south aspect (N > 0)
      val (e0, n0) = Ps.forward(c.lon0Deg, latF, c)
      assert(math.abs(e0) < 1e-9)
      if (c.south) assert(n0 > 2.0e6 && n0 < 2.2e6) else assert(n0 < -2.1e6 && n0 > -2.3e6)
      // round-trip grid across the CRS's working area
      val lats = if (c.epsg == 3031) -88 to -58 by 6 else 58 to 88 by 6
      for (dloni <- -170 to 170 by 35; lati <- lats) {
        val lon = c.lon0Deg + dloni; val lat = lati.toDouble
        val (e, n) = Ps.forward(lon, lat, c)
        val (lon2, lat2) = Ps.inverse(e, n, c)
        assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9,
          s"round-trip drift at ($lon,$lat) epsg ${c.epsg}: ($lon2,$lat2)")
      }
    }
    // λ−λ0 wrap for 3413 (λ0 = −45): lon 170 → λ−λ0 = 215 → −145
    val (ew, nw) = graft.core.Ps.forward(170.0, 70.0, graft.core.Ps.crs3413)
    val (lonw, latw) = graft.core.Ps.inverse(ew, nw, graft.core.Ps.crs3413)
    assert(math.abs(latw - 70.0) < 1e-9 && math.abs(lonw - (170.0 - 360.0)) < 1e-9)
  }

  test("st_transform routes polar stereo <-> 4326 and chains to mercator") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.F
    // McMurdo Station (~166.67E, 77.85S) in EPSG:3031
    val wkt = Seq("POINT(166.67 -77.85)").toDF("wkt")
      .select(F.st_geomfromwkt(col("wkt")).as("g"))
    val p = wkt.select(F.st_transform(col("g"), lit(4326), lit(3031)).as("u"))
      .select(F.st_x(col("u")).as("e"), F.st_y(col("u")).as("n"),
        F.st_transform(F.st_point(col("e"), col("n")), lit(3031), lit(3857)).as("m"))
      .select(col("e"), col("n"), F.st_x(col("m")).as("mx"), F.st_y(col("m")).as("my"))
      .collect()(0)
    // ~1350 km from the pole, in the +E (lon>0) / +N (|λ−λ0|<90 ... no:
    // cos(166.67°) < 0 → N < 0) quadrant
    val r = math.sqrt(p.getDouble(0) * p.getDouble(0) + p.getDouble(1) * p.getDouble(1))
    assert(r > 1.2e6 && r < 1.5e6)
    assert(p.getDouble(0) > 0 && p.getDouble(1) < 0)
    // chained 3031→3857 equals direct 4326→3857 of the original point
    val direct = wkt.select(F.st_transform(col("g"), lit(4326), lit(3857)).as("m"))
      .select(F.st_x(col("m")), F.st_y(col("m"))).collect()(0)
    assert(math.abs(p.getDouble(2) - direct.getDouble(0)) < 1e-6)
    assert(math.abs(p.getDouble(3) - direct.getDouble(1)) < 1e-6)
  }

  test("BNG 27700: datum-shift chain anchors, round-trip, Helmert consistency") {
    import graft.core.Bng
    // Greenwich Observatory (0E, 51.4779N WGS84) — the BNG grid ref is
    // TQ 3890 7732 (E 538900±, N 177320±); the Helmert (no OSTN grid)
    // chain must land within ~10 m of that
    val (ge, gn) = Bng.forward(0.0, 51.4779)
    assert(math.abs(ge - 538890.0) < 200.0, s"Greenwich E: $ge")
    assert(math.abs(gn - 177320.0) < 200.0, s"Greenwich N: $gn")
    // Edinburgh Castle (-3.1999, 55.9486) ~ NT 252 735 (E 325200, N 673500)
    val (ee, en) = Bng.forward(-3.1999, 55.9486)
    assert(math.abs(ee - 325200.0) < 300.0, s"Edinburgh E: $ee")
    assert(math.abs(en - 673500.0) < 300.0, s"Edinburgh N: $en")
    // round-trip across the UK window: the reverse-sign Helmert inverse
    // is sub-mm, but the Snyder forward/inverse TM series are truncated
    // at A^5/A^6 and are not exact inverses of each other — at the
    // window's far corner (Δλ = 5°) the truncation drift is ~2e-7 deg
    // (~2 cm), so the gate is 5e-7 deg (~5 cm)
    for (loni <- -7 to 1; lati <- 50 to 60 by 2) {
      val (e, n) = Bng.forward(loni.toDouble, lati.toDouble)
      val (lon2, lat2) = Bng.inverse(e, n)
      assert(math.abs(lon2 - loni) < 5e-7 && math.abs(lat2 - lati) < 5e-7,
        s"round-trip drift at ($loni,$lati): ($lon2,$lat2)")
    }
    // the datum shift is real: skipping Helmert (pure TM on WGS84 coords
    // read as OSGB36) must move the answer by the published ~50-120 m
    val phi = math.toRadians(51.4779)
    // TM on Airy applied to raw WGS84 lat/lon (wrong datum on purpose)
    val wrongChainDelta = {
      val (e2, n2) = Bng.forward(0.0, 51.4779)
      val lam = math.toRadians(0.0)
      // distance from the correct chain to the no-shift TM: reuse inverse
      // of correct then re-forward — indirect but datum-free; instead
      // check the shift magnitude via the Helmert displacement itself
      val sp = math.sin(phi); val cp = math.cos(phi)
      val nu = Bng.aW / math.sqrt(1.0 - Bng.e2W * sp * sp)
      val x = nu * cp * math.cos(lam); val y = nu * cp * math.sin(lam)
      val z = nu * (1.0 - Bng.e2W) * sp
      val dx = Bng.tx + Bng.hs * (x - Bng.rz * y + Bng.ry * z) - x
      val dy = Bng.ty + Bng.hs * (Bng.rz * x + y - Bng.rx * z) - y
      val dz = Bng.tz + Bng.hs * (-Bng.ry * x + Bng.rx * y + z) - z
      math.sqrt(dx * dx + dy * dy + dz * dz)
    }
    assert(wrongChainDelta > 400.0 && wrongChainDelta < 700.0,
      s"Helmert displacement magnitude: $wrongChainDelta")
    // st_transform routes 27700 and chains through mercator
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.F
    val r = Seq(("POINT(-0.1276 51.5072)")).toDF("wkt")
      .select(F.st_geomfromwkt(col("wkt")).as("g"))
      .select(F.st_transform(col("g"), lit(4326), lit(27700)).as("u"))
      .select(F.st_x(col("u")).as("e"), F.st_y(col("u")).as("n")).collect()(0)
    // central London grid square TQ (E 530xxx, N 180xxx)
    assert(r.getDouble(0) > 525000 && r.getDouble(0) < 535000)
    assert(r.getDouble(1) > 175000 && r.getDouble(1) < 185000)
  }

  test("curve WKT linearizes on ingest: arcs, compound, curvepolygon, multicurve") {
    import graft.core.{Arc, GeomIO}
    // half circle r=2 about (10, 5): 46 vertices (4° step), all on-circle
    val half = Arc.fromCurveWkt("CIRCULARSTRING(8 5, 10 7, 12 5)")
    assert(half.getGeometryType == "LineString")
    assert(half.getNumPoints == 46)
    half.getCoordinates.foreach { c =>
      val d = math.hypot(c.x - 10.0, c.y - 5.0)
      assert(math.abs(d - 2.0) < 1e-9, s"off-circle vertex $c")
    }
    // endpoints land exactly (axis-crossing angles are IEEE-exact)
    assert(math.abs(half.getCoordinates.head.x - 8.0) < 1e-12)
    assert(math.abs(half.getCoordinates.last.x - 12.0) < 1e-12)
    // arc length ≈ πr with the inscribed-chord deficit under 0.1%
    assert(math.abs(half.getLength - math.Pi * 2.0) / (math.Pi * 2.0) < 1e-3)
    // chained arcs: 5-point CIRCULARSTRING = two joined arcs, one shared
    // join vertex (92 - 1)
    val chain = Arc.fromCurveWkt("CIRCULARSTRING(8 5, 10 7, 12 5, 14 3, 16 5)")
    assert(chain.getNumPoints == 91)
    // COMPOUNDCURVE arc + straight segment stays connected
    val comp = Arc.fromCurveWkt("COMPOUNDCURVE(CIRCULARSTRING(0 0, 1 1, 2 0), (2 0, 4 0))")
    assert(comp.getGeometryType == "LineString")
    val cs = comp.getCoordinates
    assert(cs.last.x == 4.0 && cs.last.y == 0.0)
    // junction vertex (2,0) appears exactly once (shared endpoint deduped)
    assert(cs(cs.length - 2).distance(new org.locationtech.jts.geom.Coordinate(2, 0)) < 1e-9)
    assert(cs.count(c => c.distance(new org.locationtech.jts.geom.Coordinate(2, 0)) < 1e-9) == 1)
    // CURVEPOLYGON with a full circular ring: area ≈ πr² (inscribed
    // polygon deficit ~(2π/n)²/6 ≈ 0.3% at n≈90)
    val poly = Arc.fromCurveWkt("CURVEPOLYGON(CIRCULARSTRING(-3 0, 0 3, 3 0, 0 -3, -3 0))")
    assert(poly.getGeometryType == "Polygon")
    assert(math.abs(poly.getArea - math.Pi * 9.0) / (math.Pi * 9.0) < 0.01)
    // MULTICURVE
    val mc = Arc.fromCurveWkt("MULTICURVE(CIRCULARSTRING(0 0, 1 1, 2 0), (5 5, 6 6))")
    assert(mc.getGeometryType == "MultiLineString" && mc.getNumGeometries == 2)
    // collinear control points degrade to the 3-point polyline
    val lin = Arc.fromCurveWkt("CIRCULARSTRING(0 0, 1 1, 2 2)")
    assert(lin.getNumPoints == 3)
    // the st_geomfromwkt surface routes curve WKT (WKB round-trips)
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.F
    val n = Seq("CURVEPOLYGON(CIRCULARSTRING(-3 0, 0 3, 3 0, 0 -3, -3 0))").toDF("wkt")
      .select(F.st_geomfromwkt(col("wkt")).as("g"))
      .select(call_function("st_points", col("g")).as("p"))
      .select(size(col("p"))).collect()(0).getInt(0)
    // 46 + 45 chain vertices; the ring closure appends one more because
    // the two arc endpoints recompute from ±π angles and differ by
    // ±r·sin(π_double) ≈ 3.7e-16 in y — closeRing makes it exact
    assert(n == 92, s"full-circle ring vertex count: $n")
    // non-curve WKT still takes the JTS path untouched
    val normal = Seq("POINT(1 2)").toDF("wkt")
      .select(F.st_geomfromwkt(col("wkt")).as("g"))
      .select(F.st_x(col("g"))).collect()(0).getDouble(0)
    assert(normal == 1.0)
  }

  test("st_distance_sphere: haversine anchors, symmetry, antipodal clamp") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.F
    def d(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double =
      Seq(1).toDF("i").select(call_function("st_distance_sphere",
        F.st_point(lit(lon1), lit(lat1)), F.st_point(lit(lon2), lit(lat2))))
        .collect()(0).getDouble(0)
    val r = 6371008.8
    // 1 degree along the equator = R·π/180
    assert(math.abs(d(0, 0, 1, 0) - r * math.Pi / 180.0) < 1e-6)
    // same for latitude (great circles through poles)
    assert(math.abs(d(10, 20, 10, 21) - r * math.Pi / 180.0) < 1e-6)
    // antipodal: exactly half the circumference, min(1,·) clamp holds
    assert(math.abs(d(0, 0, 180, 0) - r * math.Pi) < 1e-6)
    // identity and symmetry
    assert(d(12.5, 47.25, 12.5, 47.25) == 0.0)
    assert(d(2, 48, -74, 41) == d(-74, 41, 2, 48))
    // Paris->NYC ~ 5837 km (great circle, mean sphere)
    assert(math.abs(d(2.3522, 48.8566, -73.9857, 40.7484) - 5.837e6) < 2e4)
  }

  test("st_dump: members in storage order; atomics dump to a singleton") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.F
    def parts(wkt: String): Seq[String] =
      Seq(wkt).toDF("w")
        .select(explode(call_function("st_dump", F.st_geomfromwkt(col("w")))).as("g"))
        .select(F.st_astext(col("g")))
        .collect().map(_.getString(0)).toSeq
    // atomic → singleton
    assert(parts("POINT(1 2)") == Seq("POINT (1 2)"))
    // MULTIPOINT keeps declaration order
    assert(parts("MULTIPOINT((3 4), (1 2), (5 6))") ==
      Seq("POINT (3 4)", "POINT (1 2)", "POINT (5 6)"))
    // MULTIPOLYGON members split with rings intact
    assert(parts("MULTIPOLYGON(((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 6 5, 6 6, 5 5)))") ==
      Seq("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "POLYGON ((5 5, 6 5, 6 6, 5 5))"))
    // heterogeneous collection: members in order, types preserved
    assert(parts("GEOMETRYCOLLECTION(POINT(9 9), LINESTRING(0 0, 1 1))") ==
      Seq("POINT (9 9)", "LINESTRING (0 0, 1 1)"))
  }

  test("q100 locationinfo: inverse geotransform + tile lookup == scalar replay, no row lost") {
    val spark = TestSpark.spark
    val df = SparkEntry.queries("q100_locationinfo")(spark, TestSpark.SfSmall)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val q = r.getLong(0)
      val x = -32.0 + ((q * 7919) % 4096).toDouble / 32.0
      val y = 64.0 - ((q * 104729) % 2048).toDouble / 32.0
      val px = math.floor((x - -32.0) / 0.5).toLong
      val py = math.floor((64.0 - y) / 0.5).toLong
      assert(r.getLong(1) == px && r.getLong(2) == py, s"q=$q pixel/line")
      val v = (((px / 8) * 131 + (py / 8) * 173 + (px % 8) * 7 + (py % 8) * 11) % 16).toDouble
      assert(r.getDouble(3) == v, s"q=$q value")
    }
    // the tile join must resolve every point to exactly one pixel
    val n = spark.read.parquet(s"${TestSpark.SfSmall}/customer.parquet").count()
    assert(rows.length.toLong == n)
  }

  test("q102 translate -scale/-exponent: endpoints exact, interior == StrictMath replica") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("q102_translate_scale")(spark, TestSpark.SfSmall).collect()
    assert(rows.length == 64 * 32)
    def pix(gx: Long, gy: Long): Double =
      (((gx / 8) * 131 + (gy / 8) * 173 + (gx % 8) * 7 + (gy % 8) * 11) % 16).toDouble
    def scale(x: Double, sMin: Double, sMax: Double,
              dMin: Double, dMax: Double, e: Double): Long = {
      val out = if (x <= sMin) dMin else if (x >= sMax) dMax
        else dMin + (dMax - dMin) *
          StrictMath.exp(e * StrictMath.log((x - sMin) / (sMax - sMin)))
      math.floor(out * 1000.0 + 0.5).toLong
    }
    rows.foreach { r =>
      val x = pix(r.getLong(0), r.getLong(1))
      assert(r.getLong(2) == scale(x, 0.0, 15.0, 0.0, 255.0, 1.5), s"full v=$x")
      assert(r.getLong(3) == scale(x, 2.0, 13.0, 10.0, 250.0, 0.8), s"clamp v=$x")
    }
    // endpoint / saturation anchors: 0 → dst_min, 15 → dst_max, and the
    // clamping band pins 0..2 to 10 000 and 13..15 to 250 000 milli
    val byV = rows.map(r => (pix(r.getLong(0), r.getLong(1)),
      (r.getLong(2), r.getLong(3)))).toMap
    assert(byV(0.0) == ((0L, 10000L)) && byV(15.0) == ((255000L, 250000L)))
    assert(byV(1.0)._2 == 10000L && byV(14.0)._2 == 250000L)
  }

  test("q103 clipsrc: inside kept whole, partials clipped exactly, outside dropped") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.F
    val clip = "POLYGON((0.125 0.125, 256.125 0.125, 256.125 128.125, " +
      "0.125 128.125, 0.125 0.125))"
    def clipBox(wkt: String): Option[(Double, Double, Double, Double, Double)] =
      Seq(wkt).toDF("w")
        .withColumn("c", call_function("st_intersection",
          call_function("st_geomfromwkt", col("w")),
          call_function("st_geomfromwkt", lit(clip))))
        .where(!call_function("st_isempty", col("c")))
        .select(call_function("st_area", col("c")),
          call_function("st_env_bounds", col("c")))
        .collect().headOption.map { r =>
          val e = r.getSeq[Double](1)
          (r.getDouble(0), e(0), e(1), e(2), e(3))
        }
    // fully inside: geometry passes through bit-exact
    assert(clipBox("POLYGON((10 10, 14.25 10, 14.25 13.5, 10 13.5, 10 10))")
      .contains((4.25 * 3.5, 10.0, 10.0, 14.25, 13.5)))
    // straddling the left clip edge: xmin snaps to the window's 0.125
    assert(clipBox("POLYGON((-2 5, 3 5, 3 9, -2 9, -2 5))")
      .contains(((3.0 - 0.125) * 4.0, 0.125, 5.0, 3.0, 9.0)))
    // corner overlap at the window's top-right
    assert(clipBox("POLYGON((255 127, 300 127, 300 200, 255 200, 255 127))")
      .contains(((256.125 - 255.0) * (128.125 - 127.0), 255.0, 127.0, 256.125, 128.125)))
    // fully outside: the feature is dropped, not emitted empty
    assert(clipBox("POLYGON((300 5, 305 5, 305 9, 300 9, 300 5))").isEmpty)
  }

  test("Codec.identify: magic-byte signatures, total on foreign bytes") {
    import graft.core.Codec
    assert(Codec.identify(Codec.encodeGray(Array.fill(16)(7), 4, 4, "png")) == "png")
    assert(Codec.identify(Codec.encodeGray(Array.fill(16)(7), 4, 4, "tiff")) == "tiff")
    assert(Codec.identify(Codec.encodeJpegGray(Array.fill(16)(7), 4, 4)) == "jpeg")
    assert(Codec.identify("GIF89a".getBytes) == "gif")
    assert(Codec.identify(Array[Byte]('B', 'M', 0, 0)) == "bmp")
    assert(Codec.identify("not an image".getBytes) == "unknown")
    assert(Codec.identify(Array.emptyByteArray) == "unknown")
    assert(Codec.identify(Array[Byte](0x89.toByte)) == "unknown") // truncated header
  }

  test("st_wrapdateline: passthrough / split / pure-shift; split conserves area") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.F
    def parts(wkt: String): Seq[(Double, Double, Double, Double, Double)] =
      Seq(wkt).toDF("w")
        .select(posexplode(call_function("st_wrapdateline",
          call_function("st_geomfromwkt", col("w")))).as(Seq("i", "g")))
        .orderBy("i")
        .select(call_function("st_env_bounds", col("g")),
          call_function("st_area", col("g")))
        .collect().map { r =>
          val e = r.getSeq[Double](0); (e(0), e(1), e(2), e(3), r.getDouble(1))
        }.toSeq
    // fully west of 180: untouched singleton
    assert(parts("POLYGON((170 10, 175 10, 175 12, 170 12, 170 10))") ==
      Seq((170.0, 10.0, 175.0, 12.0, 10.0)))
    // straddling: west part clamped at 180, east part shifted to −180
    assert(parts("POLYGON((178 0, 183 0, 183 2, 178 2, 178 0))") ==
      Seq((178.0, 0.0, 180.0, 2.0, 4.0), (-180.0, 0.0, -177.0, 2.0, 6.0)))
    // fully east: single shifted part
    assert(parts("POLYGON((181 -5, 184 -5, 184 -3, 181 -3, 181 -5))") ==
      Seq((-179.0, -5.0, -176.0, -3.0, 6.0)))
    // non-rectangular crossing: two parts, areas sum to the original
    // (intersection vertices on x=180 interpolate, so compare within 1e-9)
    val tri = parts("POLYGON((176 0, 184 0, 176 8, 176 0))")
    assert(tri.length == 2)
    assert(math.abs(tri.map(_._5).sum - 32.0) < 1e-9)
  }

  test("GeoJson: write/parse round-trip across all seven types; formatting contract") {
    import graft.core.{GeoJson, GeomIO}
    def rt(wkt: String): Unit = {
      val g = GeomIO.fromWkt(wkt)
      val back = GeoJson.parse(GeoJson.write(g))
      assert(back.equalsExact(g), s"round-trip of $wkt:\n${GeoJson.write(g)}")
    }
    rt("POINT(3 4)")
    rt("LINESTRING(0 0, 1.25 2.5, -3 4)")
    rt("POLYGON((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))")
    rt("MULTIPOINT((1 2), (3.5 -4))")
    rt("MULTILINESTRING((0 0, 1 1), (2 2, 3 3, 4 4))")
    rt("MULTIPOLYGON(((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))")
    rt("GEOMETRYCOLLECTION(POINT(1 2), LINESTRING(0 0, 1 1), POLYGON((0 0, 1 0, 1 1, 0 0)))")
    // formatting contract: integers print bare, fractions as shortest decimals
    assert(GeoJson.write(GeomIO.point(3.0, -4.0)) ==
      """{"type":"Point","coordinates":[3,-4]}""")
    assert(GeoJson.write(GeomIO.point(3.25, 0.5)) ==
      """{"type":"Point","coordinates":[3.25,0.5]}""")
    // parser tolerance: member order, whitespace, foreign members, escapes
    val p = GeoJson.parse(
      """ { "bbox" : [0, 0, 9, 9], "coordinates" : [ 1.5 , 2 ] ,
            "name": "a\"bA", "type" : "Point" } """)
    assert(p.equalsExact(GeomIO.point(1.5, 2.0)))
    // z-coordinate present in input → ignored (RFC allows, we read x/y)
    val pz = GeoJson.parse("""{"type":"Point","coordinates":[1,2,3]}""")
    assert(pz.equalsExact(GeomIO.point(1.0, 2.0)))
    // malformed inputs raise, not corrupt
    intercept[Exception](GeoJson.parse("""{"type":"Point"}"""))
    intercept[Exception](GeoJson.parse("""{"type":"Nope","coordinates":[1,2]}"""))
    intercept[Exception](GeoJson.parse("""{"type":"Point","coordinates":[1,2]} x"""))
  }

  test("st_segmentize: interior vertices inserted, originals kept bit-exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.F
    def pts(wkt: String, ml: Double): Seq[(Double, Double)] =
      Seq(wkt).toDF("w")
        .select(call_function("st_points", call_function("st_segmentize",
          F.st_geomfromwkt(col("w")), lit(ml))).as("p"))
        .collect()(0).getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getDouble(0), r.getDouble(1)))
    // exact division: 3/1 → vertices at 0,1,2,3
    assert(pts("LINESTRING(0 0, 3 0)", 1.0) ==
      Seq((0.0, 0.0), (1.0, 0.0), (2.0, 0.0), (3.0, 0.0)))
    // non-dividing: ceil(3/0.9)=4 → quarter points, endpoint exact
    assert(pts("LINESTRING(0 0, 3 0)", 0.9) ==
      Seq((0.0, 0.0), (0.75, 0.0), (1.5, 0.0), (2.25, 0.0), (3.0, 0.0)))
    // segment shorter than maxLen: untouched
    assert(pts("LINESTRING(0 0, 3 0)", 5.0) == Seq((0.0, 0.0), (3.0, 0.0)))
    // polygon ring densifies but area/validity are invariant
    val row = Seq("POLYGON((0 0, 8 0, 8 4, 0 4, 0 0))").toDF("w")
      .select(call_function("st_segmentize", F.st_geomfromwkt(col("w")), lit(1.0)).as("g"))
      .select(F.st_area(col("g")).as("a"), F.st_isvalid(col("g")).as("v"),
        size(call_function("st_points", col("g"))).as("n")).collect()(0)
    assert(row.getDouble(0) == 32.0 && row.getBoolean(1))
    assert(row.getInt(2) == 25) // perimeter 24 at step 1 + closing vertex
    // point passes through
    val p = Seq("POINT(2 3)").toDF("w")
      .select(F.st_astext(call_function("st_segmentize", F.st_geomfromwkt(col("w")), lit(0.5))))
      .collect()(0).getString(0)
    assert(p == "POINT (2 3)")
  }

  test("linear referencing: interpolate/locate/substring/length (ogrlineref)") {
    import graft.functions.LineRefOps
    val cs = GeomIO.fromWkt("LINESTRING(0 0, 3 0, 3 4)").getCoordinates
    // length: 3 + 4 = 7 exactly
    assert(LineRefOps.totalLen(cs) == 7.0)
    // interpolate: clamps, segment pick, exact-vertex landing
    assert(LineRefOps.interpolate(cs, 0.0) == ((0.0, 0.0)))
    assert(LineRefOps.interpolate(cs, -1.0) == ((0.0, 0.0)))
    assert(LineRefOps.interpolate(cs, 1.5) == ((1.5, 0.0)))
    assert(LineRefOps.interpolate(cs, 3.0) == ((3.0, 0.0))) // first segment wins d == l1
    assert(LineRefOps.interpolate(cs, 5.0) == ((3.0, 2.0)))
    assert(LineRefOps.interpolate(cs, 99.0) == ((3.0, 4.0)))
    // locate: per-segment projection, strict-< argmin keeps FIRST on ties
    assert(LineRefOps.locate(cs, 1.5, 1.0) == 1.5 / 7.0)
    assert(LineRefOps.locate(cs, 4.0, 2.0) == (3.0 + 4.0 * 0.5) / 7.0)
    assert(LineRefOps.locate(cs, -5.0, -5.0) == 0.0)   // clamp t<0 on seg 1
    assert(LineRefOps.locate(cs, 3.0, 9.0) == 1.0)     // clamp t>1 on last seg
    assert(LineRefOps.locate(cs, 3.0, 0.0) == 3.0 / 7.0) // shared vertex: d2==0 twice, first wins
    // substring: endpoints interpolate, interior originals copy, no dedup
    def subXY(d0: Double, d1: Double): Seq[(Double, Double)] =
      LineRefOps.substring(cs, d0, d1).toSeq.map(c => (c.x, c.y))
    assert(subXY(0.0, 7.0) == Seq((0.0, 0.0), (3.0, 0.0), (3.0, 4.0)))
    assert(subXY(1.0, 5.0) == Seq((1.0, 0.0), (3.0, 0.0), (3.0, 2.0)))
    assert(subXY(2.0, 2.0) == Seq((2.0, 0.0), (2.0, 0.0))) // degenerate window
    assert(subXY(4.0, 6.0) == Seq((3.0, 1.0), (3.0, 3.0))) // within one segment
    intercept[IllegalArgumentException](LineRefOps.substring(cs, 5.0, 1.0))

    // distributed q106/q107 rows replay EXACTLY against the scalar ops
    val spark = TestSpark.spark
    val q106 = SparkEntry.queries("q106_lineref")(spark, TestSpark.SfSmall)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val q107 = SparkEntry.queries("q107_line_substring")(spark, TestSpark.SfSmall)
      .collect().groupBy(_.getLong(0))
    assert(q106.nonEmpty && q107.nonEmpty)
    val qids: Set[Long] = q106.keysIterator.map(_._1).take(200).toSet
    for (qid <- qids) {
      val ax = ((qid * 7919) % 1024).toDouble / 64.0
      val ay = ((qid * 104729) % 1024).toDouble / 64.0
      val bx = ax + 1.0 + (qid % 13).toDouble / 2.0
      val by = ay + (qid % 7).toDouble / 4.0
      val cx = bx - (qid % 5).toDouble / 2.0
      val cy = by + 2.0 + (qid % 11).toDouble / 8.0
      val step = 0.5 + (qid % 4).toDouble / 8.0
      val lcs = GeomIO.fromWkt(s"LINESTRING($ax $ay, $bx $by, $cx $cy)").getCoordinates
      val tot = LineRefOps.totalLen(lcs)
      val loc = LineRefOps.locate(lcs, ax + 1.0, ay + 2.0)
      val nK = math.floor(tot / step).toLong
      for (k <- 0L to nK) {
        val (ex, ey) = LineRefOps.interpolate(lcs, k.toDouble * step)
        val (gx, gy, gl) = q106((qid, k))
        assert(gx == ex && gy == ey && gl == loc, s"q106 qid=$qid k=$k")
      }
      assert(!q106.contains((qid, nK + 1)), s"milepost overrun qid=$qid")
      val want = LineRefOps.substring(lcs, tot * 0.25, tot * 0.75)
      val got = q107(qid).sortBy(_.getLong(1)).map(r => (r.getDouble(2), r.getDouble(3)))
      assert(got.toSeq == want.toSeq.map(c => (c.x, c.y)), s"q107 qid=$qid")
    }
  }

  test("layer identity pieces: corner L, strip collapse, inside-drop, outside passthrough") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.F
    def pieces(aw: String, bw: String): Map[String, (Double, Double, Double, Double, Double)] =
      Seq((aw, bw)).toDF("aw", "bw")
        .select(explode(array(
          struct(lit("int").as("kind"),
            call_function("st_intersection", F.st_geomfromwkt(col("aw")), F.st_geomfromwkt(col("bw"))).as("g")),
          struct(lit("diff").as("kind"),
            call_function("st_difference", F.st_geomfromwkt(col("aw")), F.st_geomfromwkt(col("bw"))).as("g")))).as("p"))
        .where(!call_function("st_isempty", col("p.g")))
        .select(col("p.kind"), F.st_area(col("p.g")).as("a"),
          call_function("st_env_bounds", col("p.g")).as("e"))
        .collect().map { r =>
          val e = r.getSeq[Double](2)
          r.getString(0) -> ((r.getDouble(1), e(0), e(1), e(2), e(3)))
        }.toMap
    def box(x0: Double, y0: Double, x1: Double, y1: Double): String =
      s"POLYGON(($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"
    // corner overlap: diff is an L keeping a's FULL envelope
    val corner = pieces(box(0, 0, 4, 4), box(2.125, 2.125, 10, 10))
    assert(corner("int") == ((1.875 * 1.875, 2.125, 2.125, 4.0, 4.0)))
    assert(corner("diff") == ((16.0 - 1.875 * 1.875, 0.0, 0.0, 4.0, 4.0)))
    // full vertical strip covered: diff envelope collapses on that side
    val strip = pieces(box(0, 0, 4, 4), box(2.125, -1, 10, 10))
    assert(strip("diff") == ((2.125 * 4.0, 0.0, 0.0, 2.125, 4.0)))
    // a fully inside b: only the int piece survives
    val inside = pieces(box(0, 0, 4, 4), box(-0.875, -0.875, 10, 10))
    assert(!inside.contains("diff") && inside("int") == ((16.0, 0.0, 0.0, 4.0, 4.0)))
    // disjoint: only the full-area diff survives
    val outside = pieces(box(0, 0, 4, 4), box(6.125, 6.125, 10, 10))
    assert(!outside.contains("int") && outside("diff") == ((16.0, 0.0, 0.0, 4.0, 4.0)))
  }

  test("KML: write/parse round-trips, reader tolerance, number contract") {
    import graft.core.Kml
    def rt(wkt: String): Unit = {
      val g = GeomIO.fromWkt(wkt)
      val back = Kml.parse(Kml.write(g))
      assert(back.equalsExact(g), s"$wkt -> ${Kml.write(g)} -> $back")
    }
    rt("POINT (3 4.25)")
    rt("LINESTRING (0 0, 1.5 2, 3 0)")
    rt("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2))")
    rt("MULTIPOINT ((1 2), (3 4))")
    rt("MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))")
    rt("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 10, 12 10, 12 12, 10 12, 10 10)))")
    // mixed collection stays a collection
    val mixed = GeomIO.fromWkt("GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))")
    val backMixed = Kml.parse(Kml.write(mixed))
    assert(backMixed.getGeometryType == "GeometryCollection" && backMixed.equalsExact(mixed))
    // number contract: integers bare, fractions shortest-round-trip
    assert(Kml.write(GeomIO.point(3.0, 4.25)) ==
      "<Point><coordinates>3,4.25</coordinates></Point>")
    // reader tolerance: prolog, comments, attributes, namespace prefixes,
    // altitude in tuples, unknown children, arbitrary whitespace
    val tolerant = Kml.parse(
      """<?xml version="1.0" encoding="UTF-8"?>
        |<!-- a comment -->
        |<kml:Point xmlns:kml="http://www.opengis.net/kml/2.2" id="p1">
        |  <extrude>1</extrude><altitudeMode>clampToGround</altitudeMode>
        |  <kml:coordinates> 3,4.25,99 </kml:coordinates>
        |</kml:Point>""".stripMargin)
    assert(tolerant.equalsExact(GeomIO.point(3.0, 4.25)))
    val lineWs = Kml.parse(
      "<LineString><coordinates>0,0\n\t 1,1 \n 2,0</coordinates></LineString>")
    assert(lineWs.equalsExact(GeomIO.fromWkt("LINESTRING (0 0, 1 1, 2 0)")))
    // CDATA-wrapped coordinates (ADVICE r4): raw text, no entity unescape
    val cdata = Kml.parse(
      "<Point><coordinates><![CDATA[3,4.25]]></coordinates></Point>")
    assert(cdata.equalsExact(GeomIO.point(3.0, 4.25)))
    val cdataMix = Kml.parse(
      "<LineString><coordinates>0,0 <![CDATA[1,1]]> 2,0</coordinates></LineString>")
    assert(cdataMix.equalsExact(GeomIO.fromWkt("LINESTRING (0 0, 1 1, 2 0)")))
    intercept[Exception](Kml.parse(
      "<Point><coordinates><![CDATA[1,2</coordinates></Point>")) // unterminated
    // self-closing unknown child + homogeneous promotion to MultiPoint
    val promoted = Kml.parse(
      """<MultiGeometry><extrude/>
        |<Point><coordinates>1,2</coordinates></Point>
        |<Point><coordinates>3,4</coordinates></Point></MultiGeometry>""".stripMargin)
    assert(promoted.getGeometryType == "MultiPoint" &&
      promoted.equalsExact(GeomIO.fromWkt("MULTIPOINT ((1 2), (3 4))")))
    // malformed inputs raise, not corrupt
    intercept[Exception](Kml.parse("<Point><coordinates></coordinates></Point>"))
    intercept[Exception](Kml.parse("<Point><coordinates>1,2</coordinates></Line>"))
    intercept[Exception](Kml.parse("<Point><coordinates>1,2</coordinates></Point> junk"))
    intercept[Exception](Kml.parse("<Nope><coordinates>1,2</coordinates></Nope>"))
  }

  test("GML: write/parse round-trips, member wrappers, GML-3 read tolerance") {
    import graft.core.Gml
    def rt(wkt: String): Unit = {
      val g = GeomIO.fromWkt(wkt)
      val back = Gml.parse(Gml.write(g))
      assert(back.equalsExact(g), s"$wkt -> ${Gml.write(g)} -> $back")
    }
    rt("POINT (3 4.25)")
    rt("LINESTRING (0 0, 1.5 2, 3 0)")
    rt("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2))")
    rt("MULTIPOINT ((1 2), (3 4))")
    rt("MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))")
    rt("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 10, 12 10, 12 12, 10 12, 10 10)))")
    val mixed = GeomIO.fromWkt("GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))")
    val backMixed = Gml.parse(Gml.write(mixed))
    assert(backMixed.getGeometryType == "GeometryCollection" && backMixed.equalsExact(mixed))
    // exact writer form: gml: prefixes, member wrappers, number contract
    assert(Gml.write(GeomIO.point(3.0, 4.25)) ==
      "<gml:Point><gml:coordinates>3,4.25</gml:coordinates></gml:Point>")
    assert(Gml.write(GeomIO.fromWkt("MULTIPOINT ((1 2))")) ==
      "<gml:MultiPoint><gml:pointMember><gml:Point><gml:coordinates>1,2" +
        "</gml:coordinates></gml:Point></gml:pointMember></gml:MultiPoint>")
    // reader tolerance: srsName attributes, prefixes, prolog; members
    // WITHOUT their wrapper; GML 3 posList + exterior synonyms
    val tolerant = Gml.parse(
      """<?xml version="1.0"?>
        |<gml:Point srsName="EPSG:4326"><gml:coordinates>3,4.25</gml:coordinates></gml:Point>""".stripMargin)
    assert(tolerant.equalsExact(GeomIO.point(3.0, 4.25)))
    val unwrapped = Gml.parse(
      "<MultiPoint><Point><coordinates>1,2</coordinates></Point>" +
        "<Point><coordinates>3,4</coordinates></Point></MultiPoint>")
    assert(unwrapped.equalsExact(GeomIO.fromWkt("MULTIPOINT ((1 2), (3 4))")))
    val gml3 = Gml.parse(
      "<Polygon><exterior><LinearRing><posList>0 0 4 0 4 4 0 4 0 0</posList>" +
        "</LinearRing></exterior></Polygon>")
    assert(gml3.equalsExact(GeomIO.fromWkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")))
    // malformed inputs raise, not corrupt
    intercept[Exception](Gml.parse("<Point><coordinates></coordinates></Point>"))
    intercept[Exception](Gml.parse("<Point><coordinates>1,2</coordinates></Point> junk"))
    intercept[Exception](Gml.parse("<Polygon><LinearRing><posList>0 0 1</posList></LinearRing></Polygon>"))
  }

  test("GPX: write/parse round-trips, attribute coordinates, route read") {
    import graft.core.Gpx
    def rt(wkt: String): Unit = {
      val g = GeomIO.fromWkt(wkt)
      val back = Gpx.parse(Gpx.write(g))
      assert(back.equalsExact(g), s"$wkt -> ${Gpx.write(g)} -> $back")
    }
    rt("POINT (3 4.25)")
    rt("LINESTRING (0 0, 1.5 2, 3 0)")
    rt("MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))")
    rt("MULTIPOINT ((1 2), (3 4))")
    // exact writer form: lat/lon ATTRIBUTES (lat = y first), fmt contract
    assert(Gpx.write(GeomIO.point(3.0, 4.25)) == """<wpt lat="4.25" lon="3"/>""")
    assert(Gpx.write(GeomIO.fromWkt("LINESTRING (0 0, 1 1)")) ==
      """<trk><trkseg><trkpt lat="0" lon="0"/><trkpt lat="1" lon="1"/></trkseg></trk>""")
    // documented divergence: a single waypoint inside <gpx> reads as
    // MultiPoint (the waypoint LAYER), so MULTIPOINT((1 2)) round-trips
    val single = Gpx.parse(Gpx.write(GeomIO.fromWkt("MULTIPOINT ((1 2))")))
    assert(single.getGeometryType == "MultiPoint")
    // reader tolerance: prolog, namespace attrs, name/ele/time children,
    // expanded (non-self-closing) trkpt, entity-escaped attribute values
    val tolerant = Gpx.parse(
      """<?xml version="1.0" encoding="UTF-8"?>
        |<gpx version="1.1" creator="test" xmlns="http://www.topografix.com/GPX/1/1">
        |  <wpt lat="4.25" lon="3"><name>A &amp; B</name><ele>12.5</ele></wpt>
        |</gpx>""".stripMargin)
    assert(tolerant.equalsExact(GeomIO.fromWkt("MULTIPOINT ((3 4.25))")))
    val track = Gpx.parse(
      """<trk><name>t</name><trkseg>
        |<trkpt lat="0" lon="0"><ele>1</ele><time>2020-01-01T00:00:00Z</time></trkpt>
        |<trkpt lat="1" lon="2"/>
        |</trkseg></trk>""".stripMargin)
    assert(track.equalsExact(GeomIO.fromWkt("LINESTRING (0 0, 2 1)")))
    // routes read as LineStrings (OGR's rte mapping)
    val route = Gpx.parse("""<rte><rtept lat="0" lon="0"/><rtept lat="3" lon="4"/></rte>""")
    assert(route.equalsExact(GeomIO.fromWkt("LINESTRING (0 0, 4 3)")))
    // mixed gpx content falls back to GeometryCollection
    val mixed = Gpx.parse(
      """<gpx><wpt lat="1" lon="1"/><trk><trkseg><trkpt lat="0" lon="0"/>
        |<trkpt lat="1" lon="1"/></trkseg></trk></gpx>""".stripMargin)
    assert(mixed.getGeometryType == "GeometryCollection" && mixed.getNumGeometries == 2)
    // malformed inputs raise, not corrupt
    intercept[Exception](Gpx.parse("""<wpt lon="3"/>"""))
    intercept[Exception](Gpx.parse("<trk></trk>"))
    intercept[Exception](Gpx.parse("""<wpt lat="1" lon="2"/> junk"""))
    intercept[Exception](Gpx.parse("""<nope lat="1" lon="2"/>"""))
  }

  test("MIF: write/parse round-trips, LINE form, style tolerance") {
    import graft.core.Mif
    def rt(wkt: String): Unit = {
      val g = GeomIO.fromWkt(wkt)
      val back = Mif.parse(Mif.write(g))
      assert(back.equalsExact(g), s"$wkt -> ${Mif.write(g)} -> $back")
    }
    rt("POINT (3 4.25)")
    rt("LINESTRING (0 0, 1.5 2, 3 0)")
    rt("MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))")
    rt("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))")
    // exact writer form (keyword + bare x y lines, fmt contract)
    assert(Mif.write(GeomIO.point(3.0, 4.25)) == "POINT 3 4.25")
    assert(Mif.write(GeomIO.fromWkt("LINESTRING (0 0, 1 1)")) ==
      "PLINE 2\n0 0\n1 1")
    // reader tolerance: the two-point LINE special form; style clauses
    val seg = Mif.parse("LINE 0 0 4 3")
    assert(seg.equalsExact(GeomIO.fromWkt("LINESTRING (0 0, 4 3)")))
    val styled = Mif.parse("PLINE 2\n0 0\n1 1\nPEN (1,2,0) SMOOTH")
    assert(styled.equalsExact(GeomIO.fromWkt("LINESTRING (0 0, 1 1)")))
    // unclosed REGION rings close on read (MIF permits the omission)
    val open = Mif.parse("REGION 1\n4\n0 0\n4 0\n4 4\n0 4")
    assert(open.equalsExact(GeomIO.fromWkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")))
    // malformed inputs raise, not corrupt
    intercept[Exception](Mif.parse("PLINE 3\n0 0\n1 1"))
    intercept[Exception](Mif.parse("CIRCLE 0 0 5"))
    intercept[Exception](Mif.parse("POINT 1 2 junk"))
  }

  test("DXF: write/parse round-trips, code tolerance, file wrapper") {
    import graft.core.Dxf
    def rt(wkt: String): Unit = {
      val g = GeomIO.fromWkt(wkt)
      val back = Dxf.parse(Dxf.write(g))
      assert(back.equalsExact(g), s"$wkt -> ${Dxf.write(g)} -> $back")
    }
    rt("POINT (3 4.25)")
    rt("LINESTRING (0 0, 4 3)")                       // LINE special form
    rt("LINESTRING (0 0, 1.5 2, 3 0)")                // open LWPOLYLINE
    rt("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))")         // closed LWPOLYLINE
    // exact writer form (group-code/value line pairs, unpadded codes)
    assert(Dxf.write(GeomIO.point(3.0, 4.25)) ==
      "0\nPOINT\n8\n0\n10\n3\n20\n4.25")
    assert(Dxf.write(GeomIO.fromWkt("LINESTRING (0 0, 1 1)")) ==
      "0\nLINE\n8\n0\n10\n0\n20\n0\n11\n1\n21\n1")
    // reader tolerance: right-aligned codes (the reference's 3-char
    // padding) and unknown group codes (62 color) are skipped
    val padded = Dxf.parse("  0\nPOINT\n  8\n0\n 62\n5\n 10\n3\n 20\n4")
    assert(padded.equalsExact(GeomIO.point(3.0, 4.0)))
    // whole-file wrapper: SECTION/ENTITIES skeleton, multiple entities
    val gs = Seq(GeomIO.point(1.0, 2.0),
      GeomIO.fromWkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"))
    val back = Dxf.parseFile(Dxf.writeFile(gs))
    assert(back.length == 2 && back.zip(gs).forall { case (a, b) => a.equalsExact(b) })
    // profile limits raise, not corrupt
    intercept[Exception](Dxf.write(GeomIO.fromWkt(
      "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))")))
    intercept[Exception](Dxf.parse("0\nCIRCLE\n10\n0\n20\n0\n40\n5"))
    intercept[Exception](Dxf.parse("0\nLINE\n10\n0\n20\n0"))
    // malformed coordinate pairing raises a DXF-level error, not a raw
    // index/JTS exception: unpaired 10/20; 2-vertex closed polyline
    intercept[IllegalArgumentException](Dxf.parse("0\nPOINT\n8\n0\n10\n3"))
    intercept[IllegalArgumentException](Dxf.parse(
      "0\nLWPOLYLINE\n8\n0\n90\n2\n70\n1\n10\n0\n20\n0\n10\n1\n20\n1"))
  }

  test("st_simplify: DP keep/drop against ground truth, survivors bit-exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.F
    def simp(wkt: String, tol: Double): Seq[(Double, Double)] =
      Seq(wkt).toDF("w")
        .select(call_function("st_points", call_function("st_simplify",
          F.st_geomfromwkt(col("w")), lit(tol))).as("p"))
        .collect()(0).getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getDouble(0), r.getDouble(1)))
    // apex below tolerance → dropped; above → kept bit-exact
    assert(simp("LINESTRING(0 0, 2 0.5, 4 0)", 0.875) == Seq((0.0, 0.0), (4.0, 0.0)))
    assert(simp("LINESTRING(0 0, 2 1.25, 4 0)", 0.875) ==
      Seq((0.0, 0.0), (2.0, 1.25), (4.0, 0.0)))
    // negative apex is symmetric
    assert(simp("LINESTRING(0 0, 2 -1.25, 4 0)", 0.875) ==
      Seq((0.0, 0.0), (2.0, -1.25), (4.0, 0.0)))
    // exactly at tolerance: DP keeps only distance > tol → dropped
    assert(simp("LINESTRING(0 0, 2 0.875, 4 0)", 0.875) == Seq((0.0, 0.0), (4.0, 0.0)))
    // polygon survives with validity intact under a small tolerance
    val row = Seq("POLYGON((0 0, 8 0.1, 16 0, 16 8, 0 8, 0 0))").toDF("w")
      .select(call_function("st_simplify", F.st_geomfromwkt(col("w")), lit(0.5)).as("g"))
      .select(F.st_isvalid(col("g")), F.st_area(col("g"))).collect()(0)
    assert(row.getBoolean(0) && row.getDouble(1) > 0.0)
  }

  test("style strings: tool + params parse, quoted commas/colons survive") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.F
    def parse(s: String): (String, Seq[(String, String)]) = {
      val r = Seq(s).toDF("s")
        .select(call_function("style_tool", col("s")).as("t"),
          call_function("style_params", col("s")).as("p")).collect()(0)
      (r.getString(0), r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getString(0), x.getString(1))))
    }
    assert(parse("PEN(c:#ff0000,w:2px)") ==
      (("PEN", Seq("c" -> "#ff0000", "w" -> "2px"))))
    // quoted value keeps commas and colons; quotes stripped; keys fold to
    // lower case like the reference's case-insensitive param lookup
    assert(parse("""LABEL(F:"Arial, Bold",T:"a:b,c")""") ==
      (("LABEL", Seq("f" -> "Arial, Bold", "t" -> "a:b,c"))))
    // malformed (no parens) → null tool and params
    val bad = Seq("nonsense").toDF("s")
      .select(call_function("style_tool", col("s")).isNull.as("tn"),
        call_function("style_params", col("s")).isNull.as("pn")).collect()(0)
    assert(bad.getBoolean(0) && bad.getBoolean(1))
  }

  test("st_geomfromwkb / st_aswkb normalize foreign WKB to canonical bytes") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.F
    // big-endian WKB point (1.5, 2.5): 00 00000001 3FF8... 4004...
    val be = Array[Byte](0, 0, 0, 0, 1,
      0x3f.toByte, 0xf8.toByte, 0, 0, 0, 0, 0, 0,
      0x40.toByte, 0x04.toByte, 0, 0, 0, 0, 0, 0)
    val row = Seq(Tuple1(be)).toDF("wkb")
      .select(call_function("st_geomfromwkb", col("wkb")).as("g"))
      .select(F.st_astext(col("g")).as("t"),
        call_function("st_aswkb", col("g")).as("w2"), col("g"))
      .collect()(0)
    assert(row.getString(0) == "POINT (1.5 2.5)")
    // canonical form is a fixed point of st_aswkb
    assert(row.getAs[Array[Byte]]("w2").toSeq == row.getAs[Array[Byte]]("g").toSeq)
  }

  test("per-tile Floyd-Steinberg dither: independent-replica pin + bit domain") {
    import graft.core.Dither
    // q75's tile (0,0): v = ((i%8)*7 + (i/8)*11) % 16 * 17 — first 16
    // outputs pinned against an independently-written replica of the
    // truncating-division error flow
    val px = Array.tabulate(64)(i => ((i % 8) * 7 + (i / 8) * 11) % 16 * 17)
    val out = Dither.fsDither(px, 8, 8)
    assert(out.take(16).toSeq == Seq(0, 0, 255, 0, 255, 0, 255, 0, 255, 0, 255, 0, 255, 255, 0, 255))
    assert(out.forall(v => v == 0 || v == 255))
    // uniform extremes are fixed points
    assert(Dither.fsDither(Array.fill(64)(0), 8, 8).forall(_ == 0))
    assert(Dither.fsDither(Array.fill(64)(255), 8, 8).forall(_ == 255))
  }

  test("GCP affine fit (Cramer, exact): interpolates GCPs, rejects collinear, inverts") {
    import graft.core.Gcp
    val gcps = Seq((0L, 0L, 7L, 11L), (64L, 0L, 87L, 27L), (0L, 64L, -9L, 75L))
    val af = Gcp.affineFromGcps(gcps)
    assert(af.den > 0)
    // the fit must pass through each GCP exactly (den divides the dot
    // product, so floorDiv lands on the src coordinate itself)
    for ((dx, dy, sx, sy) <- gcps) {
      assert(af.srcX(dx, dy) == sx && af.srcY(dx, dy) == sy, s"GCP ($dx,$dy)")
    }
    // forward (double) inverts the exact map to well under the 2 px
    // routing pad on in-grid magnitudes
    for ((dx, dy) <- Seq((10L, 20L), (500L, 300L), (1023L, 511L))) {
      val sx = (af.a0 + af.a1 * dx + af.a2 * dy).toDouble / af.den
      val sy = (af.b0 + af.b1 * dx + af.b2 * dy).toDouble / af.den
      val (bx, by) = af.fwd(sx, sy)
      assert(math.abs(bx - dx) < 1e-6 && math.abs(by - dy) < 1e-6, s"fwd at ($dx,$dy)")
    }
    intercept[IllegalArgumentException] {
      Gcp.affineFromGcps(Seq((0L, 0L, 1L, 1L), (1L, 1L, 2L, 2L), (2L, 2L, 3L, 3L)))
    }
  }

  test("resample bilinear interpolates linear ramps exactly") {
    val src: (Int, Int) => Double = (x, y) =>
      if (x < 0 || y < 0 || x > 9 || y > 9) Double.NaN else x.toDouble + 2.0 * y
    // center of pixel (3,4) is (3.5, 4.5) -> value 3 + 8 = 11
    assert(Resample.bilinear(src, 3.5, 4.5) == 11.0)
    // halfway between pixel centers
    assert(Resample.bilinear(src, 4.0, 4.5) == 11.5)
  }

  test("Gcp.fitPoly: least-squares orders 1-3 + the printed-SQL op-order contract") {
    // (a) data from a TRUE order-2 integer polynomial on a grid where all
    // terms are integer → the LS fit must reproduce it (residual ~ 0)
    val grid = for (x <- Seq(0L, 100L, 200L, 300L); y <- Seq(0L, 150L, 350L)) yield (x, y)
    val quad = grid.map { case (x, y) =>
      (x, y, 7 + 2 * x + 3 * y + x * x / 100 - x * y / 200 + y * y / 50,
             -4 + 5 * x - y + x * x / 200 + x * y / 100 - y * y / 25)
    }
    val p2 = Gcp.fitPoly(2, quad)
    quad.foreach { case (x, y, u, v) =>
      val (sx, sy) = Gcp.evalPoly(p2, x.toDouble, y.toDouble)
      assert(math.abs(sx - u) < 1e-6 && math.abs(sy - v) < 1e-6, s"($x,$y)")
    }
    // off-grid evaluation matches the generating polynomial analytically
    val (ox, oy) = Gcp.evalPoly(p2, 150.0, 250.0)
    assert(math.abs(ox - (7 + 2 * 150 + 3 * 250 + 150.0 * 150 / 100 - 150.0 * 250 / 200 + 250.0 * 250 / 50)) < 1e-5)
    assert(math.abs(oy - (-4 + 5 * 150 - 250 + 150.0 * 150 / 200 + 150.0 * 250 / 100 - 250.0 * 250 / 25)) < 1e-5)
    // (b) order 3 reproduces a cubic; under-determined sets are rejected.
    // 4 distinct values PER AXIS — on a 3-level y axis the y³ column is a
    // linear combination of 1,y,y² and the normal system goes singular.
    val grid3 = for (x <- Seq(0L, 100L, 200L, 300L); y <- Seq(0L, 100L, 200L, 400L)) yield (x, y)
    val cubic = grid3.map { case (x, y) =>
      (x, y, x + x * x * x / 10000 - y * y * y / 50000 + y,
             y + x * x * y / 100000 + x / 2) // all terms integer on grid3
    }
    val p3 = Gcp.fitPoly(3, cubic)
    cubic.foreach { case (x, y, u, v) =>
      val (sx, sy) = Gcp.evalPoly(p3, x.toDouble, y.toDouble)
      assert(math.abs(sx - u) < 1e-5 && math.abs(sy - v) < 1e-5, s"($x,$y)")
    }
    intercept[IllegalArgumentException] { Gcp.fitPoly(3, cubic.take(9)) }
    intercept[IllegalArgumentException] { Gcp.fitPoly(2, quad.take(5)) }
    intercept[IllegalArgumentException] { Gcp.fitPoly(4, quad) }
    // (c) demo2 is genuinely over-determined: residuals nonzero (the ±2
    // noise) but bounded by it — an interpolating fit would be suspect
    val res = Gcp.demoGcps.map { case (x, y, u, v) =>
      val (sx, sy) = Gcp.evalPoly(Gcp.demo2, x.toDouble, y.toDouble)
      math.max(math.abs(sx - u), math.abs(sy - v))
    }
    assert(res.max <= 4.0, s"demo2 residual ${res.max} exceeds the noise scale")
    assert(res.max > 0.05, "demo2 fit interpolates exactly — noise not exercised")
    // (d) THE ORACLE CONTRACT: Spark-evaluated polySql == Scala evalPoly
    // BIT-FOR-BIT (pure +,* in the same printed order)
    val spark = TestSpark.spark
    import spark.implicits._
    val pts = Seq((0.0, 0.0), (17.0, 403.0), (1023.0, 511.0), (512.0, 256.0), (999.0, 3.0))
    val got = pts.toDF("x", "y").selectExpr(
        s"(${Gcp.polySql(Gcp.demo2, "x", "y", 'x')}) AS sx",
        s"(${Gcp.polySql(Gcp.demo2, "x", "y", 'y')}) AS sy")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    pts.zip(got).foreach { case ((x, y), (gx, gy)) =>
      val (ex, ey) = Gcp.evalPoly(Gcp.demo2, x, y)
      assert(ex == gx && ey == gy, s"op-order divergence at ($x,$y)")
    }
  }

  test("q166 phase quantization carries authored margin over libm ULP noise") {
    // the CInt16 corpus has exactly 256 distinct complex values; the
    // engine (java.lang.Math.atan2 via Spark codegen) and the oracle
    // (libm atan2) differ by ~1 ulp (~7e-13 after the ×1000 scale), so
    // every quantized phase must sit ≫ that from a floor boundary
    var minGap = Double.MaxValue
    var quadrants = Set.empty[Int]
    (0 until 256).foreach { v =>
      val a = v - 128; val b = (7 * v + 31) % 256 - 128
      quadrants += (if (a >= 0) 0 else 2) + (if (b >= 0) 0 else 1)
      val s = math.atan2(b.toDouble, a.toDouble) * 1000.0 + 0.5
      val g = math.min(s - math.floor(s), math.floor(s) + 1.0 - s)
      minGap = math.min(minGap, g)
    }
    assert(minGap > 1e-9, s"quantized phase within $minGap of a floor boundary")
    assert(quadrants.size == 4, "corpus must exercise all four quadrants")
  }

  test("csv_line/csv_fields: RFC-4180 quoting round-trips every edge case") {
    val spark = TestSpark.spark
    import spark.implicits._
    val cases = Seq(
      Seq("plain", "with,comma", "with\"quote"),
      Seq("", "", ""),                       // empty fields survive
      Seq("line\nbreak", "cr\rhere", "ok"),
      Seq("\"", "\"\"", "a,\"b\",c"),        // lone + doubled + mixed
      Seq("trailing,", ",leading", "POLYGON((0 0, 1 0, 1 1, 0 0))"))
    val df = cases.map(Tuple1(_)).toDF("f")
    val got = df.select(
        org.apache.spark.sql.functions.call_function("csv_fields",
          org.apache.spark.sql.functions.call_function("csv_line",
            org.apache.spark.sql.functions.col("f"))).as("back"))
      .collect().map(_.getSeq[String](0).toList)
    assert(got.toList == cases.map(_.toList))
    // exact writer form: quoting is CONDITIONAL, embedded quotes double
    val line = df.limit(1).select(org.apache.spark.sql.functions
      .call_function("csv_line", org.apache.spark.sql.functions.col("f")))
      .collect()(0).getString(0)
    assert(line == "plain,\"with,comma\",\"with\"\"quote\"")
    // reader tolerance: unterminated quote runs to end of record
    val tol = df.sparkSession.sql("SELECT csv_fields('a,\"unterminated') AS f")
      .collect()(0).getSeq[String](0).toList
    assert(tol == List("a", "unterminated"))
  }
}
