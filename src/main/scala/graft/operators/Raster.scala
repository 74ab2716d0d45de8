package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.functions.{F, RasterRuns, WarpDstCells, WarpSrcCells, WarpTile}
import org.apache.spark.sql.Column

/** Raster operators: rasterize (vector→raster burn), overview pyramid,
  * warp (geodetic→mercator reprojection), and mosaic. Tiles are rows of a
  * DataFrame — `(zoom:int, tx:long, ty:long, band:int, w:int, h:int,
  * pixels:array<double>)` — never an in-memory 2-D array (SURVEY.md §2.1),
  * so every stage is an ordinary shuffle/aggregate that scales by
  * partitioning on the cell key. */
object Raster {
  final val TW = 64
  final val TH = 64

  import org.apache.spark.sql.graftshim.Columns.{of => expr2col, expr => asExpr}

  case class PxRun(py: Int, xs: Int, xe: Int)
  case class RunBatch(runs: Seq[PxRun], burn: Double)

  /** Paints burn runs into a w×h pixel buffer. Input is ONE ROW PER
    * (geometry, tile) carrying that geometry's whole run array — not one
    * row per run: a line's DDA emits length-1 runs, so per-run rows made
    * the partial aggregate chew ~w·h rows per tile (the round-3 q54
    * bottleneck); batched, the shuffle and the agg input are both one row
    * per touched (geom, tile).
    * mode "add":     pixel += burn   (MERGE_ALG=ADD; exact for integer burns)
    * mode "max":     pixel = max(pixel, burn) — deterministic REPLACE:
    * equals the reference's last-wins when burn encodes layer order
    * (reference: alg/gdalrasterize.cpp :: GDALRasterizeOptions MERGE_ALG). */
  class TileAssemble(w: Int, h: Int, mode: String)
      extends Aggregator[RunBatch, Array[Double], Seq[Double]] {
    override def zero: Array[Double] = new Array[Double](w * h)
    override def reduce(buf: Array[Double], b: RunBatch): Array[Double] = {
      val it = b.runs.iterator
      while (it.hasNext) {
        val r = it.next()
        var x = r.xs
        while (x < r.xe) {
          val i = r.py * w + x
          if (mode == "add") buf(i) += b.burn
          else if (b.burn > buf(i)) buf(i) = b.burn
          x += 1
        }
      }
      buf
    }
    override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < a.length) {
        if (mode == "add") a(i) += b(i)
        else if (b(i) > a(i)) a(i) = b(i)
        i += 1
      }
      a
    }
    override def finish(buf: Array[Double]): Seq[Double] = buf.toSeq
    override def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
    override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()
  }

  /** Rasterize geometries into 64×64 tiles at a geodetic zoom.
    * @param geoms (idCol, geomCol WKB, burnCol double)
    * @return (cell, zoom, tx, ty, pixels) — one row per touched tile.
    * Plan shape: cells_cover explode → per-(geom,cell) scanline runs
    * (map-side, no shuffle) → ONE partial+final aggregate keyed by cell.
    * The reference's sequential burn loop (apps/gdal_rasterize.cpp →
    * alg/gdalrasterize.cpp :: GDALRasterizeLayers) becomes an
    * embarrassingly-parallel generate + hash aggregate. */
  def rasterize(geoms: DataFrame, geomCol: String, burnCol: String,
                zoom: Int, mode: String = "max",
                allTouched: Boolean = false): DataFrame = {
    val spark = geoms.sparkSession
    F.ensureRegistered(spark)
    val assembler = udaf(new TileAssemble(TW, TH, mode))
    // exact (uncapped) cover: burn tiles must live at the requested zoom —
    // the join-prune cap would silently emit coarser cells here
    val withCells = geoms
      .withColumn("__cell", explode(F.cells_cover_exact(col(geomCol), lit(zoom))))
    // the run ARRAY stays one row per (geom, cell) — no per-run explode;
    // a run-less covered cell is dropped exactly as the explode used to
    // drop it (a degenerate boundary touch must not materialize a
    // zero-filled tile)
    val runs = withCells
      .select(col("__cell"),
        expr2col(RasterRuns(asExpr(col(geomCol)), asExpr(col("__cell")), TW, TH,
          allTouched)).as("__runs"),
        col(burnCol).cast("double").as("burn"))
      .where(size(col("__runs")) > 0)
    runs.groupBy(col("__cell").as("cell"))
      .agg(assembler(col("__runs"), col("burn")).as("pixels"))
      .select(col("cell"), F.cell_zoom(col("cell")).as("zoom"),
        F.cell_tx(col("cell")).as("tx"), F.cell_ty(col("cell")).as("ty"),
        col("pixels"))
  }

  /** gdal_rasterize -i (reference apps/gdal_rasterize.cpp, the bInverse
    * option → alg/gdalrasterize.cpp invert path): burn `burnVal` into
    * every pixel NOT covered by any geometry, over the FULL nxTiles ×
    * nyTiles output extent. The 100-TB shape: coverage reuses the
    * ordinary rasterize aggregate (one mask row per TOUCHED tile, shuffle
    * O(touched)), the dst universe is GENERATED (spark.range — never
    * materialized input), and the complement is a LEFT equi-join on the
    * cell key + a codegen'd transform; fully-uncovered tiles take a
    * constant all-burn array without ever seeing geometry data. */
  def rasterizeInvert(geoms: DataFrame, geomCol: String, zoom: Int,
                      burnVal: Double, nxTiles: Long, nyTiles: Long): DataFrame = {
    val spark = geoms.sparkSession
    F.ensureRegistered(spark)
    val cover = rasterize(geoms.withColumn("__one", lit(1.0)), geomCol, "__one", zoom, "max")
      .select(col("cell"), col("pixels").as("__mask"))
    val universe = spark.range(nxTiles * nyTiles)
      .select((col("id") % nxTiles).as("tx"),
        (col("id") / nxTiles).cast("long").as("ty"))
      .withColumn("cell", F.cell_pack(lit(zoom), col("tx"), col("ty")))
    universe.join(cover, Seq("cell"), "left")
      .select(col("cell"), lit(zoom).as("zoom"), col("tx"), col("ty"),
        when(col("__mask").isNull,
          expr(s"array_repeat(CAST($burnVal AS DOUBLE), ${TW * TH})"))
          .otherwise(expr(s"transform(__mask, v -> IF(v > 0.0D, 0.0D, CAST($burnVal AS DOUBLE)))"))
          .as("pixels"))
  }

  /** Sparse (i, d2) rows → dense length-n array, -1.0 at untouched
    * indexes. O(1) positional writes; the map_from_entries alternative
    * pays an O(entries) scan per later element_at lookup. */
  private class SparseToDense(n: Int)
      extends Aggregator[(Int, Double), Array[Double], Seq[Double]] {
    override def zero: Array[Double] = Array.fill(n)(-1.0)
    override def reduce(b: Array[Double], t: (Int, Double)): Array[Double] = {
      b(t._1) = t._2; b
    }
    override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < n) { if (b(i) >= 0.0) a(i) = b(i); i += 1 }
      a
    }
    override def finish(b: Array[Double]): Seq[Double] = b.toSeq
    override def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
    override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()
  }

  case class Quad(qx: Int, qy: Int, pixels: Seq[Double])

  /** Assembles a parent tile from up to 4 half-resolution children. */
  class PyramidAssemble(w: Int, h: Int, method: String)
      extends Aggregator[Quad, Array[Double], Seq[Double]] {
    override def zero: Array[Double] = new Array[Double](w * h)
    override def reduce(buf: Array[Double], q: Quad): Array[Double] = {
      val child = q.pixels.toArray
      val down = method match {
        case "near" => graft.core.Resample.downsample2x2Near(child, w, h)
        case "mode" => graft.core.Resample.downsample2x2Mode(child, w, h)
        case "rms"  => graft.core.Resample.downsample2x2Rms(child, w, h)
        case _      => graft.core.Resample.downsample2x2Avg(child, w, h)
      }
      val ox = q.qx * (w / 2); val oy = q.qy * (h / 2)
      var y = 0
      while (y < h / 2) {
        var x = 0
        while (x < w / 2) { buf((oy + y) * w + ox + x) = down(y * (w / 2) + x); x += 1 }
        y += 1
      }
      buf
    }
    override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      // children write disjoint quadrants; nonzero wins
      var i = 0
      while (i < a.length) { if (a(i) == 0.0) a(i) = b(i); i += 1 }
      a
    }
    override def finish(buf: Array[Double]): Seq[Double] = buf.toSeq
    override def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
    override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()
  }

  /** One pyramid level up: tiles at zoom z → tiles at z-1 (AVERAGE or
    * NEAR), 2×2 children per parent — a partial+final hash aggregate per
    * parent cell (reference: gcore/overview.cpp ::
    * GDALRegenerateOverviews; swig/python/scripts/gdal2tiles.py ::
    * create_overview_tiles). Expects (zoom,tx,ty,pixels). */
  def pyramidUp(tiles: DataFrame, method: String = "average"): DataFrame = {
    val spark = tiles.sparkSession
    F.ensureRegistered(spark)
    val assembler = udaf(new PyramidAssemble(TW, TH, method))
    tiles
      .withColumn("__pz", col("zoom") - 1)
      .withColumn("__ptx", floor(col("tx") / 2).cast("long"))
      .withColumn("__pty", floor(col("ty") / 2).cast("long"))
      .withColumn("__qx", (col("tx") % 2).cast("int"))
      .withColumn("__qy", (col("ty") % 2).cast("int"))
      .groupBy(col("__pz").as("zoom"), col("__ptx").as("tx"), col("__pty").as("ty"))
      .agg(assembler(col("__qx"), col("__qy"), col("pixels")).as("pixels"))
  }

  /** Full pyramid from base zoom down to `toZoom` (inclusive), reusing
    * each level for the next (the reference reuses level z for z-1;
    * .cache() where reuse exists — SURVEY.md §5 block-cache row). */
  def pyramid(base: DataFrame, baseZoom: Int, toZoom: Int,
              method: String = "average"): DataFrame = {
    var cur = base.select(col("zoom"), col("tx"), col("ty"), col("pixels"))
    var out = cur
    var z = baseZoom
    while (z > toZoom) {
      // cache each level: it feeds BOTH the output union and the next
      // coarser level — without it level z-k re-executes the whole chain
      // from base (O(levels²) work)
      cur = pyramidUp(cur, method)
        .transform(graft.io.Checkpoints.cached)
      out = out.unionByName(cur)
      z -= 1
    }
    out
  }

  /** Warp geodetic tiles to mercator tiles at dstZoom (near|bilinear).
    * Source-window join: each dst tile explodes to the src cells it needs
    * (WarpSrcCells = the reference's ComputeSourceWindow), equi-joins the
    * tile table on cell, regroups per dst tile, then the WarpTile kernel
    * resamples — reference: alg/gdalwarpoperation.cpp ::
    * ChunkAndWarpImage/WarpRegion + alg/gdalwarpkernel.cpp. */
  def warpToMercator(srcTiles: DataFrame, srcZoom: Int, dstZoom: Int,
                     method: String = "bilinear"): DataFrame = {
    val spark = srcTiles.sparkSession
    F.ensureRegistered(spark)
    val src = srcTiles.select(
      F.cell_pack(col("zoom"), col("tx"), col("ty")).as("src_cell"), col("pixels"))
    // dst universe DERIVED from source coverage (forward-projected tile
    // bounds), not enumerated: spark.range(4^dstZoom) was 10^12 rows at
    // z20 regardless of how little source existed. warp_dst_cells is a
    // guaranteed superset of the inverse source-window relation, and the
    // inner join below drops the spares, so output tiles are identical.
    val dst = src.select(explode(expr2col(WarpDstCells(
        asExpr(col("src_cell")), asExpr(lit(dstZoom))))).as("dst_cell"))
      .distinct()
    val needed = dst.withColumn("src_cell",
      explode(expr2col(WarpSrcCells(asExpr(col("dst_cell")), asExpr(lit(srcZoom))))))
    val gathered = needed.join(src, Seq("src_cell"), "inner")
      .groupBy("dst_cell")
      .agg(collect_list(struct(col("src_cell").as("cell"), col("pixels"))).as("srcs"))
    gathered.select(
      col("dst_cell").as("cell"),
      F.cell_zoom(col("dst_cell")).as("zoom"),
      F.cell_tx(col("dst_cell")).as("tx"),
      F.cell_ty(col("dst_cell")).as("ty"),
      expr2col(WarpTile(asExpr(col("dst_cell")), asExpr(lit(srcZoom)),
        asExpr(col("srcs")), asExpr(lit(method)))).as("pixels"))
  }

  final case class GcpChunk(dtx: Long, dty: Long, stx: Long, sty: Long, pixels: Array[Double])

  /** GCP-georeferenced warp, nearest kernel (reference: alg/gdal_crs.c ::
    * GDALCreateGCPTransformer order 1 + alg/gdalwarpkernel.cpp ::
    * GWKNearestNoMasksByte): the dst→src affine comes from an EXACT
    * Cramer fit over 3 integer GCPs (core/Gcp.scala), so every dst pixel's
    * source index is a Long floorDiv — integer math a SQL oracle replays
    * bit-for-bit. Distribution is regrid's source-window chunk exchange:
    * each src tile ships itself to the dst tiles whose inverse image can
    * touch it (forward-affine bbox + 2 px pad — a SUPERSET selector; the
    * exact kernel decides), one shuffle keyed by dst tile, then an
    * independent kernel per dst tile. Dst tiles with zero in-grid samples
    * are dropped (nodata analog); uncovered pixels inside an emitted tile
    * are 0. */
  def warpGcpNear(tiles: DataFrame, gcps: Seq[(Long, Long, Long, Long)],
                  srcW: Long, srcH: Long, dstW: Long, dstH: Long): DataFrame = {
    require(dstW % TW == 0 && dstH % TH == 0, "dst grid must be whole tiles")
    val af = graft.core.Gcp.affineFromGcps(gcps)
    val spark = tiles.sparkSession
    import spark.implicits._
    val w = TW; val h = TH
    val nDtx = dstW / w; val nDty = dstH / h
    val chunks = tiles.select(col("tx").cast("long"), col("ty").cast("long"), col("pixels"))
      .as[(Long, Long, Seq[Double])]
      .flatMap { case (stx, sty, px) =>
        val xs = Seq(stx * w.toDouble, (stx + 1) * w.toDouble)
        val ys = Seq(sty * h.toDouble, (sty + 1) * h.toDouble)
        val corners = for (x <- xs; y <- ys) yield af.fwd(x, y)
        val dx0 = math.floor((corners.map(_._1).min - 2.0) / w).toLong
        val dx1 = math.floor((corners.map(_._1).max + 2.0) / w).toLong
        val dy0 = math.floor((corners.map(_._2).min - 2.0) / h).toLong
        val dy1 = math.floor((corners.map(_._2).max + 2.0) / h).toLong
        for {
          dtx <- math.max(0L, dx0) to math.min(nDtx - 1, dx1)
          dty <- math.max(0L, dy0) to math.min(nDty - 1, dy1)
        } yield GcpChunk(dtx, dty, stx, sty, px.toArray)
      }
    chunks.groupByKey(c => (c.dtx, c.dty))
      .mapGroups { (key: (Long, Long), it: Iterator[GcpChunk]) =>
        val (dtx, dty) = key
        val srcs = new java.util.HashMap[Long, Array[Double]]()
        it.foreach(c => srcs.put(c.sty * 1048576L + c.stx, c.pixels))
        val out = new Array[Double](w * h)
        var any = false
        var i = 0
        while (i < w * h) {
          val gdx = dtx * w + i % w; val gdy = dty * h + i / w
          val sgx = af.srcX(gdx, gdy); val sgy = af.srcY(gdx, gdy)
          if (sgx >= 0 && sgx < srcW && sgy >= 0 && sgy < srcH) {
            val arr = srcs.get((sgy / h) * 1048576L + sgx / w)
            // the pad-2 superset routing must have shipped it — fail loud,
            // never silently background, if that invariant ever breaks
            require(arr != null, s"src tile (${sgx / w},${sgy / h}) not shipped to dst ($dtx,$dty)")
            out(i) = arr((sgy % h).toInt * w + (sgx % w).toInt)
            any = true
          }
          i += 1
        }
        (dtx, dty, if (any) out.toSeq else Seq.empty[Double])
      }
      .filter(_._3.nonEmpty)
      .toDF("tx", "ty", "pixels")
  }

  /** RPC-georeferenced warp, nearest kernel (reference: alg/gdal_rpc.cpp
    * :: GDALCreateRPCTransformer + gdalwarp): each dst pixel's geodetic
    * coordinate (an EXACT double — dyadic grid step) maps through the
    * rational-polynomial ground→image transform (core/Rpc.scala: pure
    * +,·,/ in a fixed order, so a SQL oracle replays it bit-for-bit) and
    * floor-samples the source grid. Distribution is DST-driven routing:
    * each dst tile's 4 corners map through the RPC, the src bbox + 4 px
    * pad selects the src tiles to ship (SUPERSET — the distortion terms
    * are smooth and tiny across one 64-px tile; require() fails loud if
    * the invariant ever breaks), one equi-join + one shuffle keyed by dst
    * tile, then an independent kernel per dst tile. Dst tiles with zero
    * in-grid samples drop; uncovered pixels inside an emitted tile are 0. */
  def warpRpcNear(tiles: DataFrame, m: graft.core.Rpc.Model,
                  srcW: Long, srcH: Long, dstW: Long, dstH: Long,
                  lon0: Double, lonStep: Double, lat0: Double, latStep: Double): DataFrame =
    warpPointNear(tiles,
      (gx, gy) => graft.core.Rpc.sampLine(m, lon0 + gx * lonStep, lat0 + gy * latStep, 0.0),
      srcW, srcH, dstW, dstH)

  /** RPC warp with a per-point DEM height (reference: alg/gdal_rpc.cpp ::
    * GDALRPCTransform with the RPC_DEM option, RPC_DEMINTERPOLATION=near):
    * instead of the fixed RPC_HEIGHT the ground point's elevation is read
    * from a DEM before the rational polynomial runs — `dem(lon, lat)`
    * supplies the nearest-cell elevation. The DEM jump between adjacent
    * cells perturbs samp/line by well under a pixel for survey-scale
    * H-coefficients, so the 4 px routing pad of the shared dst-driven
    * router still holds (its require() fails loud otherwise). Same
    * shuffle shape as every point warp: tile-corner routing join + one
    * regroup per dst tile. */
  def warpRpcDemNear(tiles: DataFrame, m: graft.core.Rpc.Model,
                     dem: (Double, Double) => Double,
                     srcW: Long, srcH: Long, dstW: Long, dstH: Long,
                     lon0: Double, lonStep: Double, lat0: Double, latStep: Double): DataFrame =
    warpPointNear(tiles,
      (gx, gy) => {
        val lon = lon0 + gx * lonStep
        val lat = lat0 + gy * latStep
        graft.core.Rpc.sampLine(m, lon, lat, dem(lon, lat))
      },
      srcW, srcH, dstW, dstH)

  /** TPS-georeferenced warp, nearest kernel (reference:
    * alg/thinplatespline.cpp via GDALCreateTPSTransformer + gdalwarp):
    * the dst→src pixel mapping is the fitted spline [[graft.core.Tps]];
    * same dst-driven routing as the RPC warp. The 4 px routing pad holds
    * because the spline's deviation from its own 4-corner bbox across a
    * 64-px tile is bounded by the mild demo curvature; the kernel's
    * require() fails loud if a model ever violates it. */
  def warpTpsNear(tiles: DataFrame, m: graft.core.Tps.Model,
                  srcW: Long, srcH: Long, dstW: Long, dstH: Long): DataFrame =
    warpPointNear(tiles, (gx, gy) => graft.core.Tps.eval(m, gx, gy), srcW, srcH, dstW, dstH)

  /** Approximating TPS warp (reference: alg/gdaltransformer.cpp ::
    * GDALApproxTransform wrapped around the TPS transformer — the
    * reference's answer to per-pixel transcendental cost): per dst-tile
    * ROW, evaluate the exact spline only at segment endpoints + midpoint;
    * if the midpoint's linear interpolation is within `eps` source px in
    * both dimensions the whole segment interpolates linearly, else the
    * segment splits and recurses — ~3 exact evals per accepted 64-px row
    * instead of 64. eps = 0 degenerates to the exact per-pixel path
    * (ApproxSpec pins bit-equality). The subdivision is deterministic,
    * so the oracle replays the SAME recursion (segment tree + pinned
    * interp op order e0 + ((e1-e0)/(x1-x0))·(x-x0)) in a recursive CTE. */
  def warpTpsApproxNear(tiles: DataFrame, m: graft.core.Tps.Model, eps: Double,
                        srcW: Long, srcH: Long, dstW: Long, dstH: Long): DataFrame =
    warpPointNear(tiles, (gx, gy) => graft.core.Tps.eval(m, gx, gy), srcW, srcH, dstW, dstH,
      approxEps = eps)

  /** Polynomial-GCP warp, nearest kernel (reference: alg/gdal_crs.c ::
    * GDALCreateGCPTransformer orders 1-3 with least-squares fit +
    * gdalwarp): the dst→src map is the normal-equations polynomial
    * [[graft.core.Gcp.fitPoly]]; same dst-driven routing as RPC/TPS. The
    * 4 px pad holds because the quadratic/cubic curvature across one
    * 64-px tile is far below a pixel for survey-scale models; the
    * kernel's require() fails loud otherwise. */
  def warpPolyNear(tiles: DataFrame, p: graft.core.Gcp.Poly,
                   srcW: Long, srcH: Long, dstW: Long, dstH: Long): DataFrame =
    warpPointNear(tiles, (gx, gy) => graft.core.Gcp.evalPoly(p, gx, gy), srcW, srcH, dstW, dstH)

  /** Geolocation-array warp, nearest kernel (reference: alg/gdalgeoloc.cpp
    * :: GDALCreateGeoLocTransformer — the remaining georeferencing mode
    * after GCP-affine/poly, TPS and RPC): the SOURCE raster carries a
    * geolocation grid (geo coordinates sampled every `step` px; here
    * generated from the integer templates dgxSql/dgySql over placeholders
    * GI/GJ so the oracle regenerates the identical grid), the forward map
    * per src pixel is bilinear interpolation in that grid, and the
    * INVERSE the warp needs is the reference's backmap: scatter every
    * src pixel's forward geo position into the dst grid and keep, per
    * dst pixel, the NEAREST scattered point (inverse-distance snap, ties
    * by linear index). Each point also offers itself to its 8 neighbor
    * cells — the reference's backmap hole-filling pass folded into the
    * same aggregate; cells no point reaches stay nodata (0 in an emitted
    * tile, absent tile if the whole tile is unreached).
    *
    * EXACTNESS: geoloc values are integers and bilinear weights are
    * k/step², so positions scaled by step² are pure Longs — every
    * compare, cell assignment and d2 is integer math a SQL oracle
    * replays bit-for-bit (all quantities non-negative after the extent
    * filter, so truncating div == floor on both engines).
    *
    * SCALE: the whole pipeline is projections + two hash aggregates —
    * one keyed by dst cell over the 9× scattered pixel rows (linear in
    * raster size, the backmap build itself), one keyed by dst tile to
    * assemble pixel arrays. No window, no join, no driver state; the
    * geoloc grid never materializes (it is inlined arithmetic). */
  def geolocBackmapWarp(tiles: DataFrame, dgxSql: String, dgySql: String,
                        srcW: Int, srcH: Int, step: Int, scale: Int): DataFrame = {
    val spark = tiles.sparkSession
    F.ensureRegistered(spark)
    val w = TW; val h = TH
    val cellGeo = scale * step          // geo units per geoloc-grid cell
    val cellS = scale * step * step     // dst-pixel width in step²-scaled geo units
    def corner(iE: String, jE: String, which: Char): String = {
      val tmpl = if (which == 'x') dgxSql else dgySql
      val d = tmpl.replace("GI", s"($iE)").replace("GJ", s"($jE)")
      val base = if (which == 'x') s"$cellGeo * CAST(($iE) AS BIGINT)"
                 else s"$cellGeo * CAST(($jE) AS BIGINT)"
      s"(($base) + CAST(($d) AS BIGINT))"
    }
    def bilinear(which: Char): String =
      s"${corner("i0", "j0", which)} * ($step - a) * ($step - b) + " +
      s"${corner("i0 + 1", "j0", which)} * a * ($step - b) + " +
      s"${corner("i0", "j0 + 1", which)} * ($step - a) * b + " +
      s"${corner("i0 + 1", "j0 + 1", which)} * a * b"
    val dense = udaf(new SparseToDense(w * h))
    tiles.select(col("tx").cast("long").as("ttx"), col("ty").cast("long").as("tty"),
        posexplode(col("pixels")).as(Seq("pi", "val")))
      .select(expr(s"ttx * $w + pi % $w").as("p"),
        expr(s"tty * $h + pi div $w").as("q"), col("val"))
      .withColumn("i0", expr(s"p div $step")).withColumn("a", expr(s"p % $step"))
      .withColumn("j0", expr(s"q div $step")).withColumn("b", expr(s"q % $step"))
      .withColumn("gxs", expr(bilinear('x')))
      .withColumn("gys", expr(bilinear('y')))
      // out-of-extent forward positions never scatter (backmap ignores
      // them); everything downstream is non-negative → div == floor
      .filter(s"gxs >= 0 AND gxs < ${srcW.toLong * cellS} AND gys >= 0 AND gys < ${srcH.toLong * cellS}")
      .withColumn("ddx", explode(expr("array(-1L, 0L, 1L)")))
      .withColumn("ddy", explode(expr("array(-1L, 0L, 1L)")))
      .withColumn("cx", expr(s"gxs div $cellS + ddx"))
      .withColumn("cy", expr(s"gys div $cellS + ddy"))
      .filter(s"cx >= 0 AND cx < $srcW AND cy >= 0 AND cy < $srcH")
      .withColumn("d2", expr(
        s"(gxs - (cx * $cellS + ${cellS / 2})) * (gxs - (cx * $cellS + ${cellS / 2})) + " +
        s"(gys - (cy * $cellS + ${cellS / 2})) * (gys - (cy * $cellS + ${cellS / 2}))"))
      .withColumn("idx", expr(s"q * $srcW + p"))
      .groupBy("cx", "cy")
      .agg(min(struct(col("d2"), col("idx"), col("val"))).as("m"))
      .select(col("cx"), col("cy"), col("m.val").as("val"))
      .withColumn("tx", expr(s"cx div $w")).withColumn("ty", expr(s"cy div $h"))
      .withColumn("i", expr(s"CAST((cy % $h) * $w + cx % $w AS INT)"))
      .groupBy("tx", "ty")
      .agg(dense(col("i"), col("val")).as("raw"))
      .select(col("tx"), col("ty"),
        expr("transform(raw, v -> IF(v < 0.0D, 0.0D, v))").as("pixels"))
  }

  /** Shared dst-driven router for warps whose dst→src map is an arbitrary
    * smooth point transform (RPC, TPS): each dst tile's 4 corners map
    * through `toSrc`, the src bbox + 4 px pad picks the src tiles to ship
    * (SUPERSET — the exact kernel decides; require() fails loud if the
    * smoothness invariant ever breaks), one equi-join + one shuffle keyed
    * by dst tile, then an independent kernel per dst tile. Dst tiles with
    * zero in-grid samples drop; uncovered pixels inside an emitted tile
    * are 0. */
  private def warpPointNear(tiles: DataFrame, toSrc: (Double, Double) => (Double, Double),
                            srcW: Long, srcH: Long, dstW: Long, dstH: Long,
                            approxEps: Double = 0.0): DataFrame = {
    require(dstW % TW == 0 && dstH % TH == 0, "dst grid must be whole tiles")
    val spark = tiles.sparkSession
    import spark.implicits._
    val w = TW; val h = TH
    val nDtx = dstW / w; val nDty = dstH / h
    val nStx = (srcW + w - 1) / w; val nSty = (srcH + h - 1) / h
    val pairs = spark.range(nDtx * nDty).select(
        (col("id") % nDtx).as("_1"), floor(col("id") / nDtx).cast("long").as("_2"))
      .as[(Long, Long)]
      .flatMap { case (dtx, dty) =>
        val gxs = Seq(dtx * w, dtx * w + (w - 1))
        val gys = Seq(dty * h, dty * h + (h - 1))
        val pts = for (gx <- gxs; gy <- gys) yield toSrc(gx.toDouble, gy.toDouble)
        val sx0 = math.floor((pts.map(_._1).min - 4.0) / w).toLong
        val sx1 = math.floor((pts.map(_._1).max + 4.0) / w).toLong
        val sy0 = math.floor((pts.map(_._2).min - 4.0) / h).toLong
        val sy1 = math.floor((pts.map(_._2).max + 4.0) / h).toLong
        for {
          stx <- math.max(0L, sx0) to math.min(nStx - 1, sx1)
          sty <- math.max(0L, sy0) to math.min(nSty - 1, sy1)
        } yield (dtx, dty, stx, sty)
      }.toDF("dtx", "dty", "stx", "sty")
    val src = tiles.select(col("tx").cast("long").as("stx"),
      col("ty").cast("long").as("sty"), col("pixels"))
    pairs.join(src, Seq("stx", "sty"))
      .select(col("dtx"), col("dty"), col("stx"), col("sty"), col("pixels"))
      .as[GcpChunk]
      .groupByKey(c => (c.dtx, c.dty))
      .mapGroups { (key: (Long, Long), it: Iterator[GcpChunk]) =>
        val (dtx, dty) = key
        val srcs = new java.util.HashMap[Long, Array[Double]]()
        it.foreach(c => srcs.put(c.sty * 1048576L + c.stx, c.pixels))
        val out = new Array[Double](w * h)
        var any = false
        // sample (samp,line) into out(i); shared by the exact and approx
        // paths. A VAL lambda, not a nested def — a local def lifts to a
        // method on the (non-serializable) Raster$ module and poisons
        // the closure.
        val put: (Int, Double, Double) => Unit = (i, samp, line) => {
          val sgx = math.floor(samp).toLong; val sgy = math.floor(line).toLong
          if (sgx >= 0 && sgx < srcW && sgy >= 0 && sgy < srcH) {
            val arr = srcs.get((sgy / h) * 1048576L + sgx / w)
            require(arr != null, s"src tile (${sgx / w},${sgy / h}) not shipped to dst ($dtx,$dty)")
            out(i) = arr((sgy % h).toInt * w + (sgx % w).toInt)
            any = true
          }
        }
        if (approxEps <= 0.0) {
          var i = 0
          while (i < w * h) {
            val gdx = dtx * w + i % w; val gdy = dty * h + i / w
            val (samp, line) = toSrc(gdx.toDouble, gdy.toDouble)
            put(i, samp, line)
            i += 1
          }
        } else {
          // GDALApproxTransform along each tile row (reference:
          // alg/gdaltransformer.cpp :: GDALApproxTransform): exact evals
          // at the span ends; a span whose midpoint linear interp is
          // within eps (both dims) fills [x0,x1) by e0 + step·(x-x0)
          // with step = (e1-e0)/(x1-x0) computed ONCE (the printed-SQL
          // op order the oracle replays); otherwise split at (x0+x1)/2
          // reusing the exact midpoint as the shared child endpoint. The
          // row-end pixel always takes the row's exact right-end eval.
          var row = 0
          while (row < h) {
            val gdy = (dty * h + row).toDouble
            val rowBase = row * w
            // explicit segment stack (a recursive local def would lift
            // onto Raster$ and break closure serialization); segments
            // write disjoint [x0,x1) ranges so processing order is free
            val stack = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Long, Double, Double, Double, Double)]
            val rx0 = dtx * w; val rx1 = dtx * w + (w - 1)
            val (r0x, r0y) = toSrc(rx0.toDouble, gdy)
            val (r1x, r1y) = toSrc(rx1.toDouble, gdy)
            stack += ((rx0, rx1, r0x, r0y, r1x, r1y))
            while (stack.nonEmpty) {
              val (x0, x1, e0x, e0y, e1x, e1y) = stack.remove(stack.length - 1)
              if (x1 - x0 == 1) {
                put(rowBase + (x0 - dtx * w).toInt, e0x, e0y)
              } else {
                val xm = (x0 + x1) / 2
                val (emx, emy) = toSrc(xm.toDouble, gdy)
                val dsx = (e1x - e0x) / (x1 - x0)
                val dsy = (e1y - e0y) / (x1 - x0)
                val ix = e0x + dsx * (xm - x0)
                val iy = e0y + dsy * (xm - x0)
                if (math.abs(ix - emx) <= approxEps && math.abs(iy - emy) <= approxEps) {
                  var x = x0
                  while (x < x1) {
                    put(rowBase + (x - dtx * w).toInt,
                      e0x + dsx * (x - x0), e0y + dsy * (x - x0))
                    x += 1
                  }
                } else {
                  stack += ((x0, xm, e0x, e0y, emx, emy))
                  stack += ((xm, x1, emx, emy, e1x, e1y))
                }
              }
            }
            put(rowBase + (w - 1), r1x, r1y)
            row += 1
          }
        }
        (dtx, dty, if (any) out.toSeq else Seq.empty[Double])
      }
      .filter(_._3.nonEmpty)
      .toDF("tx", "ty", "pixels")
  }

  final case class GridChunk(dtx: Long, dty: Long, tx: Long, ty: Long, pixels: Array[Double])

  /** Re-grid a tiled pixel grid (srcW×srcH px) to a different resolution
    * (dstW×dstH px) with the AVERAGE or MODE box kernel — `gdalwarp -ts
    * dstW dstH -r average|mode` for a same-SRS linear transform
    * (reference: alg/gdalwarpkernel.cpp :: GWKAverageOrModeThread). Every
    * dst pixel averages the source pixels whose CENTERS fall in its
    * footprint; inclusion tests are pure integer arithmetic
    * ((2·gx+1)·dstW >= 2·dpx·srcW etc.), so with integer-valued sources
    * the result is exact and a SQL oracle reproduces it bit-for-bit.
    *
    * Distribution is a source-window chunk exchange (the warp join in
    * miniature): each src tile ships itself to the ≤4 dst tiles whose
    * footprint overlaps it — shuffle O(src tiles), dst universe derived
    * from src coverage, then one independent kernel per dst tile. */
  def regrid(tiles: DataFrame, srcW: Long, srcH: Long, dstW: Long, dstH: Long,
             method: String = "average", nodata: Option[Double] = None): DataFrame = {
    require(dstW % TW == 0 && dstH % TH == 0, "dst grid must be whole tiles")
    require(Set("average", "mode", "min", "max", "sum", "med", "q1", "q3")(method),
      s"regrid: near/bilinear/cubic go through warp; got $method")
    // -r med/q1/q3 (reference: alg/gdalwarpkernel.cpp ::
    // GWKAverageOrModeThread, GWKAOM_Quant with quant 0.5/0.25/0.75):
    // the value at SELECTION index ceil(q·n)−1 of the sorted valid
    // sources — pure order statistic, no interpolation, so integer
    // sources stay bit-exact and the SQL oracle replays it with a
    // row_number window.
    val quant = method match {
      case "med" => 0.5
      case "q1"  => 0.25
      case "q3"  => 0.75
      case _     => -1.0
    }
    // -srcnodata (reference: alg/gdalwarpkernel.cpp GWKAverageOrModeThread
    // honoring the nodata masks): declared-nodata sources are excluded
    // from the kernel exactly like off-grid pixels; an all-excluded
    // window writes the nodata value back (dstnodata == srcnodata here)
    val nd = nodata.getOrElse(Double.NaN) // NaN compares false to everything
    val fallback = nodata.getOrElse(0.0)
    val spark = tiles.sparkSession
    import spark.implicits._
    val w = TW; val h = TH
    val chunks = tiles.select(col("tx").cast("long"), col("ty").cast("long"), col("pixels"))
      .as[(Long, Long, Seq[Double])]
      .flatMap { case (tx, ty, px) =>
        val p = px.toArray
        // dst pixels containing any of my centers: d = floor((2g+1)·dstW/(2·srcW))
        val dx0 = (2 * tx * w + 1) * dstW / (2 * srcW)
        val dx1 = (2 * (tx + 1) * w - 1) * dstW / (2 * srcW)
        val dy0 = (2 * ty * h + 1) * dstH / (2 * srcH)
        val dy1 = (2 * (ty + 1) * h - 1) * dstH / (2 * srcH)
        for {
          dtx <- (dx0 / w) to (dx1 / w)
          dty <- (dy0 / h) to (dy1 / h)
        } yield GridChunk(dtx, dty, tx, ty, p)
      }
    chunks.groupByKey(c => (c.dtx, c.dty))
      .mapGroups { (key: (Long, Long), it: Iterator[GridChunk]) =>
        val (dtx, dty) = key
        val srcTiles = new java.util.HashMap[Long, Array[Double]]()
        // collision-free pack: ty*CONST collides once tx exceeds CONST
        // (srcW >= CONST·w px would silently substitute wrong source tiles)
        it.foreach(c => srcTiles.put((c.ty << 32) | c.tx, c.pixels))
        def src(gx: Long, gy: Long): Double = {
          if (gx < 0 || gy < 0 || gx >= srcW || gy >= srcH) return Double.NaN
          val t = srcTiles.get(((gy / h) << 32) | (gx / w))
          if (t == null) Double.NaN else t(((gy % h) * w + gx % w).toInt)
        }
        val out = new Array[Double](w * h)
        var py = 0
        while (py < h) {
          val dgy = dty * h + py
          var px = 0
          while (px < w) {
            val dgx = dtx * w + px
            // src centers in the dst pixel: 2·dgx·srcW <= (2·gx+1)·dstW < 2·(dgx+1)·srcW
            var sum = 0.0; var n = 0L
            var mn = Double.MaxValue; var mx = -Double.MaxValue
            val counts = if (method == "mode") new java.util.TreeMap[Double, Int]() else null
            val qvals = if (quant >= 0) scala.collection.mutable.ArrayBuffer.empty[Double] else null
            var gy = 2 * dgy * srcH / (2 * dstH) // first candidate row
            while ((2 * gy + 1) * dstH < 2 * dgy * srcH) gy += 1
            while ((2 * gy + 1) * dstH < 2 * (dgy + 1) * srcH) {
              var gx = 2 * dgx * srcW / (2 * dstW)
              while ((2 * gx + 1) * dstW < 2 * dgx * srcW) gx += 1
              while ((2 * gx + 1) * dstW < 2 * (dgx + 1) * srcW) {
                val v = src(gx, gy)
                if (!v.isNaN && v != nd) {
                  if (counts != null) counts.merge(v, 1, (a, b) => a + b)
                  else if (qvals != null) qvals += v
                  else {
                    sum += v; n += 1
                    if (v < mn) mn = v
                    if (v > mx) mx = v
                  }
                }
                gx += 1
              }
              gy += 1
            }
            out(py * w + px) =
              if (counts != null) {
                if (counts.isEmpty) fallback
                else {
                  var best = 0.0; var bestN = 0
                  val itc = counts.entrySet().iterator()
                  while (itc.hasNext) {
                    val e = itc.next()
                    if (e.getValue > bestN) { best = e.getKey; bestN = e.getValue }
                  }
                  best
                }
              } else if (qvals != null) {
                if (qvals.isEmpty) fallback
                else {
                  val a = qvals.toArray
                  java.util.Arrays.sort(a)
                  // order statistic at ceil(q·n)−1; q·n is exact here
                  // (q ∈ {1/4, 1/2, 3/4} dyadic, n a small int)
                  a(math.ceil(quant * a.length).toInt - 1)
                }
              } else if (n == 0) fallback
              else method match {
                // GRA_Min / GRA_Max / GRA_Sum (reference:
                // alg/gdalwarpkernel.cpp :: GWKAverageOrModeThread,
                // nAlgo 2/3/5): extreme / running total of the valid
                // contributing sources; sums of integer-valued pixels
                // stay exact in a double far below 2^53
                case "min" => mn
                case "max" => mx
                case "sum" => sum
                case _     => sum / n
              }
            px += 1
          }
          py += 1
        }
        (dtx, dty, out.toSeq)
      }
      .toDF("tx", "ty", "pixels")
  }

  /** Nearest 2× upsample: each tile at zoom z-1 emits its 4 children at
    * zoom z (the inverse of pyramidUp; reference: gcore/rasterio.cpp
    * nearest upsampling path). Pure generate + codegen'd HOF — no shuffle. */
  def upsample2x(tiles: DataFrame): DataFrame =
    tiles
      .withColumn("__qx", explode(expr("array(0, 1)")))
      .withColumn("__qy", explode(expr("array(0, 1)")))
      .select(
        (col("zoom") + 1).as("zoom"),
        (col("tx") * 2 + col("__qx")).as("tx"),
        (col("ty") * 2 + col("__qy")).as("ty"),
        col("band"),
        expr(s"""transform(sequence(0, ${TW * TH - 1}), i ->
          element_at(pixels, CAST(
            (__qy * ${TH / 2} + (i div $TW) div 2) * $TW
              + __qx * ${TW / 2} + (i % $TW) div 2 AS INT) + 1))""").as("pixels"))

  /** gdaladdo -r gauss (reference: gcore/overview.cpp ::
    * GDALResampleChunk32R_Gauss, factor-2 path): parent pixel (px, py) is
    * the 3×3 Gaussian [1 2 1; 2 4 2; 1 2 1] centered on child pixel
    * (2px, 2py), divided by the sum of IN-GRID weights (the kernel
    * truncates at raster borders exactly like the reference). The window
    * reaches 2px−1 but at most 2px+1 ≤ 2w−1, so the parent needs a
    * ONE-child-pixel halo on its WEST/NORTH sides only: each odd-tx child
    * ships one column, each odd-ty child one row, odd-odd corners one
    * pixel — O(perimeter) on top of the O(area) child→parent regroup
    * every pyramid build pays (one shuffle total). Weighted sums of
    * byte-range integers stay exact in doubles regardless of add order;
    * the single division is IEEE-replayable by a SQL oracle. Missing
    * child quadrants (sparse tile tables) truncate the kernel like
    * borders. */
  def pyramidGauss(tiles: DataFrame): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val w = TW; val h = TH
    val parts = tiles
      .select(col("zoom").cast("int"), col("tx").cast("long"),
        col("ty").cast("long"), col("pixels"))
      .as[(Int, Long, Long, Seq[Double])]
      .flatMap { case (z, tx, ty, px) =>
        val p = px.toArray
        val nx = 1L << (z + 1); val ny = 1L << z
        // (zoom-1, ptx, pty, kind 0=quadrant/1=west col/2=north row/3=corner, qx, qy, payload)
        val out = Array.newBuilder[(Int, Long, Long, Int, Int, Int, Array[Double])]
        out += ((z - 1, tx / 2, ty / 2, 0, (tx % 2).toInt, (ty % 2).toInt, p))
        if (tx % 2 == 1 && tx + 1 < nx)
          out += ((z - 1, (tx + 1) / 2, ty / 2, 1, 0, (ty % 2).toInt,
            Array.tabulate(h)(y => p(y * w + w - 1))))
        if (ty % 2 == 1 && ty + 1 < ny)
          out += ((z - 1, tx / 2, (ty + 1) / 2, 2, (tx % 2).toInt, 0,
            Array.tabulate(w)(x => p((h - 1) * w + x))))
        if (tx % 2 == 1 && ty % 2 == 1 && tx + 1 < nx && ty + 1 < ny)
          out += ((z - 1, (tx + 1) / 2, (ty + 1) / 2, 3, 0, 0, Array(p(h * w - 1))))
        out.result()
      }
    parts.groupByKey(t => (t._1, t._2, t._3))
      .mapGroups { (key: (Int, Long, Long), it: Iterator[(Int, Long, Long, Int, Int, Int, Array[Double])]) =>
        val (z1, ptx, pty) = key
        // buffer covers child pixels [2·ptx·w − 1, 2·ptx·w + 2w − 1] per axis
        val bw = 2 * w + 1; val bh = 2 * h + 1
        val buf = Array.fill(bw * bh)(Double.NaN)
        it.foreach { case (_, _, _, kind, qx, qy, pl) =>
          kind match {
            case 0 =>
              var y = 0
              while (y < h) {
                System.arraycopy(pl, y * w, buf, (qy * h + y + 1) * bw + qx * w + 1, w); y += 1
              }
            case 1 => var y = 0; while (y < h) { buf((qy * h + y + 1) * bw) = pl(y); y += 1 }
            case 2 => var x = 0; while (x < w) { buf(qx * w + x + 1) = pl(x); x += 1 }
            case 3 => buf(0) = pl(0)
          }
        }
        val kw = Array(1.0, 2.0, 1.0)
        val outPx = new Array[Double](w * h)
        var py = 0
        while (py < h) {
          var px = 0
          while (px < w) {
            var s = 0.0; var wsum = 0.0
            var dy = -1
            while (dy <= 1) {
              var dx = -1
              while (dx <= 1) {
                val v = buf((2 * py + 1 + dy) * bw + 2 * px + 1 + dx)
                if (!v.isNaN) { val ww = kw(dx + 1) * kw(dy + 1); s += ww * v; wsum += ww }
                dx += 1
              }
              dy += 1
            }
            outPx(py * w + px) = s / wsum
            px += 1
          }
          py += 1
        }
        (z1, ptx, pty, outPx.toSeq)
      }
      .toDF("zoom", "tx", "ty", "pixels")
  }

  /** gdal_retile analog (reference: swig/python/scripts/gdal_retile.py ::
    * tileImage/createTiles): re-chunk a raster stored as srcNx×srcNy TW×TH
    * tiles into outW×outH output tiles on the SAME pixel grid, edge tiles
    * CLIPPED to the raster bounds (gdal_retile never pads). Plan shape for
    * 100 TB: each source tile emits one strip row per (local row ×
    * overlapped output column) — ≤ TH·(⌈TW/outW⌉+1) rows carrying array
    * SLICES, never per-pixel rows — and ONE hash aggregate per output tile
    * assembles the row-major pixel array as flatten(array_sort(strips)):
    * the strips tile the output exactly (every output pixel has exactly
    * one source), so the (dy, dx0)-sorted concatenation IS the row-major
    * array. One exchange, carrying each pixel once — the inherent data
    * motion of re-chunking. */
  def retile(tiles: DataFrame, srcNx: Long, srcNy: Long,
             outW: Int, outH: Int, overlap: Int = 0): DataFrame = {
    // gdal_retile.py -overlap: output tiles start at multiples of the
    // STRIDE (tile size − overlap) while the offset is inside the grid,
    // so each interior pixel lands in ⌈outW/sx⌉ output tiles per axis —
    // the replication is part of the output contract, not a shuffle
    // amplification bug. overlap = 0 degenerates to disjoint re-chunking.
    require(overlap >= 0 && overlap < outW && overlap < outH,
      s"retile: overlap $overlap must be in [0, min(outW, outH))")
    val sx = outW - overlap; val sy = outH - overlap
    val gw = srcNx * TW; val gh = srcNy * TH
    // ceil((g - size + 1)/stride) with a guaranteed-nonnegative numerator
    // (truncating div == floor div only above zero — both engines agree
    // there, which is why the CASE guards the small-g branch)
    def firstOut(g: String, size: Int, stride: Int): String =
      s"CASE WHEN $g <= ${size - 1} THEN 0L ELSE ($g - $size + $stride) div $stride END"
    val strips = tiles
      .withColumn("sy", explode(expr(s"sequence(0, ${TH - 1})")))
      .withColumn("gy", col("ty") * TH + col("sy"))
      .withColumn("oty", explode(expr(
        s"sequence(${firstOut("gy", outH, sy)}, gy div $sy)")))
      .withColumn("dy", col("gy") - col("oty") * sy)
      .withColumn("otx", explode(expr(
        s"sequence(${firstOut(s"(tx * $TW)", outW, sx)}, (tx * $TW + ${TW - 1}) div $sx)")))
      .withColumn("lo", greatest(lit(0L), col("otx") * sx - col("tx") * TW))
      .withColumn("hi", least(lit(TW.toLong), col("otx") * sx + outW - col("tx") * TW))
      .where(col("hi") > col("lo"))
      .withColumn("dx0", col("tx") * TW + col("lo") - col("otx") * sx)
      .select(col("otx"), col("oty"), col("dy"), col("dx0"),
        expr(s"slice(pixels, CAST(sy * $TW + lo + 1 AS INT), CAST(hi - lo AS INT))")
          .as("vals"))
    strips.groupBy("otx", "oty")
      .agg(flatten(expr(
        "transform(array_sort(collect_list(struct(dy, dx0, vals))), s -> s.vals)"))
        .as("pixels"))
      .select(col("otx").as("tx"), col("oty").as("ty"),
        expr(s"CAST(least($outW, $gw - otx * $sx) AS INT)").as("w"),
        expr(s"CAST(least($outH, $gh - oty * $sy) AS INT)").as("h"),
        col("pixels"))
  }

  /** gdaltindex analog (reference: apps/gdaltindex.cpp :: main): one index
    * row per raster tile — the location string the utility writes into the
    * index layer plus the tile's geodetic bounding rectangle from the
    * zoom-z global geotransform (TileMath.geoTileBounds closed form;
    * 360/2^(z+1) degrees per tile — exact dyadic-scaled doubles at the
    * test zooms). Pure scan→project, shuffle-free. */
  def tindex(tiles: DataFrame, zoom: Int): DataFrame = {
    val dx = 360.0 / (1L << (zoom + 1)); val dy = 180.0 / (1L << zoom)
    tiles.select(
      format_string(s"z${zoom}_%d_%d.tif", col("tx"), col("ty")).as("location"),
      (col("tx") * dx - 180.0).as("xmin"),
      (lit(90.0) - (col("ty") + 1) * dy).as("ymin"),
      ((col("tx") + 1) * dx - 180.0).as("xmax"),
      (lit(90.0) - col("ty") * dy).as("ymax"))
  }

  /** Pansharpen, weighted-Brovey (reference: alg/gdalpansharpen.cpp ::
    * GDALPansharpenOperation::WeightedBrovey): out_b = ms_b · pan /
    * pseudo_pan with equal weights, pseudo_pan = mean of the ms bands.
    * ms bands arrive one zoom COARSER (the usual satellite geometry) and
    * are nearest-upsampled to the pan grid; the ratio is computed in pure
    * BIGINT fixed point (scale 1000, out = ms·pan·nBands·1000 div Σms) so
    * integer inputs give a bit-exact, oracle-checkable result.
    * pan: (zoom, tx, ty, pixels); ms: (zoom, tx, ty, band, pixels) at
    * zoom-1 with bands 1..nBands. Output: one row per (band, tile). */
  def pansharpen(pan: DataFrame, msCoarse: DataFrame, nBands: Int,
                 scale: Int = 1000, weights: Seq[Long] = Nil): DataFrame = {
    // -w band weights (alg/gdalpansharpen.cpp psOptions->padfWeights):
    // pseudo_pan = Σ w_b·ms_b / Σw, so the fixed-point ratio becomes
    // ms·pan·Σw·scale div Σ(w_b·ms_b) — integer weights keep every step
    // exact BIGINT; empty = the equal-weight default (w_b = 1)
    val ws = if (weights.isEmpty) Seq.fill(nBands)(1L) else weights
    require(ws.size == nBands && ws.forall(_ > 0), s"need $nBands positive weights")
    val wSum = ws.sum
    val up = upsample2x(msCoarse)
    val wide = up.groupBy("zoom", "tx", "ty")
      .agg(sort_array(collect_list(struct(col("band"), col("pixels")))).as("bands"))
    val joined = pan.select(col("zoom"), col("tx"), col("ty"), col("pixels").as("__pan"))
      .join(wide, Seq("zoom", "tx", "ty"))
    val denExpr = (1 to nBands)
      .map(b => s"${ws(b - 1)}L * CAST(element_at(bands[${b - 1}].pixels, i + 1) AS BIGINT)")
      .mkString(" + ")
    val perBand = (1 to nBands).map { b =>
      joined.select(col("zoom"), col("tx"), col("ty"), lit(b).as("band"),
        expr(s"""transform(sequence(0, ${TW * TH - 1}), i ->
          CAST(IF(($denExpr) = 0, 0L,
            (CAST(element_at(bands[${b - 1}].pixels, i + 1) AS BIGINT)
             * CAST(element_at(__pan, i + 1) AS BIGINT)
             * ${wSum * scale}L) div ($denExpr)) AS DOUBLE))""").as("pixels"))
    }
    perBand.reduce(_ unionByName _)
  }

  /** rgb2pct (reference: alg/gdalmediancut.cpp ::
    * GDALComputeMedianCutPCT + swig/python/scripts/rgb2pct.py): quantized
    * RGB histogram (one distributed hash aggregate — shuffle carries
    * ≤ 2^(3·quantBits) bins, not pixels) → median-cut palette on the
    * driver (histogram-sized, exactly like the reference) → nearest-color
    * index map per pixel (order-free; the reference's Floyd–Steinberg
    * dither is a sequential scanline recurrence — documented divergence
    * in core.MedianCut). ms: (zoom, tx, ty, band, pixels) bands 1..3.
    * Returns (index tiles, sorted packed palette). */
  def rgb2pct(ms: DataFrame, paletteSize: Int = 256,
              quantBits: Int = 5,
              allowLargePalette: Boolean = false): (DataFrame, Array[Int]) = {
    require(quantBits >= 1 && quantBits <= 8, "quantBits in [1,8]")
    // The quantized histogram is a DRIVER collect of up to 2^(3·quantBits)
    // bins: ≤262k at 6 bits is fine, but an adversarial input at 8 bits can
    // return 2^24 distinct bins — a multi-GB driver action at 100-TB scale.
    // Opt in explicitly when the input's color count is known-bounded.
    require(quantBits <= 6 || allowLargePalette,
      s"rgb2pct: quantBits=$quantBits collects up to 2^${3 * quantBits} histogram " +
        "bins to the driver; pass allowLargePalette=true to accept that")
    val wide = ms.groupBy("zoom", "tx", "ty")
      .agg(sort_array(collect_list(struct(col("band"), col("pixels")))).as("bands"))
      .select(col("zoom"), col("tx"), col("ty"),
        col("bands")(0)("pixels").as("__r"),
        col("bands")(1)("pixels").as("__g"),
        col("bands")(2)("pixels").as("__b"))
      .transform(graft.io.Checkpoints.cached)
    val sh = 8 - quantBits
    def q(c: String, i: String) =
      s"shiftleft(shiftright(CAST(element_at($c, $i + 1) AS INT), $sh), $sh)"
    val hist = wide
      .select(col("__g"), col("__b"), posexplode(col("__r")).as(Seq("__i", "__rv")))
      .select(expr(s"(shiftleft(shiftright(CAST(__rv AS INT), $sh), $sh) * 65536"
        + s" + ${q("__g", "__i")} * 256 + ${q("__b", "__i")})").as("__c"))
      .groupBy("__c").count()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val pal = graft.core.MedianCut.palette(hist, paletteSize)
    import org.apache.spark.sql.graftshim.Columns.{of => expr2colP, expr => asExprP}
    val mapped = wide.select(col("zoom"), col("tx"), col("ty"),
      expr2colP(graft.functions.PaletteMap(
        asExprP(col("__r")), asExprP(col("__g")), asExprP(col("__b")), pal)).as("pixels"))
    (mapped, pal)
  }

  /** Raster attribute table (reference: gcore/gdal_rat.cpp ::
    * GDALDefaultRasterAttributeTable, the `gdalinfo -stats`/RAT per-class
    * row model): one row per class (value bucket) with count / min / max
    * / sum over the band. Plan: per-tile PARTIAL rows via codegen'd HOFs
    * over the class domain — nClasses rows per tile, never per-pixel —
    * then ONE hash agg; the per-tile sum is cast to BIGINT (pixel values
    * are integer-valued doubles) so the cross-tile SUM is exact and
    * combine-order-free, which is what makes the oracle comparable. */
  def rat(tiles: DataFrame, nClasses: Int, classWidth: Double): DataFrame = {
    val cls = s"CAST(floor(p / ${classWidth}D) AS INT)"
    // OPTIMIZATION r6 (guide §1.2 per-task work): one filter + one fold
    // per class instead of four independent filter passes (size /
    // array_min / array_max / sum re-filtered the tile each time — 4·
    // nClasses·pixels lambda evals per tile; now (nClasses+1)·pixels).
    // Value-identical: the fold visits the same filtered elements in the
    // same order, so cnt/min/max match trivially and the double sum is
    // the same IEEE op sequence.
    tiles
      .select(posexplode(expr(
        s"""transform(sequence(0, ${nClasses - 1}), c ->
           aggregate(filter(pixels, p -> $cls = c),
             named_struct('cnt', 0, 'mn', CAST(NULL AS DOUBLE),
                          'mx', CAST(NULL AS DOUBLE), 'sm', 0.0D),
             (a, p) -> named_struct(
               'cnt', a.cnt + 1,
               'mn', least(coalesce(a.mn, p), p),
               'mx', greatest(coalesce(a.mx, p), p),
               'sm', a.sm + p),
             a -> named_struct('cnt', a.cnt, 'mn', a.mn, 'mx', a.mx,
               'sm', CAST(a.sm AS BIGINT))))""")))
      .select(col("pos").cast("long").as("cls"), col("col.*"))
      .groupBy("cls")
      .agg(sum(col("cnt")).cast("long").as("cnt"), min(col("mn")).as("mn"),
        max(col("mx")).as("mx"), sum(col("sm")).as("sm"))
      .filter(col("cnt") > 0)
  }

  /** gdalinfo -stats / GDALRasterBand::ComputeStatistics analog
    * (reference gcore/gdalrasterband.cpp :: ComputeStatistics): exact
    * global min/max/mean/stddev (population, GDAL's definition) over all
    * tiles of a band. Per-tile PARTIALS via codegen'd HOFs — one 5-field
    * row per tile, never a per-pixel explode — then ONE hash agg to the
    * global sums: the 100-TB shape, the shuffle carries O(tiles) rows of
    * ~40 bytes. Count/sum/sumsq stay exact integers (byte-valued pixels:
    * per-tile double accumulation < 2^53, global BIGINT sums < 2^63), so
    * the final mean/std doubles are a FIXED op sequence over exact
    * integers — bit-identical in any IEEE engine, no quantization. The
    * mean/std SQL strings are shared verbatim with the DuckDB oracle
    * (q83 same-string trick). */
  val bandStatsMeanSql = "CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
  val bandStatsStdSql: String =
    s"sqrt(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) - ($bandStatsMeanSql) * ($bandStatsMeanSql))"

  def bandStats(tiles: DataFrame): DataFrame =
    tiles
      .select(
        expr("CAST(size(pixels) AS BIGINT)").as("n"),
        expr("CAST(aggregate(pixels, 0.0D, (a, p) -> a + p) AS BIGINT)").as("s"),
        expr("CAST(aggregate(pixels, 0.0D, (a, p) -> a + p * p) AS BIGINT)").as("sq"),
        expr("array_min(pixels)").as("mn"),
        expr("array_max(pixels)").as("mx"))
      .agg(sum("n").as("n"), sum("s").as("s"), sum("sq").as("sq"),
        min("mn").as("mn"), max("mx").as("mx"))
      .select(col("n"), col("mn").cast("long").as("mn"), col("mx").cast("long").as("mx"),
        expr(bandStatsMeanSql).as("mean"), expr(bandStatsStdSql).as("std"))

  /** pct2rgb (reference: swig/python/scripts/pct2rgb.py) — the inverse of
    * rgb2pct: expand a palette-indexed raster back to 3 RGB bands via a
    * plan-time literal palette lookup (codegen'd element_at over a ≤256
    * literal array; no join, no UDF). Exact round-trip with rgb2pct when
    * the palette holds every color present. */
  def pct2rgb(mapped: DataFrame, palette: Array[Int]): DataFrame = {
    val bands = Seq((1, 16), (2, 8), (3, 0)).map { case (b, shift) =>
      val lits = palette.map(p => (p >> shift) & 0xff).mkString(",")
      struct(lit(b).as("band"),
        expr(s"transform(pixels, v -> CAST(element_at(array($lits), CAST(v AS INT) + 1) AS DOUBLE))")
          .as("pixels"))
    }
    mapped.select(col("zoom"), col("tx"), col("ty"), explode(array(bands: _*)).as("o"))
      .select(col("zoom"), col("tx"), col("ty"), col("o.band").as("band"),
        col("o.pixels").as("pixels"))
  }

  /** Cutline mask (reference: alg/gdalcutline.cpp ::
    * GDALWarpCutlineMasker): rasterize the cutline polygons into 0/1 mask
    * tiles at the raster's zoom (same scanline center rule as the
    * reference's non-ALL_TOUCHED cutline), equi-join on the tile key, and
    * zero out pixels outside. Tiles with no masked pixel drop entirely
    * (the nodata analog; blend distance not implemented — documented).
    * Plan: one rasterize + one codegen'd zip_with per tile; no custom
    * kernel. Expects/returns (zoom, tx, ty, pixels). */
  def cutline(tiles: DataFrame, cut: DataFrame, geomCol: String, zoom: Int): DataFrame = {
    val mask = rasterize(cut.withColumn("__burn", lit(1.0)), geomCol, "__burn", zoom, mode = "max")
      .select(col("tx"), col("ty"), col("pixels").as("__mask"))
    tiles.join(mask, Seq("tx", "ty"), "inner")
      .withColumn("pixels", expr("zip_with(pixels, __mask, (v, m) -> v * m)"))
      .drop("__mask")
  }

  /** Cutline with blend distance (reference: alg/gdalcutline.cpp ::
    * GDALWarpCutlineMasker + CUTLINE_BLEND_DIST — previously the
    * documented R7 divergence): per-pixel weights in fixed-point millis —
    * deep inside 1000, inside within blendPx of the edge ramping
    * 1000→500, outside within blendPx ramping 500→0, far outside 0
    * (GDAL's density ramp). Edge distance is the exact integer min-d² to
    * the nearest opposite-class pixel from TWO runs of the R5 proximity
    * operator whose targets are prefiltered to the class boundary by an
    * `edge8` focal pass. The prefilter is exact (step-toward lemma: the
    * nearest opposite-class pixel always has an own-class 8-neighbor, so
    * it is boundary-marked) and shrinks the proximity target side from
    * O(area) to O(perimeter) — the difference between shuffling a
    * coastline and shuffling an ocean at 100-TB grids. sqrt is
    * IEEE-correctly-rounded, so the weight arithmetic is bit-identical in
    * any engine replicating the op order (the DuckDB oracle does).
    * @return per-pixel rows (tx, ty, i, v, w_milli, b_milli) */
  def cutlineBlend(tiles: DataFrame, cut: DataFrame, geomCol: String, zoom: Int,
                   w: Int, h: Int, nxTiles: Long, nyTiles: Long, blendPx: Int): DataFrame = {
    val mask = rasterize(cut.withColumn("__burn", lit(1.0)), geomCol, "__burn", zoom, mode = "max")
      .select(col("tx"), col("ty"), col("pixels").as("__m"))
    // feeds the edge focal, the comb zip AND the final weight join —
    // cache so the rasterize chain runs once (OPTIMIZATION r6)
    val maskFull = tiles
      .select(col("tx").cast("long").as("tx"), col("ty").cast("long").as("ty"))
      .join(mask, Seq("tx", "ty"), "left")
      .withColumn("pixels",
        coalesce(col("__m"), expr(s"array_repeat(CAST(0.0 AS DOUBLE), ${w * h})")))
      .select("tx", "ty", "pixels")
      .transform(graft.io.Checkpoints.cached)
    val edge = Focal.focal(maskFull, w, h, nxTiles, nyTiles, "edge8")
      .select(col("tx"), col("ty"), col("pixels").as("__e"))
    // comb per pixel: 2·mask + edge ∈ {0 out, 1 out-boundary, 2 in, 3 in-boundary}
    val comb = maskFull.join(edge, Seq("tx", "ty"))
      .withColumn("pixels", expr("zip_with(pixels, __e, (m, e) -> m * 2.0D + e)"))
      .select("tx", "ty", "pixels")
      // probed by BOTH distance passes (outer + inner blend) — cache so
      // the mask + edge-focal chain runs once (OPTIMIZATION r6)
      .transform(graft.io.Checkpoints.cached)
    // sparse (gx, gy, d2) boundary-distance rows re-keyed and AGGREGATED to
    // per-tile DENSE arrays (-1 at untouched indexes): the join probe side
    // stays ONE ROW PER TILE instead of one row per pixel — at 100-TB
    // grids the raster never shuffles as pixel rows, only the
    // O(perimeter·blend) distance entries do. Dense array, NOT a map:
    // Spark's map element_at is an O(entries) scan, which made the
    // per-tile weight transform quadratic; array element_at is O(1).
    val dense = udaf(new SparseToDense(w * h))
    def tileD2(mask01: Double => Boolean, name: String): DataFrame =
      Proximity.proximity(comb, w, h, nxTiles, nyTiles, mask01, blendPx.toDouble)
        .withColumn("tx", expr(s"gx div $w"))
        .withColumn("ty", expr(s"gy div $h"))
        .withColumn("i", expr(s"CAST((gy % $h) * $w + gx % $w AS INT)"))
        .groupBy("tx", "ty")
        .agg(dense(col("i"), col("dist2").cast("double")).as(name))
    val dOut = tileD2(_ == 1.0, "__d2o")
    val dIn = tileD2(_ == 3.0, "__d2i")
    // per-tile weight arrays in one codegen'd transform (a NULL array —
    // left-join miss — or a -1 sentinel means far-from-edge defaults)
    tiles
      .join(maskFull.withColumnRenamed("pixels", "__mpx"), Seq("tx", "ty"))
      .join(dOut, Seq("tx", "ty"), "left")
      .join(dIn, Seq("tx", "ty"), "left")
      .withColumn("__w", expr(
        s"""transform(sequence(0, ${w * h - 1}), i ->
              CASE WHEN element_at(__mpx, i + 1) >= 0.5D THEN
                CASE WHEN __d2o IS NULL OR element_at(__d2o, i + 1) < 0.0D THEN 1000L
                     ELSE CAST(floor(500.0 + (500.0 * sqrt(element_at(__d2o, i + 1))) / ${blendPx}.0) AS BIGINT) END
              ELSE
                CASE WHEN __d2i IS NULL OR element_at(__d2i, i + 1) < 0.0D THEN 0L
                     ELSE CAST(floor(500.0 - (500.0 * sqrt(element_at(__d2i, i + 1))) / ${blendPx}.0) AS BIGINT) END
              END)"""))
      // per-pixel contract rows, emitted POST-join (pure explode of the
      // per-tile result; no per-pixel row ever feeds a join)
      .select(col("tx"), col("ty"), col("__w"), posexplode(col("pixels")).as(Seq("i", "v")))
      .withColumn("w_milli", expr("element_at(__w, i + 1)"))
      .withColumn("b_milli", expr("CAST(v AS BIGINT) * w_milli"))
      .select("tx", "ty", "i", "v", "w_milli", "b_milli")
  }

  /** Mosaic: priority coalesce of overlapping tile sources
    * (reference: apps/gdalbuildvrt.cpp, swig/python/scripts/gdal_merge.py)
    * — highest priority wins per tile via max_by. */
  def mosaic(tiles: DataFrame, priorityCol: String): DataFrame =
    tiles.groupBy("zoom", "tx", "ty")
      .agg(max_by(col("pixels"), col(priorityCol)).as("pixels"))

  /** One VRT source's pixel chain (reference: frmts/vrt/vrtsources.cpp ::
    * VRTComplexSource — NODATA, ScaleOffset, LUT, in that order).
    * The LUT is piecewise linear over sorted (x, y) breakpoints, clamped
    * to the end values outside the range; the documented op order is
    * y_i + ((v - x_i) * (y_{i+1} - y_i)) / (x_{i+1} - x_i), which a SQL
    * oracle replays bit-for-bit (pure arithmetic, no transcendentals). */
  final case class VrtSource(priority: Int,
                             nodata: Option[Double] = None,
                             scale: Double = 1.0, offset: Double = 0.0,
                             lut: Seq[(Double, Double)] = Nil)

  /** VRT compose (reference: frmts/vrt/vrtsources.cpp ::
    * VRTComplexSource::RasterIO over apps/gdalbuildvrt.cpp stacking):
    * per-source NODATA→null / scale·v+offset / LUT chains run as
    * codegen'd `transform`s on each (tile, source) row, then ONE hash
    * aggregate per tile folds the sources in priority order with a
    * per-PIXEL coalesce (higher priority wins where its value is not
    * nodata — the VRT per-pixel rule, not mosaic's per-tile max_by).
    * Uncovered pixels end at `background` (VRTDataset's dest nodata).
    * Input: (tx, ty, src_id, pixels); output: (tx, ty, pixels).
    * Scale shape: map-side transforms + one shuffle keyed by tile —
    * sources-per-tile is small and bounded, so the fold is O(srcs·w·h)
    * per tile with no per-pixel shuffle rows. */
  def vrtCompose(sources: DataFrame, cfgs: Map[Int, VrtSource], w: Int, h: Int,
                 background: Double = 0.0): DataFrame = {
    def lutSql(c: VrtSource): String => String = { v =>
      if (c.lut.isEmpty) v
      else {
        val bp = c.lut.sortBy(_._1)
        val cases = new StringBuilder(s"CASE WHEN $v <= ${bp.head._1}D THEN ${bp.head._2}D")
        for (Seq((x0, y0), (x1, y1)) <- bp.sliding(2)) {
          cases ++= s" WHEN $v <= ${x1}D THEN ${y0}D + (($v - ${x0}D) * ${y1 - y0}D) / ${x1 - x0}D"
        }
        cases ++= s" ELSE ${bp.last._2}D END"
        cases.result()
      }
    }
    def chainSql(c: VrtSource): String = {
      val scaled = s"(p * ${c.scale}D + ${c.offset}D)"
      val lutted = lutSql(c)(scaled)
      c.nodata match {
        case Some(nd) => s"transform(pixels, p -> CASE WHEN p = ${nd}D THEN CAST(NULL AS DOUBLE) ELSE $lutted END)"
        case None     => s"transform(pixels, p -> $lutted)"
      }
    }
    val branches = cfgs.toSeq.sortBy(_._1).map { case (id, c) =>
      when(col("src_id") === id, expr(chainSql(c)))
    }
    val transformed = sources
      .withColumn("__px", coalesce(branches: _*))
      .withColumn("__prio", coalesce(cfgs.toSeq.sortBy(_._1).map { case (id, c) =>
        when(col("src_id") === id, lit(c.priority)) }: _*))
      .select(col("tx"), col("ty"), col("__prio"), col("__px"))
    transformed.groupBy("tx", "ty")
      .agg(expr(
        s"""transform(
              aggregate(
                sort_array(collect_list(struct(__prio, __px))),
                array_repeat(CAST(NULL AS DOUBLE), ${w * h}),
                (acc, s) -> zip_with(acc, s.__px, (a, b) -> coalesce(b, a))),
              p -> coalesce(p, ${background}D))""").as("pixels"))
  }

  final case class Chunk(dtx: Long, dty: Long, off: Int, vals: Array[Double])

  /** gdal_translate analog (reference: apps/gdal_translate.cpp /
    * gcore/rasterio.cpp dtype convert + `-srcwin` + `-scale`): crop the
    * global pixel window [x0, x0+outW) × [y0, y0+outH), re-tile it to a
    * fresh w×h dst grid anchored at the window origin, and apply
    * v' = clamp(v·scale + offset). Re-tiling is row-run chunk exchange —
    * each src tile ships only its overlapping row segments, split at dst
    * tile boundaries (no per-pixel shuffle rows), then one aggregate
    * assembles each dst tile. Missing coverage stays 0 (nodata analog).
    * Output: (tx, ty, pixels) on the dst grid. */
  def translate(tiles: DataFrame, w: Int, h: Int,
                x0: Long, y0: Long, outW: Long, outH: Long,
                scale: Double = 1.0, offset: Double = 0.0,
                clampMin: Double = Double.NegativeInfinity,
                clampMax: Double = Double.PositiveInfinity): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val chunks = tiles.select(col("tx").cast("long"), col("ty").cast("long"), col("pixels"))
      .as[(Long, Long, Seq[Double])]
      .flatMap { case (tx, ty, px) =>
        val p = px.toArray
        val out = Array.newBuilder[Chunk]
        var py = 0
        while (py < h) {
          val gy = ty * h + py
          if (gy >= y0 && gy < y0 + outH) {
            val dy = gy - y0
            val dty = dy / h
            val rowGx0 = math.max(tx * w, x0)
            val rowGx1 = math.min(tx * w + w, x0 + outW) // exclusive
            var gx = rowGx0
            while (gx < rowGx1) {
              val dx = gx - x0
              val dtx = dx / w
              // run extends to min(end of src row overlap, end of dst tile)
              val runEnd = math.min(rowGx1, x0 + (dtx + 1) * w)
              val n = (runEnd - gx).toInt
              val vals = new Array[Double](n)
              var i = 0
              while (i < n) {
                val v = p(py * w + (gx + i - tx * w).toInt) * scale + offset
                vals(i) = math.max(clampMin, math.min(clampMax, v))
                i += 1
              }
              out += Chunk(dtx, dy / h, ((dy % h) * w + dx % w).toInt, vals)
              gx = runEnd
            }
          }
          py += 1
        }
        out.result()
      }
    chunks.groupByKey(c => (c.dtx, c.dty))
      .mapGroups { (key: (Long, Long), it: Iterator[Chunk]) =>
        val buf = new Array[Double](w * h)
        it.foreach { c => System.arraycopy(c.vals, 0, buf, c.off, c.vals.length) }
        (key._1, key._2, buf.toSeq)
      }
      .toDF("tx", "ty", "pixels")
  }

  final case class RStrip(ttx: Long, tty: Long, sdx: Int, sdy: Int,
                          sw: Int, sh: Int, pixels: Array[Double])

  /** Fill nodata (reference: alg/rasterfill.cpp :: GDALFillNodata) —
    * SURVEY.md §3.8 R6. Each nodata pixel takes the MEAN of valid pixels
    * within `radiusPx` (Euclidean, d² ≤ r²); pixels with no valid neighbor
    * stay nodata. The reference interpolates inverse-distance from a ring
    * search; the mean variant keeps the arithmetic exact-integer so the
    * SQL oracle matches bit-for-bit (documented divergence).
    *
    * Distribution: radius-px halo block exchange (the focal pattern
    * widened to r pixels — shuffle stays O(perimeter·r)), then each tile
    * fills independently. Requires radiusPx <= min(w, h).
    * Output: (tx, ty, pixels) with fills applied. */
  def fillNodata(tiles: DataFrame, w: Int, h: Int, nxTiles: Long, nyTiles: Long,
                 isNodata: Double => Boolean, radiusPx: Int,
                 weighting: String = "mean"): DataFrame = {
    require(radiusPx <= math.min(w, h), "radius must fit one tile halo")
    require(weighting == "mean" || weighting == "idw", s"weighting: mean|idw, got $weighting")
    // idw: fixed-point inverse-distance-squared weights 2^20 div d2 — with
    // integer-valued sources the weighted mean is exact arithmetic, so a
    // SQL oracle reproduces it (GDALFillNodata's inverse-distance analog;
    // the reference's 4-direction ray search is a documented divergence)
    val idw = weighting == "idw"
    val WS = 1L << 20
    val spark = tiles.sparkSession
    import spark.implicits._
    val r = radiusPx
    val strips = tiles.select(col("tx").cast("long"), col("ty").cast("long"), col("pixels"))
      .as[(Long, Long, Seq[Double])]
      .flatMap { case (tx, ty, px) =>
        val p = px.toArray
        val out = Array.newBuilder[RStrip]
        out += RStrip(tx, ty, 0, 0, w, h, p)
        var dy = -1
        while (dy <= 1) {
          var dx = -1
          while (dx <= 1) {
            if (dx != 0 || dy != 0) {
              val ntx = tx + dx; val nty = ty + dy
              if (ntx >= 0 && ntx < nxTiles && nty >= 0 && nty < nyTiles) {
                // the block of me FACING neighbor (dx,dy): r columns/rows
                val x0 = if (dx == 1) w - r else 0
                val sw = if (dx == 0) w else r
                val y0 = if (dy == 1) h - r else 0
                val sh = if (dy == 0) h else r
                val blk = new Array[Double](sw * sh)
                var yy = 0
                while (yy < sh) {
                  var xx = 0
                  while (xx < sw) { blk(yy * sw + xx) = p((y0 + yy) * w + x0 + xx); xx += 1 }
                  yy += 1
                }
                out += RStrip(ntx, nty, -dx, -dy, sw, sh, blk)
              }
            }
            dx += 1
          }
          dy += 1
        }
        out.result()
      }
    strips.groupByKey(s => (s.ttx, s.tty))
      .flatMapGroups { (key: (Long, Long), it: Iterator[RStrip]) =>
        val buf = it.toArray
        // sparse tile table: skip phantom groups created by neighbor
        // blocks whose self tile does not exist (same guard as Focal)
        if (!buf.exists(s => s.sdx == 0 && s.sdy == 0)) Iterator.empty
        else {
        val pw = w + 2 * r; val ph = h + 2 * r
        val padded = Array.fill(pw * ph)(Double.NaN)
        buf.foreach { s =>
          // strip at relative (sdx, sdy) lands at the matching halo block
          val ox = s.sdx match { case -1 => 0; case 0 => r; case _ => r + w }
          val oy = s.sdy match { case -1 => 0; case 0 => r; case _ => r + h }
          var yy = 0
          while (yy < s.sh) {
            System.arraycopy(s.pixels, yy * s.sw, padded, (oy + yy) * pw + ox, s.sw)
            yy += 1
          }
        }
        val outPx = new Array[Double](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = padded((y + r) * pw + x + r)
            outPx(y * w + x) =
              if (!isNodata(v)) v
              else {
                var sum = 0.0; var n = 0L
                var dy2 = -r
                while (dy2 <= r) {
                  var dx2 = -r
                  while (dx2 <= r) {
                    val d2 = dx2 * dx2 + dy2 * dy2
                    if (d2 <= r * r && d2 > 0) {
                      val nv = padded((y + r + dy2) * pw + x + r + dx2)
                      if (!nv.isNaN && !isNodata(nv)) {
                        val wgt = if (idw) WS / d2 else 1L
                        sum += nv * wgt; n += wgt
                      }
                    }
                    dx2 += 1
                  }
                  dy2 += 1
                }
                if (n == 0) v else sum / n
              }
            x += 1
          }
          y += 1
        }
        Iterator((key._1, key._2, outPx.toSeq))
        }
      }
      .toDF("tx", "ty", "pixels")
  }

  /** gdal_calc / VRT pixel-function analog (reference:
    * swig/python/scripts/gdal_calc.py; frmts/vrt/vrtderivedrasterband.cpp):
    * per-pixel algebra over two co-registered tile tables, expressed as a
    * codegen'd higher-order function over the zipped pixel arrays — one
    * equi-join on the tile key, no custom kernel. `exprAB` sees scalars
    * `a` and `b`. */
  def calc(ta: DataFrame, tb: DataFrame, exprAB: String): DataFrame =
    ta.select(col("zoom"), col("tx"), col("ty"), col("pixels").as("__pa"))
      .join(tb.select(col("zoom"), col("tx"), col("ty"), col("pixels").as("__pb")),
        Seq("zoom", "tx", "ty"))
      .withColumn("pixels", expr(s"zip_with(__pa, __pb, (a, b) -> $exprAB)"))
      .drop("__pa", "__pb")

  /** gdaldem color-relief (reference: apps/gdaldem.cpp ::
    * GDALColorReliefGetRGBA + color text file) — the one gdaldem mode the
    * focal operator family doesn't cover: per-pixel linear interpolation
    * through a small elevation→RGB ramp, clamped below the first and
    * above the last entry. The ramp is driver-side tiny (like the
    * reference's text file), so it folds into a generated CASE chain —
    * whole-stage-codegen'd, no join, no UDF, no shuffle.
    *
    * Interpolation is integer round-half-up computed segment-wise with a
    * non-negative numerator (sign and |Δc| are baked per segment at plan
    * time), so truncating `div` behaves identically in Spark and any SQL
    * oracle: c = c0 ± (2·(v−e0)·|Δc| + Δe) div (2·Δe). Ramp elevations
    * must be strictly increasing integers.
    *
    * Output: one row per (zoom, tx, ty, band) with band 1/2/3 = R/G/B
    * and pixels kept DOUBLE (integer-valued) like every tile table. */
  def colorRelief(tiles: DataFrame, ramp: Seq[(Int, Int, Int, Int)],
                  mode: String = "interpolate"): DataFrame = {
    require(ramp.size >= 2, "ramp needs >= 2 entries")
    require(ramp.map(_._1) == ramp.map(_._1).sorted && ramp.map(_._1).distinct.size == ramp.size,
      "ramp elevations must be strictly increasing")
    require(Set("interpolate", "nearest", "exact")(mode), s"bad mode $mode")
    // the three gdaldem color-relief selection modes (apps/gdaldem.cpp ::
    // GDALColorReliefGetRGBA, ColorSelectionMode): linear interpolation
    // (default), -nearest_color_entry (midpoint thresholds — with integer
    // elevations at ODD gaps the midpoints are half-integers, so an
    // integer pixel can never tie and 2v < e_i+e_{i+1} decides exactly),
    // -exact_color_entry (match or transparent-black fallback)
    def channelCase(get: ((Int, Int, Int, Int)) => Int): String = mode match {
      case "interpolate" =>
        val segs = ramp.sliding(2).map { case Seq(lo, hi) =>
          val de = hi._1 - lo._1
          val dc = get(hi) - get(lo)
          val sign = if (dc >= 0) "+" else "-"
          s"WHEN v < ${hi._1} THEN ${get(lo)}L $sign " +
            s"(2L * (CAST(v AS BIGINT) - ${lo._1}) * ${math.abs(dc)} + $de) div ${2 * de}"
        }.mkString(" ")
        s"CASE WHEN v < ${ramp.head._1} THEN ${get(ramp.head)}L $segs ELSE ${get(ramp.last)}L END"
      case "nearest" =>
        val segs = ramp.sliding(2).map { case Seq(lo, hi) =>
          s"WHEN 2 * CAST(v AS BIGINT) < ${lo._1 + hi._1} THEN ${get(lo)}L"
        }.mkString(" ")
        s"CASE $segs ELSE ${get(ramp.last)}L END"
      case "exact" =>
        val segs = ramp.map(e => s"WHEN v = ${e._1} THEN ${get(e)}L").mkString(" ")
        s"CASE $segs ELSE 0L END"
    }
    val chans = Seq[(Int, ((Int, Int, Int, Int)) => Int)](1 -> (_._2), 2 -> (_._3), 3 -> (_._4))
    val bands = chans.map { case (b, get) =>
      struct(lit(b).as("band"),
        expr(s"transform(pixels, v -> CAST((${channelCase(get)}) AS DOUBLE))").as("pixels"))
    }
    tiles.select(col("zoom"), col("tx"), col("ty"), explode(array(bands: _*)).as("o"))
      .select(col("zoom"), col("tx"), col("ty"), col("o.band").as("band"),
        col("o.pixels").as("pixels"))
  }

  /** hsv_merge (reference: swig/python/scripts/hsv_merge.py — the classic
    * "hillshade under color-relief" composite): convert an RGB raster to
    * HSV, replace the VALUE channel with a greyscale band, convert back.
    * Because hue and saturation are untouched, the HSV round-trip
    * collapses to a uniform per-pixel rescale out_c = c·shade / max(r,g,b)
    * — s = (max−min)/max and h depend only on channel RATIOS, which a
    * uniform scale preserves — implemented in pure BIGINT with truncating
    * div (the reference works in float and rounds on the Byte write;
    * documented divergence like the dither error reset). max = 0 (black)
    * has s = 0 and undefined h, and colorsys hsv_to_rgb(h, 0, v) =
    * (v, v, v), so out = shade there. Dataflow: the three bands regroup
    * per tile in ONE hash agg, then ONE (tx, ty) equi-join against the
    * grey band — co-partitionable at scale — and the per-pixel math is a
    * codegen'd HOF; no driver loop, no collect. */
  def hsvMerge(rgb: DataFrame, gray: DataFrame): DataFrame = {
    val wide = rgb.groupBy("tx", "ty").agg(
      first(when(col("band") === 1, col("pixels")), ignoreNulls = true).as("r"),
      first(when(col("band") === 2, col("pixels")), ignoreNulls = true).as("g"),
      first(when(col("band") === 3, col("pixels")), ignoreNulls = true).as("b"))
    val vmax = "greatest(CAST(element_at(r, i+1) AS BIGINT), " +
      "CAST(element_at(g, i+1) AS BIGINT), CAST(element_at(b, i+1) AS BIGINT))"
    def out(c: String) = expr(
      s"""transform(shade, (sv, i) -> CAST(CASE
            WHEN $vmax = 0L THEN CAST(sv AS BIGINT)
            ELSE (CAST(element_at($c, i+1) AS BIGINT) * CAST(sv AS BIGINT)) div $vmax
          END AS DOUBLE))""")
    // fresh aliases on the grey side: rgb and gray may share a lineage
    // (both synthesized from one generator), and a bare (tx, ty) join of
    // two projections of the SAME plan trips self-join attribute dedup
    val g2 = gray.select(col("tx").as("_stx"), col("ty").as("_sty"),
      col("pixels").as("shade"))
    wide.join(g2, col("tx") === col("_stx") && col("ty") === col("_sty"))
      .select(col("tx"), col("ty"), explode(array(
        struct(lit(1).as("band"), out("r").as("pixels")),
        struct(lit(2).as("band"), out("g").as("pixels")),
        struct(lit(3).as("band"), out("b").as("pixels")))).as("o"))
      .select(col("o.band").as("band"), col("tx"), col("ty"), col("o.pixels").as("pixels"))
  }

  /** nearblack (reference: apps/nearblack.cpp) — strips the near-`collar`
    * scanline collar: on every ROW of the raster, each pixel left of the
    * first and right of the last pixel with |v − collar| > nb becomes
    * `replace`. Interior near-collar pixels (between the bounds) are
    * kept. This is the pure per-scanline form; the reference additionally
    * caps each line's collar extent by the previous line's (a serial
    * flood constraint across scanlines) — a documented divergence, like
    * the dither operator's tile-boundary error reset.
    *
    * Plan shape (100-TB): tiles emit h PER-ROW PARTIAL rows (first/last
    * exceeding gx per tile-row — O(tiles·h), never per-pixel), ONE hash
    * aggregate keyed by global row folds them to per-row bounds, the
    * bounds re-aggregate to one dense array row per tile row-band, and a
    * broadcast equi-join (O(raster height / h) rows) hands every tile its
    * band's bounds; the mask applies inside a codegen'd transform. No
    * per-pixel row ever shuffles. All-collar rows carry (2^62, −1)
    * sentinels so the between-test rejects every pixel without a null
    * branch. */
  def nearblack(tiles: DataFrame, w: Int, h: Int, nb: Double,
                collar: Double = 0.0, replace: Double = 255.0): DataFrame = {
    val rows = tiles
      .withColumn("py", explode(expr(s"sequence(0, ${h - 1})")))
      .withColumn("ex", expr(
        s"filter(sequence(0, ${w - 1}), x -> abs(element_at(pixels, py * $w + x + 1) - ${collar}D) > ${nb}D)"))
      .select(expr(s"ty * $h + py").as("gy"),
        expr(s"CASE WHEN size(ex) > 0 THEN tx * $w + element_at(ex, 1) END").as("first"),
        expr(s"CASE WHEN size(ex) > 0 THEN tx * $w + element_at(ex, -1) END").as("last"))
    val bounds = rows.groupBy("gy").agg(
      expr("coalesce(min(first), 4611686018427387904L)").as("l"),
      expr("coalesce(max(last), -1L)").as("r"))
    val perBand = bounds
      .groupBy(expr(s"gy div $h").as("bty"))
      .agg(expr(s"array_sort(collect_list(struct(CAST(gy % $h AS INT) AS py, l, r)))").as("b"))
    tiles.join(broadcast(perBand), col("ty") === col("bty"))
      .withColumn("pixels", expr(
        s"""transform(pixels, (v, i) ->
              IF(tx * $w + i % $w >= element_at(b, CAST(i div $w AS INT) + 1).l
                 AND tx * $w + i % $w <= element_at(b, CAST(i div $w AS INT) + 1).r,
                 v, ${replace}D))"""))
      .drop("bty", "b")
  }
}
