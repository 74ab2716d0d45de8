package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.Register

/** Column-facade + SQL registration for the engine's function surface —
  * the analog of the reference's fixed operator registry
  * (reference: ogr/swq_op_registrar.cpp :: swq_op_registrar::GetOperator;
  * VRT pixel-function registry frmts/vrt/vrtderivedrasterband.cpp ::
  * GDALAddDerivedBandPixelFunc).
  *
  * Registration is per-session and idempotent, and it makes the functions
  * exist both for the Column API (via call_function) and for spark.sql
  * text. Who calls ensureRegistered: every operator and Synth input that
  * uses the functions, for its own caller; SparkEntry.queries, once per
  * query build (no query builder registers itself), and SparkEntry.entry;
  * and TestSpark, once for all tests. A session built with
  * graft.GraftExtensions has the functions from the start. */
object F {
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** The complete function surface, name → expression builder — consumed
    * by both per-session registration (ensureRegistered) and cluster-wide
    * injection (graft.GraftExtensions via spark.sql.extensions). */
  lazy val defs: Seq[(String, Seq[Expression] => Expression)] = Seq(
        "st_geomfromwkt" -> (e => StGeomFromWkt(e.head)),
        "st_geomfromwkb" -> (e => StWkb(e.head, parse = true)),
        "st_aswkb"       -> (e => StWkb(e.head, parse = false)),
        "st_point"       -> (e => StPoint(e(0), e(1))),
        "st_astext"      -> (e => GeomUnaryToString(e.head, "astext")),
        "st_geometrytype" -> (e => GeomUnaryToString(e.head, "geometrytype")),
        "st_area"        -> (e => GeomUnaryToDouble(e.head, "area")),
        "st_length"      -> (e => GeomUnaryToDouble(e.head, "length")),
        "st_x"           -> (e => GeomUnaryToDouble(e.head, "x")),
        "st_y"           -> (e => GeomUnaryToDouble(e.head, "y")),
        "st_centroid"    -> (e => GeomUnaryToGeom(e.head, "centroid")),
        "st_envelope"    -> (e => GeomUnaryToGeom(e.head, "envelope")),
        "st_env_bounds"  -> (e => StEnvBounds(e.head)),
        "st_convexhull"  -> (e => GeomUnaryToGeom(e.head, "convexhull")),
        "st_boundary"    -> (e => GeomUnaryToGeom(e.head, "boundary")),
        "st_makevalid"   -> (e => GeomUnaryToGeom(e.head, "makevalid")),
        "st_isvalid"     -> (e => GeomUnaryToBool(e.head, "isvalid")),
        "st_isempty"     -> (e => GeomUnaryToBool(e.head, "isempty")),
        "st_intersects"  -> (e => GeomPredicate(e(0), e(1), "intersects")),
        "st_contains"    -> (e => GeomPredicate(e(0), e(1), "contains")),
        "st_covers"      -> (e => GeomPredicate(e(0), e(1), "covers")),
        "st_within"      -> (e => GeomPredicate(e(0), e(1), "within")),
        "st_touches"     -> (e => GeomPredicate(e(0), e(1), "touches")),
        "st_crosses"     -> (e => GeomPredicate(e(0), e(1), "crosses")),
        "st_overlaps"    -> (e => GeomPredicate(e(0), e(1), "overlaps")),
        "st_disjoint"    -> (e => GeomPredicate(e(0), e(1), "disjoint")),
        "st_equals"      -> (e => GeomPredicate(e(0), e(1), "equals")),
        "st_intersection" -> (e => GeomBinaryToGeom(e(0), e(1), "intersection")),
        "st_union"       -> (e => GeomBinaryToGeom(e(0), e(1), "union")),
        "st_union_fold"  -> (e => StUnionFold(e.head)),
        "topk_by_score"  -> (e => TopKByScore(e(0), e(1), e(2))),
        "st_difference"  -> (e => GeomBinaryToGeom(e(0), e(1), "difference")),
        "st_symdifference" -> (e => GeomBinaryToGeom(e(0), e(1), "symdifference")),
        "st_distance"    -> (e => StDistance(e(0), e(1))),
        "st_buffer"      -> (e => GeomWithDouble(e(0), e(1), "buffer")),
        "st_simplify"    -> (e => GeomWithDouble(e(0), e(1), "simplify")),
        "st_transform"   -> (e => StTransform(e(0), e(1), e(2))),
        "st_points"      -> (e => StPoints(e.head)),
        "st_dump"        -> (e => StDump(e.head)),
        "st_asgeojson"   -> (e => StAsGeoJson(e.head)),
        "st_wrapdateline" -> (e => StWrapDateline(e.head)),
        "st_geomfromgeojson" -> (e => StGeomFromGeoJson(e.head)),
        "st_askml"       -> (e => StAsKml(e.head)),
        "st_geomfromkml" -> (e => StGeomFromKml(e.head)),
        "st_asgml"       -> (e => StAsGml(e.head)),
        "st_geomfromgml" -> (e => StGeomFromGml(e.head)),
        "st_asgpx"       -> (e => StAsGpx(e.head)),
        "st_geomfromgpx" -> (e => StGeomFromGpx(e.head)),
        "st_asmif"       -> (e => StAsMif(e.head)),
        "st_geomfrommif" -> (e => StGeomFromMif(e.head)),
        "st_asdxf"       -> (e => StAsDxf(e.head)),
        "st_geomfromdxf" -> (e => StGeomFromDxf(e.head)),
        "st_segmentize"  -> (e => StSegmentize(e(0), e(1))),
        "st_distance_sphere" -> (e => StDistanceSphere(e(0), e(1))),
        "st_line_length"    -> (e => StLineLength(e.head)),
        "st_line_interpolate" -> (e => StLineInterpolate(e(0), e(1))),
        "st_line_locate"    -> (e => StLineLocate(e(0), e(1), e(2))),
        "st_line_substring" -> (e => StLineSubstring(e(0), e(1), e(2))),
        "cell_encode"    -> (e => CellEncode(e(0), e(1), e(2))),
        "cell_encode_merc" -> (e => CellEncode(e(0), e(1), e(2), mercator = true)),
        "cell_zoom"      -> (e => CellPart(e.head, "zoom")),
        "cell_tx"        -> (e => CellPart(e.head, "tx")),
        "cell_ty"        -> (e => CellPart(e.head, "ty")),
        "cell_parent"    -> (e => CellPart(e.head, "parent")),
        "cell_pack"      -> (e => CellPack(e(0), e(1), e(2))),
        "cell_bounds"    -> (e => CellBounds(e.head)),
        "cell_ring"      -> (e => CellRing(e(0), e(1))),
        "cell_disk"      -> (e => CellDisk(e(0), e(1))),
        "cells_cover"    -> (e => CellsCover(e(0), e(1))),
        "cells_cover_merc" -> (e => CellsCover(e(0), e(1), mercator = true)),
        "cell_at_zoom"   -> (e => CellAtZoom(e(0), e(1))),
        "hilbert_d"      -> (e => HilbertD(e(0), e(1), e(2))),
        "minhash_sig"    -> (e => MinhashSig(e(0), e(1), e(2))),
        "lsh_bands"      -> (e => LshBands(e(0), e(1), e(2))),
        "simhash64"      -> (e => Simhash64(e.head)),
        "hamming64"      -> (e => Hamming64(e(0), e(1))),
        "jaccard_shingles" -> (e => JaccardShingles(e(0), e(1), e(2))),
        "lang_id"        -> (e => LangId(e.head)),
        "style_tool"     -> (e => StyleTool(e.head)),
        "style_params"   -> (e => StyleParams(e.head)),
        "quality_score"  -> (e => QualityScore(e.head)),
        "fingerprint64"  -> (e => Fingerprint64(e.head)),
        "mix64"          -> (e => Mix64(e.head)),
        "cosine_sim"     -> (e => CosineSim(e(0), e(1))),
        "fixed_dot"      -> (e => FixedDot(e(0), e(1), e(2))),
        "sign_lsh_buckets" -> (e => SignLshBuckets(e(0), e(1), e(2))),
        "st_contains_point"   -> (e => GeomPredicatePoint(e(0), e(1), e(2), "contains")),
        "st_covers_point"     -> (e => GeomPredicatePoint(e(0), e(1), e(2), "covers")),
        "st_intersects_point" -> (e => GeomPredicatePoint(e(0), e(1), e(2), "intersects")),
        "checksum_px"    -> (e => ChecksumPx(e.head)),
        "csv_line"       -> (e => CsvLine(e.head)),
        "shingles64"     -> (e => Shingles64(e(0), e(1))),
        "hash64"         -> (e => Hash64(e.head)),
        "csv_fields"     -> (e => CsvFields(e.head)),
        "vrt_feature"    -> (e => VrtFeature(e(0),
          e(1).eval(null).toString, e(2).eval(null).toString)),
        "ogr_parse_date" -> (e => OgrParseDate(e.head)),
        "shp_record"     -> (e => ShpRecord(e(0), e(1))),
        "shp_recnum"     -> (e => ShpRecNum(e.head)),
        "shp_geom"       -> (e => ShpGeom(e.head)),
        // dbf field spec is part of the table schema, not row data: fixed
        // at plan time from the literal argument (like a DDL string)
        "dbf_record"     -> (e => DbfRecord(e(0), e(1).eval(null).toString)),
        "dbf_fields"     -> (e => DbfFields(e(0), e(1).eval(null).toString)),
        "dither_fs"      -> (e => DitherFs(e(0), e(1), e(2))),
        "tm_forward"       -> (e => TmTransform(e, forward = true)),
        "tm_inverse"       -> (e => TmTransform(e, forward = false)),
        "gpkg_blob"        -> (e => GpkgBlob(e(0), e(1))),
        "gpkg_cell"        -> (e => GpkgCell(e)),
        "gpkg_cell_fields" -> (e => GpkgCellFields(e.head)))

  def ensureRegistered(spark: SparkSession): Unit = {
    if (registered.containsKey(spark)) return
    registered.synchronized {
      if (registered.containsKey(spark)) return
      defs.foreach { case (name, b) => Register.function(spark, name, b) }
      registered.put(spark, java.lang.Boolean.TRUE)
    }
  }

  private def d(c: Column): Column = c.cast("double")
  private def i(c: Column): Column = c.cast("int")

  def st_geomfromwkt(w: Column): Column = call_function("st_geomfromwkt", w)
  def st_point(lon: Column, lat: Column): Column = call_function("st_point", d(lon), d(lat))
  def st_astext(g: Column): Column = call_function("st_astext", g)
  def st_geometrytype(g: Column): Column = call_function("st_geometrytype", g)
  def st_area(g: Column): Column = call_function("st_area", g)
  def st_length(g: Column): Column = call_function("st_length", g)
  def st_x(g: Column): Column = call_function("st_x", g)
  def st_y(g: Column): Column = call_function("st_y", g)
  def st_centroid(g: Column): Column = call_function("st_centroid", g)
  def st_envelope(g: Column): Column = call_function("st_envelope", g)
  def st_env_bounds(g: Column): Column = call_function("st_env_bounds", g)
  def st_convexhull(g: Column): Column = call_function("st_convexhull", g)
  def st_isvalid(g: Column): Column = call_function("st_isvalid", g)
  def st_makevalid(g: Column): Column = call_function("st_makevalid", g)
  def st_intersects(a: Column, b: Column): Column = call_function("st_intersects", a, b)
  def st_contains(a: Column, b: Column): Column = call_function("st_contains", a, b)
  def st_within(a: Column, b: Column): Column = call_function("st_within", a, b)
  def st_intersection(a: Column, b: Column): Column = call_function("st_intersection", a, b)
  def st_union(a: Column, b: Column): Column = call_function("st_union", a, b)
  def st_difference(a: Column, b: Column): Column = call_function("st_difference", a, b)
  def st_distance(a: Column, b: Column): Column = call_function("st_distance", a, b)
  def st_buffer(g: Column, dist: Column): Column = call_function("st_buffer", g, d(dist))
  def st_simplify(g: Column, tol: Column): Column = call_function("st_simplify", g, d(tol))
  def st_transform(g: Column, src: Column, dst: Column): Column =
    call_function("st_transform", g, i(src), i(dst))

  def cell_encode(lon: Column, lat: Column, zoom: Column): Column =
    call_function("cell_encode", d(lon), d(lat), i(zoom))
  def cell_encode_merc(lon: Column, lat: Column, zoom: Column): Column =
    call_function("cell_encode_merc", d(lon), d(lat), i(zoom))
  def cell_zoom(c: Column): Column = call_function("cell_zoom", c)
  def cell_tx(c: Column): Column = call_function("cell_tx", c)
  def cell_ty(c: Column): Column = call_function("cell_ty", c)
  def cell_parent(c: Column): Column = call_function("cell_parent", c)
  def cell_pack(z: Column, tx: Column, ty: Column): Column =
    call_function("cell_pack", i(z), tx.cast("long"), ty.cast("long"))
  def cell_bounds(c: Column): Column = call_function("cell_bounds", c)
  def cell_ring(c: Column, r: Column): Column = call_function("cell_ring", c, i(r))
  def cell_disk(c: Column, r: Column): Column = call_function("cell_disk", c, i(r))
  def cells_cover(g: Column, zoom: Column): Column = call_function("cells_cover", g, i(zoom))
  /** Uncapped variant: exact cover at the requested zoom (rasterize needs
    * pixel-grid-aligned cells; the cap would silently move the grid). */
  def cells_cover_exact(g: Column, zoom: Column): Column =
    org.apache.spark.sql.graftshim.Columns.of(CellsCover(
      org.apache.spark.sql.graftshim.Columns.expr(g),
      org.apache.spark.sql.graftshim.Columns.expr(i(zoom)), maxCells = 0))
  def cell_at_zoom(c: Column, z: Column): Column = call_function("cell_at_zoom", c, i(z))
  def cells_cover_merc(g: Column, zoom: Column): Column =
    call_function("cells_cover_merc", g, i(zoom))

  def minhash_sig(t: Column, numPerm: Int, k: Int): Column =
    call_function("minhash_sig", t, lit(numPerm), lit(k))
  def lsh_bands(sig: Column, bands: Int, rows: Int): Column =
    call_function("lsh_bands", sig, lit(bands), lit(rows))
  def simhash64(t: Column): Column = call_function("simhash64", t)
  def hamming64(a: Column, b: Column): Column = call_function("hamming64", a, b)
  def jaccard_shingles(a: Column, b: Column, k: Int): Column =
    call_function("jaccard_shingles", a, b, lit(k))
  def lang_id(t: Column): Column = call_function("lang_id", t)
  def quality_score(t: Column): Column = call_function("quality_score", t)
  def fingerprint64(t: Column): Column = call_function("fingerprint64", t)
  def cosine_sim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def fixed_dot(a: Column, b: Column, scale: Int): Column =
    call_function("fixed_dot", a.cast("array<double>"), b.cast("array<double>"), lit(scale))
  def sign_lsh_buckets(v: Column, bands: Int, rowsPerBand: Int): Column =
    call_function("sign_lsh_buckets", v.cast("array<double>"), lit(bands), lit(rowsPerBand))
  def st_predicate_point(op: String, g: Column, lon: Column, lat: Column): Column =
    call_function(s"st_${op}_point", g, d(lon), d(lat))
  def checksum_px(p: Column): Column = call_function("checksum_px", p)
}
