package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.Geometry
import graft.core.{GeomIO, TileMath, Wkt}

/** Geometry scalar functions as native Catalyst expressions over WKB
  * BinaryType columns, backed by JTS — semantics-identical to the
  * reference's GEOS-backed methods (reference: ogr/ogrgeometry.cpp ::
  * OGRGeometry::Intersects/Contains/…, ogr/ogrgeometryfactory.cpp ::
  * createFromWkt/createFromWkb, ogr/ogrsurface.cpp :: get_Area,
  * ogr/ogrct.cpp :: OGRCoordinateTransformation for st_transform).
  *
  * CodegenFallback is deliberate: the JTS calls dominate cost; these
  * expressions sit inside WholeStageCodegen spans as leaf calls.
  */
object GeomOps {
  def fromWkb(b: Array[Byte]): Geometry = GeomIO.fromWkb(b)
}

/** st_geomfromwkt(text) → WKB. 2D POINT/LINESTRING/POLYGON text is
  * scanned straight from the UTF-8 bytes by `core.Wkt` (the analog of the
  * reference's ogr/ogrutils.cpp :: OGRWktReadToken scanner); it writes the
  * bytes JTS would, so WKB-keyed caches and oracle hashes see no change.
  * Any other text falls back to the JTS `WKTReader` path unchanged: blank
  * text → null, curves → `core.Arc`, the rest → JTS, including its
  * exceptions for malformed input. */
case class StGeomFromWkt(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[UTF8String]
    val wkb = Wkt.toWkb(u.getBytes)
    if (wkb != null) return wkb
    // empty/blank → null, NOT an error: the interleaved doc schema uses ''
    // for the non-applicable field of a span (media rows carry text='').
    // Catalyst may legally reorder filter conjuncts, so an inferred
    // isnotnull(f(text)) can run BEFORE a kind='text' predicate — parsing
    // must tolerate the convention. Truly malformed WKT still throws.
    val s = u.toString
    if (s.isEmpty || s.forall(_.isWhitespace)) null
    // curve WKT (CIRCULARSTRING/COMPOUNDCURVE/CURVEPOLYGON/MULTICURVE)
    // linearizes on ingest (core/Arc) — JTS/GEOS has no native arcs, and
    // this is the reference's own OGR_G_GetLinearGeometry route
    else if (graft.core.Arc.isCurveWkt(s)) GeomIO.toWkb(graft.core.Arc.fromCurveWkt(s))
    else GeomIO.toWkb(GeomIO.fromWkt(s))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_geomfromwkt"
}

/** st_segmentize(geom, maxLen) — the reference's
  * OGRGeometry::segmentize (ogr2ogr -segmentize): every segment longer
  * than maxLen gets ceil(len/maxLen)−1 equally spaced interior vertices;
  * ORIGINAL vertices are kept bit-exact (interiors interpolate, endpoints
  * copy). Every operation is −,·,/,sqrt,ceil — all exactly rounded IEEE
  * ops with no transcendentals — so a SQL oracle reproduces the output
  * doubles BIT-exactly with no quantization. */
case class StSegmentize(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  private def densify(cs: Array[org.locationtech.jts.geom.Coordinate], maxLen: Double):
      Array[org.locationtech.jts.geom.Coordinate] = {
    val out = scala.collection.mutable.ArrayBuffer[org.locationtech.jts.geom.Coordinate](cs.head)
    var i = 0
    while (i + 1 < cs.length) {
      val p = cs(i); val q = cs(i + 1)
      val dx = q.x - p.x; val dy = q.y - p.y
      val len = math.sqrt(dx * dx + dy * dy)
      val n = math.max(1L, math.ceil(len / maxLen).toLong)
      var k = 1L
      while (k < n) {
        out += new org.locationtech.jts.geom.Coordinate(
          p.x + dx * k.toDouble / n.toDouble, p.y + dy * k.toDouble / n.toDouble)
        k += 1
      }
      out += q
      i += 1
    }
    out.toArray
  }

  private def rebuild(g: Geometry, maxLen: Double): Geometry = {
    val f = GeomIO.factory
    g match {
      case l: org.locationtech.jts.geom.LineString =>
        f.createLineString(densify(l.getCoordinates, maxLen))
      case p: org.locationtech.jts.geom.Polygon =>
        val shell = f.createLinearRing(densify(p.getExteriorRing.getCoordinates, maxLen))
        val holes = (0 until p.getNumInteriorRing).map(i =>
          f.createLinearRing(densify(p.getInteriorRingN(i).getCoordinates, maxLen))).toArray
        f.createPolygon(shell, holes)
      case m: org.locationtech.jts.geom.GeometryCollection =>
        f.createGeometryCollection(
          (0 until m.getNumGeometries).map(i => rebuild(m.getGeometryN(i), maxLen)).toArray)
      case other => other // points etc. pass through
    }
  }

  override def nullSafeEval(g0: Any, d0: Any): Any = {
    val g = GeomOps.fromWkb(g0.asInstanceOf[Array[Byte]])
    val maxLen = d0.asInstanceOf[Double]
    require(maxLen > 0.0, "st_segmentize needs maxLen > 0")
    GeomIO.toWkb(rebuild(g, maxLen))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "st_segmentize"
}

/** st_distance_sphere(a, b) — great-circle distance in meters between
  * two point geometries on the IUGG mean-radius sphere (6371008.8 m),
  * via the haversine form (reference surface: ogr/ogr_api `OGR_G_Distance`
  * is planar; the geodesic variant ships in the reference's proj/geod
  * path — the sphere approximation is this engine's documented stand-in,
  * the PostGIS ST_DistanceSphere contract). Fixed IEEE op order:
  * sin/cos/asin/sqrt only, oracle-replayable under mm quantization. */
case class StDistanceSphere(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a0: Any, b0: Any): Any = {
    val a = GeomOps.fromWkb(a0.asInstanceOf[Array[Byte]]).getCoordinate
    val b = GeomOps.fromWkb(b0.asInstanceOf[Array[Byte]]).getCoordinate
    val phi1 = math.toRadians(a.y); val phi2 = math.toRadians(b.y)
    val dphi = math.toRadians(b.y - a.y)
    val dlam = math.toRadians(b.x - a.x)
    val sp = math.sin(dphi / 2.0); val sl = math.sin(dlam / 2.0)
    val h = sp * sp + math.cos(phi1) * math.cos(phi2) * (sl * sl)
    2.0 * 6371008.8 * math.asin(math.min(1.0, math.sqrt(h)))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "st_distance_sphere"
}

/** st_points(geom) → array<struct<x,y>> of the geometry's coordinate
  * sequence in storage order (the analog of the reference's
  * OGR_G_GetPoint iteration / ST_DumpPoints) — pairs with posexplode for
  * vertex-row outputs. */
case class StPoints(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val g = GeomOps.fromWkb(v.asInstanceOf[Array[Byte]])
    val cs = g.getCoordinates
    val rows = new Array[Any](cs.length)
    var i = 0
    while (i < cs.length) {
      rows(i) = org.apache.spark.sql.catalyst.InternalRow(cs(i).x, cs(i).y)
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(rows)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_points"
}

/** st_dump(geom) → array<binary> of the geometry's top-level members in
  * storage order (the ogr2ogr -explodecollections analog — reference
  * apps/ogr2ogr.cpp splits each collection feature into one feature per
  * member; OGR_G_GetGeometryRef iteration). JTS Multi* types all subclass
  * GeometryCollection, so one case covers MULTIPOINT/LINESTRING/POLYGON
  * and heterogeneous collections; atomic geometries dump to a singleton.
  * Pairs with posexplode exactly like st_points. */
case class StDump(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val g = GeomOps.fromWkb(v.asInstanceOf[Array[Byte]])
    val parts: IndexedSeq[Geometry] = g match {
      case c: org.locationtech.jts.geom.GeometryCollection =>
        (0 until c.getNumGeometries).map(c.getGeometryN)
      case atomic => IndexedSeq(atomic)
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      parts.map(p => GeomIO.toWkb(p): Any).toArray)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_dump"
}

/** st_wrapdateline(geom) → array<binary> (reference: apps/ogr2ogr.cpp
  * -wrapdateline → ogr/ogrgeometryfactory.cpp ::
  * transformWithOptions/CutGeometryOnDateLineAndAddToMulti): the geometry
  * is split at lon 180 — the part inside [−180, 180] kept in place, the
  * part in (180, 540) shifted west by 360 — and the non-empty parts
  * return in that fixed order, pairing with posexplode like st_dump.
  * A geometry already inside the range returns as a singleton, exactly
  * as the reference leaves non-crossing features untouched. */
case class StWrapDateline(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val g = GeomOps.fromWkb(v.asInstanceOf[Array[Byte]])
    val west = g.intersection(GeomIO.box(-180.0, -90.0, 180.0, 90.0))
    val eastRaw = g.intersection(GeomIO.box(180.0, -90.0, 540.0, 90.0))
    val east = if (eastRaw.isEmpty) eastRaw else {
      val c = eastRaw.copy()
      c.apply(new org.locationtech.jts.geom.CoordinateFilter {
        override def filter(coord: org.locationtech.jts.geom.Coordinate): Unit =
          coord.x -= 360.0
      })
      c.geometryChanged()
      c
    }
    val parts = Seq(west, east).filter(!_.isEmpty)
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      parts.map(p => GeomIO.toWkb(p): Any).toArray)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_wrapdateline"
}

/** st_asgeojson(geom) → RFC 7946 GeoJSON text (reference:
  * ogr/ogrsf_frmts/geojson/ogrgeojsonwriter.cpp :: OGRGeoJSONWriteGeometry).
  * Integer-valued coordinates print without a decimal point (the
  * OGRFormatDouble trailing-zero trim), others as shortest-round-trip
  * decimals — see core/GeoJson for the oracle-replayable contract. */
case class StAsGeoJson(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[Array[Byte]]
    if (b.isEmpty) null
    else UTF8String.fromString(graft.core.GeoJson.write(GeomOps.fromWkb(b)))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_asgeojson"
}

/** st_geomfromgeojson(text) → WKB (reference:
  * ogr/ogrsf_frmts/geojson/ogrgeojsonreader.cpp :: OGRGeoJSONReadGeometry).
  * Accepts the seven RFC types, any member order, foreign members
  * ignored; blank input → null like st_geomfromwkt. */
/** st_askml(geom) — KML 2.2 geometry text (reference:
  * ogr/ogrsf_frmts/kml/ogr2kmlgeometry.cpp; core/Kml writer contract). */
case class StAsKml(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[Array[Byte]]
    if (b.isEmpty) null
    else UTF8String.fromString(graft.core.Kml.write(GeomOps.fromWkb(b)))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_askml"
}

/** st_geomfromkml(text) — parse a KML geometry fragment
  * (reference: ogr/ogrsf_frmts/kml/kmlnode.cpp readers). */
case class StGeomFromKml(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    if (s.isEmpty || s.forall(_.isWhitespace)) null
    else GeomIO.toWkb(graft.core.Kml.parse(s))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_geomfromkml"
}

/** st_asgml(geom) → GML 2 text (ogr/ogr2gmlgeometry.cpp analog). */
case class StAsGml(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[Array[Byte]]
    if (b.isEmpty) null
    else UTF8String.fromString(graft.core.Gml.write(GeomOps.fromWkb(b)))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_asgml"
}

/** st_geomfromgml(text) → WKB (ogr/gml2ogrgeometry.cpp analog). */
case class StGeomFromGml(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    if (s.isEmpty || s.forall(_.isWhitespace)) null
    else GeomIO.toWkb(graft.core.Gml.parse(s))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_geomfromgml"
}

/** st_asgpx(geom) → GPX 1.1 fragment (reference:
  * ogr/ogrsf_frmts/gpx/ogrgpxlayer.cpp writer; core/Gpx contract —
  * positions as lat/lon ATTRIBUTES, unlike the KML/GML text tuples). */
case class StAsGpx(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[Array[Byte]]
    if (b.isEmpty) null
    else UTF8String.fromString(graft.core.Gpx.write(GeomOps.fromWkb(b)))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_asgpx"
}

/** st_geomfromgpx(text) → WKB (ogr/ogrsf_frmts/gpx reader analog:
  * wpt/trk/trkseg/rte/gpx elements, lat/lon attribute coordinates). */
case class StGeomFromGpx(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    if (s.isEmpty || s.forall(_.isWhitespace)) null
    else GeomIO.toWkb(graft.core.Gpx.parse(s))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_geomfromgpx"
}

/** st_asmif(geom) → MIF geometry block (reference:
  * ogr/ogrsf_frmts/mitab/mitab_miffile.cpp writer; core/Mif contract —
  * keyword + bare `x y` coordinate lines, the only LINE-oriented text
  * driver beside the XML/JSON family). */
case class StAsMif(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[Array[Byte]]
    if (b.isEmpty) null
    else UTF8String.fromString(graft.core.Mif.write(GeomOps.fromWkb(b)))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_asmif"
}

/** st_geomfrommif(text) → WKB (mitab MIF reader analog: POINT/LINE/
  * PLINE [MULTIPLE]/REGION keywords, tolerated style clauses). */
case class StGeomFromMif(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    if (s.isEmpty || s.forall(_.isWhitespace)) null
    else GeomIO.toWkb(graft.core.Mif.parse(s))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_geomfrommif"
}

/** st_asdxf(geom) → DXF entity block (reference: ogr/ogrsf_frmts/dxf ::
  * OGRDXFWriterLayer; core/Dxf contract — group-code/value line pairs,
  * the third text shape beside XML and MIF's keyword lines). */
case class StAsDxf(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[Array[Byte]]
    if (b.isEmpty) null
    else UTF8String.fromString(graft.core.Dxf.write(GeomOps.fromWkb(b)))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_asdxf"
}

/** st_geomfromdxf(text) → WKB (OGRDXFLayer reader analog: POINT / LINE /
  * LWPOLYLINE open+closed, unknown group codes tolerated). */
case class StGeomFromDxf(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    if (s.isEmpty || s.forall(_.isWhitespace)) null
    else GeomIO.toWkb(graft.core.Dxf.parse(s))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_geomfromdxf"
}

case class StGeomFromGeoJson(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    if (s.isEmpty || s.forall(_.isWhitespace)) null
    else GeomIO.toWkb(graft.core.GeoJson.parse(s))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_geomfromgeojson"
}

/** st_geomfromwkb(binary) → canonical WKB: parses (validating the byte
  * stream) and re-serializes, so foreign WKB (different byte order /
  * 2.5D flags) normalizes to the engine's canonical form. st_aswkb is its
  * inverse surface: WKB IS the storage representation, so it
  * re-serializes through JTS purely to guarantee canonical bytes. */
case class StWkb(child: Expression, parse: Boolean)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[Array[Byte]]
    // empty bytes → null in BOTH modes: a null-ish stored value that
    // serialized as zero-length bytes must propagate null from the
    // re-serialization surface too, not throw from the WKB parser
    if (b.isEmpty) null
    else GeomIO.toWkb(GeomIO.fromWkb(b))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c, parse)
  override def prettyName: String = if (parse) "st_geomfromwkb" else "st_aswkb"
}

case class StPoint(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullSafeEval(lon: Any, lat: Any): Any =
    GeomIO.toWkb(GeomIO.point(lon.asInstanceOf[Double], lat.asInstanceOf[Double]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "st_point"
}

/** geometry → string ops: astext, geometrytype */
case class GeomUnaryToString(child: Expression, op: String)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = {
    val g = GeomOps.fromWkb(v.asInstanceOf[Array[Byte]])
    val s = op match {
      case "astext"       => GeomIO.toWkt(g)
      case "geometrytype" => g.getGeometryType.toUpperCase
    }
    UTF8String.fromString(s)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c, op)
  override def prettyName: String = s"st_$op"
}

/** geometry → double ops: area, length, x, y. x and y of a plain 2D
  * point WKB are read from the bytes (`GeomIO.pointOrdinate`); every other
  * WKB goes through JTS. */
case class GeomUnaryToDouble(child: Expression, op: String)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = {
    val wkb = v.asInstanceOf[Array[Byte]]
    op match {
      case "area"   => GeomOps.fromWkb(wkb).getArea
      case "length" => GeomOps.fromWkb(wkb).getLength
      case "x"      => ordinate(wkb, 0)
      case "y"      => ordinate(wkb, 1)
    }
  }
  private def ordinate(wkb: Array[Byte], axis: Int): Double = {
    val d = GeomIO.pointOrdinate(wkb, axis)
    if (!d.isNaN) d
    else {
      val c = GeomOps.fromWkb(wkb).getCoordinate
      if (axis == 0) c.x else c.y
    }
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c, op)
  override def prettyName: String = s"st_$op"
}

/** st_env_bounds(geom) → [xmin, ymin, xmax, ymax] — one parse per row,
  * feeding the spatial join's codegen'd envelope prefilter (the analog of
  * the reference's m_sFilterEnvelope check inside OGRLayer::FilterGeometry,
  * which runs BEFORE any exact geometry test). */
case class StEnvBounds(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val env = GeomOps.fromWkb(v.asInstanceOf[Array[Byte]]).getEnvelopeInternal
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      Array(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_env_bounds"
}

/** geometry → geometry ops: centroid, envelope, convexhull, boundary,
  * makevalid. makevalid is the analog of the reference's repair pass
  * (ogr/ogrgeometryfactory.cpp :: organizePolygons / OGRGeometry::
  * MakeValid) via JTS 1.20's GeometryFixer: bowtie rings become
  * multipolygons, duplicate/collapsed rings drop, valid input passes
  * through area-preserving. */
case class GeomUnaryToGeom(child: Expression, op: String)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = {
    val g = GeomOps.fromWkb(v.asInstanceOf[Array[Byte]])
    val r = op match {
      case "centroid"   => g.getCentroid
      case "envelope"   => g.getEnvelope
      case "convexhull" => g.convexHull()
      case "boundary"   => g.getBoundary
      case "makevalid"  =>
        if (g.isValid) g else org.locationtech.jts.geom.util.GeometryFixer.fix(g)
    }
    GeomIO.toWkb(r)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c, op)
  override def prettyName: String = s"st_$op"
}

case class GeomUnaryToBool(child: Expression, op: String)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(v: Any): Any = {
    val g = GeomOps.fromWkb(v.asInstanceOf[Array[Byte]])
    op match {
      case "isvalid" => g.isValid
      case "isempty" => g.isEmpty
    }
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c, op)
  override def prettyName: String = s"st_$op"
}

/** 9-IM predicates. The LEFT side goes through the per-thread
  * PreparedGeometry LRU (GeomIO.prepared) — in a spatial join the left is
  * the replicated polygon side, so each polygon is indexed once per task
  * rather than re-scanned per candidate row. */
case class GeomPredicate(left: Expression, right: Expression, op: String)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val lb = l.asInstanceOf[Array[Byte]]
    val g2 = GeomOps.fromWkb(r.asInstanceOf[Array[Byte]])
    val p = GeomIO.prepared(lb)
    op match {
      case "intersects" => p.intersects(g2)
      case "contains"   => p.contains(g2)
      case "covers"     => p.covers(g2)
      case "within"     => p.within(g2)
      case "touches"    => p.touches(g2)
      case "crosses"    => p.crosses(g2)
      case "overlaps"   => p.overlaps(g2)
      case "disjoint"   => p.disjoint(g2)
      case "equals"     => p.getGeometry.equalsTopo(g2)
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r, op)
  override def prettyName: String = s"st_$op"
}

case class GeomBinaryToGeom(left: Expression, right: Expression, op: String)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val g1 = GeomOps.fromWkb(l.asInstanceOf[Array[Byte]])
    val g2 = GeomOps.fromWkb(r.asInstanceOf[Array[Byte]])
    val res = op match {
      case "intersection"  => g1.intersection(g2)
      case "union"         => g1.union(g2)
      case "difference"    => g1.difference(g2)
      case "symdifference" => g1.symDifference(g2)
    }
    GeomIO.toWkb(res)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r, op)
  override def prettyName: String = s"st_$op"
}

case class StDistance(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    GeomOps.fromWkb(l.asInstanceOf[Array[Byte]])
      .distance(GeomOps.fromWkb(r.asInstanceOf[Array[Byte]]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "st_distance"
}

/** buffer / simplify: geometry + double parameter. */
case class GeomWithDouble(left: Expression, right: Expression, op: String)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val g = GeomOps.fromWkb(l.asInstanceOf[Array[Byte]])
    val d = r.asInstanceOf[Double]
    val res = op match {
      case "buffer"   => g.buffer(d)
      case "simplify" => org.locationtech.jts.simplify.DouglasPeuckerSimplifier.simplify(g, d)
    }
    GeomIO.toWkb(res)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r, op)
  override def prettyName: String = s"st_$op"
}

/** st_transform(geom, src_srid, dst_srid) — closed-form pairs only:
  * 4326 (geodetic), 3857 (web mercator), the full WGS84 UTM family
  * EPSG 32601-32660 / 32701-32760 (6th-order Krüger, core/Utm.scala),
  * the LCC 2SP pair EPSG 2154 / 3978 (Snyder 2SP, core/Lcc.scala) and
  * the polar-stereographic pair EPSG 3031 / 3413 (EPSG 9829 variant B,
  * core/Ps.scala). Any src→dst among those chains through 4326; other
  * SRS stay a documented non-goal (SURVEY.md §2.2 — no PROJ in a stock
  * JVM). */
case class StTransform(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType

  private def supported(srid: Int): Boolean =
    srid == 4326 || srid == 3857 || srid == 27700 || graft.core.Utm.isUtm(srid) ||
      graft.core.Lcc.isLcc(srid) || graft.core.Ps.isPs(srid) ||
      graft.core.Albers.isAlbers(srid)

  override def nullSafeEval(g0: Any, s0: Any, d0: Any): Any = {
    val g = GeomOps.fromWkb(g0.asInstanceOf[Array[Byte]]).copy()
    val src = s0.asInstanceOf[Int]; val dst = d0.asInstanceOf[Int]
    if (src == dst) return GeomIO.toWkb(g)
    require(supported(src) && supported(dst),
      s"st_transform supports 4326, 3857, UTM 326xx/327xx, LCC 2154/3978, polar-stereo 3031/3413, Albers 5070/3577 and BNG 27700, got $src->$dst")
    g.apply(new org.locationtech.jts.geom.CoordinateFilter {
      override def filter(c: org.locationtech.jts.geom.Coordinate): Unit = {
        // hop 1: src → geodetic lon/lat
        var lon = c.x; var lat = c.y
        if (src == 3857) {
          lon = TileMath.mercXToLon(c.x); lat = TileMath.mercYToLat(c.y)
        } else if (graft.core.Lcc.isLcc(src)) {
          val ll = graft.core.Lcc.inverse(c.x, c.y, graft.core.Lcc.byEpsg(src))
          lon = ll._1; lat = ll._2
        } else if (graft.core.Ps.isPs(src)) {
          val ll = graft.core.Ps.inverse(c.x, c.y, graft.core.Ps.byEpsg(src))
          lon = ll._1; lat = ll._2
        } else if (graft.core.Albers.isAlbers(src)) {
          val ll = graft.core.Albers.inverse(c.x, c.y, graft.core.Albers.byEpsg(src))
          lon = ll._1; lat = ll._2
        } else if (src == 27700) {
          val ll = graft.core.Bng.inverse(c.x, c.y)
          lon = ll._1; lat = ll._2
        } else if (src != 4326) {
          val (z, north) = graft.core.Utm.epsgZone(src)
          val ll = graft.core.Utm.inverse(c.x, c.y, z, north)
          lon = ll._1; lat = ll._2
        }
        // hop 2: geodetic → dst
        if (dst == 4326) { c.x = lon; c.y = lat }
        else if (dst == 3857) {
          c.x = TileMath.lonToMercX(lon); c.y = TileMath.latToMercY(lat)
        } else if (graft.core.Lcc.isLcc(dst)) {
          val en = graft.core.Lcc.forward(lon, lat, graft.core.Lcc.byEpsg(dst))
          c.x = en._1; c.y = en._2
        } else if (graft.core.Ps.isPs(dst)) {
          val en = graft.core.Ps.forward(lon, lat, graft.core.Ps.byEpsg(dst))
          c.x = en._1; c.y = en._2
        } else if (graft.core.Albers.isAlbers(dst)) {
          val en = graft.core.Albers.forward(lon, lat, graft.core.Albers.byEpsg(dst))
          c.x = en._1; c.y = en._2
        } else if (dst == 27700) {
          val en = graft.core.Bng.forward(lon, lat)
          c.x = en._1; c.y = en._2
        } else {
          val (z, north) = graft.core.Utm.epsgZone(dst)
          val en = graft.core.Utm.forward(lon, lat, z, north)
          c.x = en._1; c.y = en._2
        }
      }
    })
    g.geometryChanged()
    GeomIO.toWkb(g)
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
  override def prettyName: String = "st_transform"
}

/** st_<op>_point(geom_wkb, lon, lat) — the point-probe fast path of the
  * spatial join refine: skips building + reparsing a WKB point per
  * candidate row (the generic path costs a serialize/deserialize pair per
  * probe). Left side goes through the shared PreparedGeometry cache like
  * GeomPredicate. REAL codegen (not CodegenFallback): the refine runs in
  * the hottest loop of the engine, and the generated code is one static
  * call with primitive args — no boxing, no interpreted dispatch — which
  * also keeps the whole join+refine stage inside one codegen span. */
case class GeomPredicatePoint(first: Expression, second: Expression,
                              third: Expression, op: String)
    extends TernaryExpression {
  override def dataType: DataType = BooleanType
  private def opCode: Int = op match {
    case "contains" => 0
    case "covers"   => 1
    case _          => 2
  }
  override def nullSafeEval(g0: Any, lon0: Any, lat0: Any): Any =
    GeomIO.predPoint(opCode, g0.asInstanceOf[Array[Byte]],
      lon0.asInstanceOf[Double], lat0.asInstanceOf[Double])
  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (g, lon, lat) =>
      s"${ev.value} = graft.core.GeomIO.predPoint($opCode, $g, $lon, $lat);")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c, op)
  override def prettyName: String = s"st_${op}_point"
}

/** Linear referencing (reference apps/ogrlineref.cpp — the -create
  * milepost, -get_pos and -get_subline modes; the per-segment primitives
  * live in ogr/ogrlinestring.cpp :: OGRLineString::Value/Project). All
  * four functions share ONE pinned IEEE op order so a SQL oracle replays
  * the output doubles BIT-exactly with no quantization (the q92
  * discipline): per segment i in vertex order dx=x1−x0, dy=y1−y0,
  * ls=dx·dx+dy·dy, len=sqrt(ls); cumulative length accumulates
  * left-assoc from 0.0. Every op is −,·,/,sqrt — exactly rounded, zero
  * transcendentals — so engine and oracle produce identical doubles from
  * identical inputs, and every comparison (segment choice, clamp,
  * nearest-segment argmin) decides identically too, even on would-be
  * ties. Zero-length segments are skipped (they carry no interior
  * distance and would divide 0/0). */
object LineRefOps {
  import org.locationtech.jts.geom.Coordinate

  private def segLen(cs: Array[Coordinate], i: Int): Double = {
    val dx = cs(i + 1).x - cs(i).x; val dy = cs(i + 1).y - cs(i).y
    math.sqrt(dx * dx + dy * dy)
  }

  def totalLen(cs: Array[Coordinate]): Double = {
    var tot = 0.0; var i = 0
    while (i + 1 < cs.length) { tot += segLen(cs, i); i += 1 }
    tot
  }

  /** Point at distance d along the line: the FIRST segment whose
    * cumulative end reaches d interpolates t=(d−cum)/len, x=x0+dx·t;
    * d ≤ 0 → first vertex, past the end → last vertex (ogrlineref
    * clamps the same way). */
  def interpolate(cs: Array[Coordinate], dist: Double): (Double, Double) = {
    if (!(dist > 0.0)) return (cs.head.x, cs.head.y)
    var cum = 0.0; var i = 0
    while (i + 1 < cs.length) {
      val li = segLen(cs, i)
      if (li > 0.0 && dist <= cum + li) {
        val t = (dist - cum) / li
        val dx = cs(i + 1).x - cs(i).x; val dy = cs(i + 1).y - cs(i).y
        return (cs(i).x + dx * t, cs(i).y + dy * t)
      }
      cum += li
      i += 1
    }
    (cs.last.x, cs.last.y)
  }

  /** Fraction of total length (0..1) at the nearest point of the line to
    * (px,py): per segment t=((px−x0)·dx+(py−y0)·dy)/ls clamped to [0,1],
    * foot f=p0+d·t, d2=(p−f)·(p−f); strict < argmin keeps the FIRST best
    * segment; result (cumAtSeg + len·t)/total. */
  def locate(cs: Array[Coordinate], px: Double, py: Double): Double = {
    val tot = totalLen(cs)
    if (!(tot > 0.0)) return 0.0
    var best = Double.PositiveInfinity
    var frac = 0.0
    var cum = 0.0; var i = 0
    while (i + 1 < cs.length) {
      val dx = cs(i + 1).x - cs(i).x; val dy = cs(i + 1).y - cs(i).y
      val ls = dx * dx + dy * dy
      val li = math.sqrt(ls)
      if (li > 0.0) {
        var t = ((px - cs(i).x) * dx + (py - cs(i).y) * dy) / ls
        if (t < 0.0) t = 0.0 else if (t > 1.0) t = 1.0
        val fx = cs(i).x + dx * t; val fy = cs(i).y + dy * t
        val ex = px - fx; val ey = py - fy
        val d2 = ex * ex + ey * ey
        if (d2 < best) { best = d2; frac = (cum + li * t) / tot }
      }
      cum += li
      i += 1
    }
    frac
  }

  /** Vertices of the sub-line between distances d0 ≤ d1: interpolate(d0),
    * then every ORIGINAL interior vertex whose cumulative distance lies
    * STRICTLY inside (d0, d1) copied bit-exact, then interpolate(d1).
    * Duplicates are not collapsed (d0==d1 yields the degenerate 2-point
    * line) — the oracle builds the same list. */
  def substring(cs: Array[Coordinate], d0: Double, d1: Double): Array[Coordinate] = {
    require(d0 <= d1, s"st_line_substring needs d0 <= d1, got $d0 > $d1")
    val out = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
    val s = interpolate(cs, d0)
    out += new Coordinate(s._1, s._2)
    var cum = 0.0; var i = 0
    while (i + 1 < cs.length) {
      cum += segLen(cs, i)
      // vertex i+1 sits at cumulative distance cum; the LAST vertex is
      // never emitted here (interpolate(d1) already caps at it)
      if (i + 2 < cs.length && cum > d0 && cum < d1)
        out += new Coordinate(cs(i + 1).x, cs(i + 1).y)
      i += 1
    }
    val e = interpolate(cs, d1)
    out += new Coordinate(e._1, e._2)
    out.toArray
  }
}

/** st_line_length(geom) — cumulative per-segment sqrt length in the
  * LineRefOps op order (NOT JTS getLength, whose accumulation order is
  * not a contract of this engine). */
case class StLineLength(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    LineRefOps.totalLen(GeomOps.fromWkb(v.asInstanceOf[Array[Byte]]).getCoordinates)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_line_length"
}

/** st_line_interpolate(geom, dist) — POINT at distance dist along the
  * line (ogrlineref -create milepost primitive). */
case class StLineInterpolate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(g0: Any, d0: Any): Any = {
    val cs = GeomOps.fromWkb(g0.asInstanceOf[Array[Byte]]).getCoordinates
    val p = LineRefOps.interpolate(cs, d0.asInstanceOf[Double])
    GeomIO.toWkb(GeomIO.factory.createPoint(
      new org.locationtech.jts.geom.Coordinate(p._1, p._2)))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "st_line_interpolate"
}

/** st_line_locate(geom, px, py) — fraction of the line's length at the
  * nearest point to (px,py) (ogrlineref -get_pos). */
case class StLineLocate(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(g0: Any, x0: Any, y0: Any): Any =
    LineRefOps.locate(GeomOps.fromWkb(g0.asInstanceOf[Array[Byte]]).getCoordinates,
      x0.asInstanceOf[Double], y0.asInstanceOf[Double])
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
  override def prettyName: String = "st_line_locate"
}

/** st_line_substring(geom, d0, d1) — LINESTRING between the two
  * distances (ogrlineref -get_subline). */
case class StLineSubstring(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(g0: Any, a0: Any, b0: Any): Any = {
    val cs = GeomOps.fromWkb(g0.asInstanceOf[Array[Byte]]).getCoordinates
    val sub = LineRefOps.substring(cs, a0.asInstanceOf[Double], b0.asInstanceOf[Double])
    GeomIO.toWkb(GeomIO.factory.createLineString(sub))
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
  override def prettyName: String = "st_line_substring"
}

/** st_union_fold(array<wkb>) → wkb: BALANCED-TREE union over the array
  * order (callers sort the array first, so the shape and every pairing
  * are deterministic). The aggregate-union primitive behind dissolve
  * workflows (reference: the SQLite dialect's ST_Union aggregate,
  * ogr/ogrsf_frmts/sqlite :: OGR2SQLITE_RegisterRegularFunction family;
  * the tree IS the reference's CascadedPolygonUnion insight —
  * alg-adjacent JTS CascadedPolygonUnion exists for exactly this). A
  * LEFT-ASSOC linear fold re-processes the ever-growing accumulator and
  * goes O(n²) in ring count — measured 115 s on a 1250-box group at
  * sf0.1 vs ~1 s for the tree; union associativity makes both produce
  * the same region, so the tree is a pure constant-factor fix. For a
  * 100-TB mega-group, cascade further: tile-local folds first, then
  * fold the partials — associativity again. */
case class StUnionFold(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    require(n > 0, "st_union_fold: empty geometry array")
    var layer = new Array[org.locationtech.jts.geom.Geometry](n)
    var i = 0
    while (i < n) { layer(i) = GeomOps.fromWkb(arr.getBinary(i)); i += 1 }
    var m = n
    while (m > 1) {
      val next = new Array[org.locationtech.jts.geom.Geometry]((m + 1) / 2)
      var j = 0
      while (j < m / 2) { next(j) = layer(2 * j).union(layer(2 * j + 1)); j += 1 }
      if (m % 2 == 1) next(m / 2) = layer(m - 1)
      layer = next
      m = (m + 1) / 2
    }
    GeomIO.toWkb(layer(0))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_union_fold"
}

/** tm_forward / tm_inverse — the generalized Transverse Mercator
  * (Gauss-Krüger) transform with explicit projection parameters
  * (reference: ogr/ogr_spatialref.cpp :: OGRSpatialReference::SetTM —
  * central meridian, scale factor, false easting/northing; SetUTM is its
  * fixed-parameter wrapper). Returns struct(x, y); the Krüger series is
  * core/Utm.forwardTm/inverseTm, bit-shared with the q73/q76 UTM path. */
case class TmTransform(children: Seq[Expression], forward: Boolean)
    extends Expression with CodegenFallback {
  require(children.length == 6,
    "tm_forward/tm_inverse(a, b, lon0, k0, false_e, false_n)")
  override def dataType: DataType = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) null
    else {
      val d = vs.map(_.asInstanceOf[Double])
      val (x, y) =
        if (forward) graft.core.Utm.forwardTm(d(0), d(1), d(2), d(3), d(4), d(5))
        else graft.core.Utm.inverseTm(d(0), d(1), d(2), d(3), d(4), d(5))
      InternalRow(x, y)
    }
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(cs, forward)
  override def prettyName: String = if (forward) "tm_forward" else "tm_inverse"
}
