package graft.core

import org.locationtech.jts.geom.{Geometry, GeometryFactory, PrecisionModel, Coordinate}
import org.locationtech.jts.io.{WKTReader, WKTWriter, WKBReader, WKBWriter}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}

/** JTS bridge: WKT/WKB (de)serialization and a bounded prepared-geometry
  * cache.
  *
  * The reference's geometry engine is GEOS — the C++ port of JTS — so JTS
  * predicates are semantics-identical to the reference's
  * (reference: ogr/ogrgeometry.cpp :: OGRGeometry::Intersects/Contains/…,
  * ogr/ogrgeometryfactory.cpp :: createFromWkt/createFromWkb). Geometry
  * travels through Spark plans as WKB in a BinaryType column (no UDT,
  * SURVEY.md §2.2); these helpers run inside Catalyst expressions.
  *
  * `toWkb(fromWkt(s))` is the reference result for text: `Wkt.toWkb`
  * writes the same bytes directly for 2D POINT/LINESTRING/POLYGON text
  * (the analog of ogr/ogrutils.cpp :: OGRWktReadToken) and returns null for
  * everything else, which then goes through `fromWkt`. `pointOrdinate`
  * reads a plain point's coordinate from WKB without building a geometry.
  */
object GeomIO {
  val factory = new GeometryFactory(new PrecisionModel(PrecisionModel.FLOATING), 4326)

  // JTS reader/writer classes are not thread-safe; Spark evaluates
  // expressions on many task threads in one JVM (local[32]).
  private val wktReader = ThreadLocal.withInitial[WKTReader](() => new WKTReader(factory))
  private val wktWriter = ThreadLocal.withInitial[WKTWriter](() => new WKTWriter())
  private val wkbReader = ThreadLocal.withInitial[WKBReader](() => new WKBReader(factory))
  private val wkbWriter = ThreadLocal.withInitial[WKBWriter](() => new WKBWriter())

  def fromWkt(wkt: String): Geometry = wktReader.get.read(wkt)
  def toWkt(g: Geometry): String = wktWriter.get.write(g)
  def fromWkb(wkb: Array[Byte]): Geometry = wkbReader.get.read(wkb)
  def toWkb(g: Geometry): Array[Byte] = wkbWriter.get.write(g)

  /** x (`axis` 0) or y (`axis` 1) of a 21-byte, type-1 point WKB of
    * either byte order, read as `fromWkb(wkb).getCoordinate` reads it.
    * NaN for any other bytes: other types, EWKB flags or an SRID, Z/M, an
    * unknown byte-order byte, or a NaN coordinate (which JTS reads as
    * POINT EMPTY), so the caller sends those to JTS. */
  def pointOrdinate(wkb: Array[Byte], axis: Int): Double = {
    if (wkb.length != 21 || (wkb(0) != 0 && wkb(0) != 1)) return Double.NaN
    val b = java.nio.ByteBuffer.wrap(wkb).order(
      if (wkb(0) == 1) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
    if (b.getInt(1) != 1) return Double.NaN
    val x = b.getDouble(5); val y = b.getDouble(13)
    if (x.isNaN || y.isNaN) Double.NaN else if (axis == 0) x else y
  }

  def point(lon: Double, lat: Double): Geometry =
    factory.createPoint(new Coordinate(lon, lat))

  /** Axis-aligned box polygon (counter-clockwise shell). */
  def box(xmin: Double, ymin: Double, xmax: Double, ymax: Double): Geometry =
    factory.createPolygon(Array(
      new Coordinate(xmin, ymin), new Coordinate(xmax, ymin),
      new Coordinate(xmax, ymax), new Coordinate(xmin, ymax),
      new Coordinate(xmin, ymin)))

  /** SHARED bounded cache of PreparedGeometry keyed by WKB bytes — the
    * analog of the reference caching a prepared geometry inside its
    * spatial filter (ogr/ogrsf_frmts/generic/ogrlayer.cpp ::
    * OGRLayer::FilterGeometry). The refine step of a broadcast spatial
    * join probes the same dimension polygons from every task thread in
    * random row order, so the cache must (a) hold the whole broadcast
    * dimension side and (b) be shared across threads — a per-thread LRU
    * smaller than the dimension count thrashed: every probe re-parsed and
    * re-prepared the polygon (~1 µs vs ~50 ns; measured ~2× wall on the
    * q11–q60 family at sf0.1). JTS ≥ 1.18 PreparedPolygon lazy index
    * getters are synchronized, so sharing instances across threads is
    * safe. The cache holds up to 65536 entries (≈ tens of MB for typical
    * dimension polygons); an insert at the cap clears the whole cache and
    * starts a new epoch, so the current hot set is re-prepared once. */
  private final val CacheMax = 65536
  private val prepCache =
    new java.util.concurrent.ConcurrentHashMap[java.nio.ByteBuffer, PreparedGeometry](1024)

  def prepared(wkb: Array[Byte]): PreparedGeometry = {
    val key = java.nio.ByteBuffer.wrap(wkb)
    val p = prepCache.get(key)
    if (p != null) p
    else {
      val fresh = PreparedGeometryFactory.prepare(fromWkb(wkb))
      // epoch reset instead of permanent miss: an insert-only cache that
      // fills with one query's geometries would silently lock every LATER
      // query's hot polygons out (reintroducing the re-prepare thrash this
      // cache exists to kill). Clearing re-prepares the current hot set
      // once; steady state is all-hits again.
      if (prepCache.size >= CacheMax) prepCache.clear()
      // copy the key bytes: the caller's array may be a reused buffer
      val owned = java.nio.ByteBuffer.wrap(java.util.Arrays.copyOf(wkb, wkb.length))
      prepCache.putIfAbsent(owned, fresh)
      fresh
    }
  }

  /** Codegen entry point for the point-probe predicate (called from
    * generated code with primitive args — no boxing, no InternalRow).
    * op: 0 = contains, 1 = covers, 2 = intersects. */
  def predPoint(op: Int, wkb: Array[Byte], lon: Double, lat: Double): Boolean = {
    val p = prepared(wkb)
    val pt = factory.createPoint(new Coordinate(lon, lat))
    op match {
      case 0 => p.contains(pt)
      case 1 => p.covers(pt)
      case _ => p.intersects(pt)
    }
  }
}
