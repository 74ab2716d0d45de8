package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.io.{ByteOrderValues, WKBWriter}
import org.locationtech.jts.geom.{Coordinate, CoordinateXYM}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try
import graft.core.{Arc, GeomIO, Wkt}
import graft.functions.{GeomUnaryToDouble, StGeomFromWkt}

/** The direct WKT scanner (`core.Wkt`) against JTS: the same WKB bytes or
  * null, and `st_geomfromwkt` / `st_x` / `st_y` give the same value or the
  * same exception class as the JTS path. */
class WktSpec extends AnyFunSuite {
  private def jtsWkb(s: String): Array[Byte] = GeomIO.toWkb(GeomIO.fromWkt(s))

  private def scan(s: String): Array[Byte] = Wkt.toWkb(s.getBytes(UTF_8))

  /** `st_geomfromwkt` as it ran before the scanner: blank → null, curves →
    * `Arc`, the rest → JTS. */
  private def reference(s: String): Try[Any] = Try {
    if (s.isEmpty || s.forall(_.isWhitespace)) null
    else if (Arc.isCurveWkt(s)) GeomIO.toWkb(Arc.fromCurveWkt(s))
    else jtsWkb(s)
  }

  private val fromWkt = StGeomFromWkt(BoundReference(0, StringType, nullable = true))

  /** Evaluates `st_geomfromwkt` on `s` as a slice of a larger buffer, as
    * strings sit in Spark rows. The bytes before the slice are `s` with
    * digits 1–9 shifted: another WKT of the same length, so a read from
    * the wrong offset gives a different value. */
  private def viaExpression(s: String): Try[Any] = Try {
    val b = s.getBytes(UTF_8)
    val shifted = b.map(c => if (c == '9') '1'.toByte else if (c >= '1' && c < '9') (c + 1).toByte else c)
    val padded = shifted ++ b ++ Array[Byte](')', ' ', 'x')
    fromWkt.eval(InternalRow(UTF8String.fromBytes(padded, b.length, b.length)))
  }

  private def sameOutcome(a: Try[Any], b: Try[Any]): Boolean = (a.toOption, b.toOption) match {
    case (Some(x: Array[Byte]), Some(y: Array[Byte])) => x.sameElements(y)
    case (Some(x: Double), Some(y: Double)) => java.lang.Double.compare(x, y) == 0
    case (Some(x), Some(y)) => x == y
    case (None, None) => a.failed.get.getClass == b.failed.get.getClass
    case _ => false
  }

  private def assertSameAsJts(s: String): Unit = {
    val ref = reference(s)
    val got = viaExpression(s)
    assert(sameOutcome(got, ref), s"st_geomfromwkt differs from JTS on ${s.map(_.toInt)}: $got vs $ref")
  }

  // ---- seeded generated shapes ----

  private final class Gen(rng: scala.util.Random) {
    private def digits(n: Int): String = Seq.fill(n)(('0' + rng.nextInt(10)).toChar).mkString
    private def sign: String = Seq("", "", "-", "+")(rng.nextInt(4))

    def number(): String = rng.nextInt(12) match {
      case 0 => (rng.nextInt(361) - 180).toString
      case 1 => "+" + rng.nextInt(1000)
      case 2 => sign + "." + digits(1 + rng.nextInt(4))
      case 3 => sign + digits(1 + rng.nextInt(3)) + "."
      case 4 => sign + digits(1) + "." + digits(1 + rng.nextInt(3)) +
        Seq("e", "E")(rng.nextInt(2)) + Seq("", "+", "-")(rng.nextInt(3)) + rng.nextInt(20)
      case 5 => String.format(java.util.Locale.ROOT, "%.17g", Double.box(rng.nextDouble() * 360 - 180))
      case 6 =>
        var d = java.lang.Double.longBitsToDouble(rng.nextLong())
        while (d.isNaN || d.isInfinite) d = java.lang.Double.longBitsToDouble(rng.nextLong())
        d.toString
      case 7 => java.lang.Double.longBitsToDouble(rng.nextLong() & 0x000fffffffffffffL).toString
      case 8 => Seq("1e400", "-1e400", "1e-400", "-1E-400", "4.9e-324", "1.7976931348623157e308")(rng.nextInt(6))
      case 9 => Seq("0", "-0", "0.0", "-0.", "+.0")(rng.nextInt(5))
      case 10 => "00" + digits(2) + "." + digits(2) + "0"
      case _ => sign + digits(1 + rng.nextInt(3)) + "." + digits(1 + rng.nextInt(10))
    }

    /** The same value written another way. */
    def respell(n: String): String =
      if (n.exists(c => c == 'e' || c == 'E')) n
      else if (n.contains('.')) n + "0"
      else if (n.startsWith("-") || n.startsWith("+")) n
      else "+" + n

    def ws(required: Boolean): String = {
      val pick = Seq(" ", "\t", "\n", "\r\n", "  ", "\u0001", "\u001f", " \t ")(rng.nextInt(8))
      if (required || rng.nextBoolean()) pick else ""
    }

    def keyword(k: String): String =
      k.map(c => if (rng.nextBoolean()) c.toLower else c)

    private def coord(x: String, y: String): String = ws(false) + x + ws(true) + y + ws(false)

    def points(n: Int, closed: Boolean): String = {
      val pts = Seq.fill(n)((number(), number()))
      val all = if (closed) pts :+ ((respell(pts.head._1), respell(pts.head._2))) else pts
      "(" + all.map { case (x, y) => coord(x, y) }.mkString(",") + ")"
    }

    def shape(): String = rng.nextInt(3) match {
      case 0 => keyword("POINT") + ws(false) + "(" + coord(number(), number()) + ")"
      case 1 => keyword("LINESTRING") + ws(false) + points(2 + rng.nextInt(5), closed = false)
      case _ =>
        val rings = Seq.fill(1 + rng.nextInt(3))(ws(false) + points(3 + rng.nextInt(4), closed = true))
        keyword("POLYGON") + ws(false) + "(" + rings.mkString("," + ws(false)) + ws(false) + ")"
    }
  }

  test("scanner writes JTS's WKB bytes for generated POINT/LINESTRING/POLYGON text") {
    val gen = new Gen(new scala.util.Random(7))
    (0 until 3000).foreach { _ =>
      val s = gen.ws(false) + gen.shape() + gen.ws(false)
      val got = scan(s)
      assert(got != null, s"scanner declined ${s.map(_.toInt)}")
      assert(got.sameElements(jtsWkb(s)), s"bytes differ on $s")
      assertSameAsJts(s)
    }
  }

  test("scanner writes JTS's WKB bytes for every WKT value in the sf0.01 synth tables") {
    val spark = TestSpark.spark
    import spark.implicits._
    val sf = new java.io.File(TestSpark.SfSmall).getParent + "/sf0.01"
    val points = graft.synth.Synth.docs(spark, sf)
      .select(explode(col("spans")).as("s")).where(col("s.kind") === "text")
      .select(col("s.text")).as[String].collect()
    val regions = graft.synth.Synth.regionWkt(spark, sf).select("wkt").as[String].collect()
    assert(points.length > 10000 && regions.length > 1000)
    (points ++ regions).foreach { s =>
      val got = scan(s)
      assert(got != null && got.sameElements(jtsWkb(s)), s"bytes differ on $s")
      assertSameAsJts(s)
    }
  }

  test("scanner passes everything outside its subset to JTS; st_geomfromwkt keeps JTS's result") {
    val outside = Seq(
      // Z / M / ZM, and JTS's old 3-number point syntax
      "POINT Z (1 2 3)", "POINT M (1 2 3)", "POINT ZM (1 2 3 4)", "POINTZ (1 2 3)",
      "POINT (1 2 3)", "LINESTRING Z (1 2 3, 4 5 6)", "POLYGON M ((0 0 1, 1 0 1, 1 1 1, 0 0 1))",
      // EMPTY
      "POINT EMPTY", "LINESTRING EMPTY", "POLYGON EMPTY", "point empty",
      "POLYGON ((0 0, 1 0, 1 1, 0 0), EMPTY)",
      // NaN / Infinity / numbers only Double.parseDouble reads
      "POINT (NaN 1)", "POINT (1 nan)", "POINT (Infinity 1)", "POINT (-Infinity 1)",
      "POINT (0x1p3 1)", "POINT (1d 2)", "POINT (1F 2)",
      // comments
      "POINT (1 2) # note", "# note\nPOINT (1 2)", "POINT (1 # note\n 2)",
      // non-ASCII bytes
      "POINT (1 2)\u00a0", "POINT (1\u00a02)", "P\u00d6INT (1 2)", "POINT (\uff11 2)", "POINT (1 2)\u00e9",
      // trailing tokens
      "POINT (1 2) x", "POINT (1 2))", "POINT (1 2),", "POINT (1 2) POINT (3 4)", "POINT (1 2) (",
      // unclosed / short rings, 1-point linestrings
      "POLYGON ((0 0, 1 0, 1 1, 0 1))", "POLYGON ((0 0, 1 0, 0 0))", "POLYGON ((0 0))",
      "POLYGON ((0 0, 1 0, 1 1, 0 0), (0.1 0.1, 0.2 0.1, 0.2 0.2))", "LINESTRING (1 2)",
      // collections, rings, curves
      "MULTIPOINT ((1 2))", "MULTIPOINT (1 2, 3 4)", "MULTILINESTRING ((0 0, 1 1))",
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))", "GEOMETRYCOLLECTION (POINT (1 2))",
      "LINEARRING (0 0, 1 0, 1 1, 0 0)", "CIRCULARSTRING (0 0, 1 1, 2 0)",
      "COMPOUNDCURVE ((0 0, 1 0), CIRCULARSTRING (1 0, 2 1, 3 0))",
      "CURVEPOLYGON (CIRCULARSTRING (0 0, 2 0, 0 0))", "  circularstring (0 0, 1 1, 2 0)",
      // malformed
      "POINT (1, 2)", "POINT (1 2", "POINT 1 2", "POINT (1-2 3)", "POINT (. 1)", "POINT (1e 2)",
      "POINT (--1 2)", "POINT (1..2 3)", "POINT (1 2, 3 4)", "POINT ()", "LINESTRING ()",
      "POLYGON (())", "POLYGON ()", "(1 2)", "FOO (1 2)", "POINT (1 2;)", "POINT ('1' 2)",
      "POINT (1e+ 2)", "POINT (+ 2)", "POINT", "POINT (",
      // blank: null, not an error
      "", "   ", "\t\n")
    outside.foreach { s =>
      assert(scan(s) == null, s"scanner accepted ${s.map(_.toInt)}")
      assertSameAsJts(s)
    }
    Seq("", "   ", "\t\n").foreach(s => assert(viaExpression(s).get == null))
  }

  // ---- st_x / st_y ----

  private def stAxis(wkb: Array[Byte], axis: Int): Try[Any] = Try(
    GeomUnaryToDouble(BoundReference(0, BinaryType, nullable = true), if (axis == 0) "x" else "y")
      .eval(InternalRow(wkb)))

  private def jtsAxis(wkb: Array[Byte], axis: Int): Try[Any] = Try {
    val c = GeomIO.fromWkb(wkb).getCoordinate
    if (axis == 0) c.x else c.y
  }

  private def assertAxesSameAsJts(wkb: Array[Byte]): Unit = (0 to 1).foreach { axis =>
    val got = stAxis(wkb, axis); val ref = jtsAxis(wkb, axis)
    assert(sameOutcome(got, ref), s"axis $axis on ${wkb.toSeq}: $got vs $ref")
  }

  private def pointWkb(order: Int, x: Double, y: Double): Array[Byte] =
    new WKBWriter(2, order).write(GeomIO.point(x, y))

  test("st_x / st_y read point WKB of either byte order as JTS does; other WKB goes to JTS") {
    val rng = new scala.util.Random(11)
    val values = Seq(0.0, -0.0, 1.5, -179.999, 1e-310, Double.MaxValue, Double.PositiveInfinity) ++
      Seq.fill(200)(rng.nextDouble() * 360 - 180)
    for (x <- values; order <- Seq(ByteOrderValues.BIG_ENDIAN, ByteOrderValues.LITTLE_ENDIAN)) {
      val wkb = pointWkb(order, x, -x / 3)
      assert(wkb.length == 21)
      assert(GeomIO.pointOrdinate(wkb, 0) == x && GeomIO.pointOrdinate(wkb, 1) == -x / 3)
      assertAxesSameAsJts(wkb)
    }
    val f = GeomIO.factory
    val empty = GeomIO.toWkb(f.createPoint())
    val nanX = pointWkb(ByteOrderValues.BIG_ENDIAN, Double.NaN, 2.0)
    val nanY = pointWkb(ByteOrderValues.LITTLE_ENDIAN, 1.0, Double.NaN)
    val ewkbSrid = new WKBWriter(2, ByteOrderValues.BIG_ENDIAN, true).write(GeomIO.point(3, 4))
    val ewkbZ = new WKBWriter(3).write(f.createPoint(new Coordinate(3, 4, 5)))
    val isoM = new WKBWriter(3, ByteOrderValues.LITTLE_ENDIAN).write(f.createPoint(new CoordinateXYM(3, 4, 5)))
    val badOrder = pointWkb(ByteOrderValues.BIG_ENDIAN, 3, 4).updated(0, 7.toByte)
    val line = GeomIO.toWkb(GeomIO.fromWkt("LINESTRING (5 6, 7 8)"))
    val poly = GeomIO.toWkb(GeomIO.box(1, 2, 3, 4))
    val multi = GeomIO.toWkb(GeomIO.fromWkt("MULTIPOINT ((9 10))"))
    val type2 = pointWkb(ByteOrderValues.BIG_ENDIAN, 0, 4).updated(4, 2.toByte)
    for (wkb <- Seq(empty, nanX, nanY, ewkbSrid, ewkbZ, isoM, badOrder, line, poly, multi, type2)) {
      assert(GeomIO.pointOrdinate(wkb, 0).isNaN && GeomIO.pointOrdinate(wkb, 1).isNaN)
      assertAxesSameAsJts(wkb)
    }
    assert(empty.length == 21 && stAxis(empty, 0).isFailure)
    assert(ewkbSrid.length == 25 && stAxis(ewkbSrid, 1).get == 4.0)
    assert(stAxis(line, 0).get == 5.0 && stAxis(poly, 1).get == 2.0)
  }
}
