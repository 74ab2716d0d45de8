package graft.core

/** Direct WKT → WKB scanner for the 2D `POINT`, `LINESTRING` and `POLYGON`
  * subset: one pass over the text bytes writes the WKB that
  * `GeomIO.toWkb(GeomIO.fromWkt(s))` gives (big-endian, 2D, JTS
  * `new WKBWriter()` defaults), with no `java.io.StreamTokenizer` and no
  * JTS geometry. The analog of the reference's hand-written scanner
  * (ogr/ogrutils.cpp :: OGRWktReadToken / OGRWktReadPoints, driven by
  * ogr/ogrgeometryfactory.cpp :: createFromWkt), where JTS `WKTReader`
  * tokenizes with `StreamTokenizer`.
  *
  * Tokens follow JTS's tokenizer: bytes 0x00–0x20 are whitespace, a word is
  * a maximal run of `[A-Za-z0-9+\-.]`, and `(`, `)`, `,` stand alone. A
  * keyword matches case-insensitively, and a number is a word in the plain
  * decimal form `[+-]? (d+ (. d*)? | . d+) ([eE] [+-]? d+)?` read by
  * `Double.parseDouble`, as JTS reads it. Linestrings need at least 2
  * points; rings need at least 4 and must close exactly, as JTS's
  * constructors require.
  *
  * Everything else returns `null`, so the caller falls back to JTS and
  * gets its result or its exception unchanged: `EMPTY`, Z/M/ZM, `NaN`,
  * `Infinity`, hex or suffixed numbers, `#` comments, non-ASCII bytes,
  * trailing tokens, short or unclosed rings, 1-point linestrings,
  * `MULTI*`, collections and curves.
  */
object Wkt {
  /** WKB of the UTF-8 WKT text `in`, or `null` outside the subset. */
  def toWkb(in: Array[Byte]): Array[Byte] =
    try new Scan(in).geometry()
    catch { case Unsupported => null }

  private object Unsupported extends RuntimeException(null, null, false, false)

  private final class Scan(in: Array[Byte]) {
    private val end = in.length
    private var pos = 0
    private var out = new Array[Byte](64)
    private var n = 0
    private var x = 0.0
    private var y = 0.0

    def geometry(): Array[Byte] = {
      if (keyword("POINT")) {
        header(1); expect('('); coord(); expect(')')
      } else if (keyword("LINESTRING")) {
        header(2); points(2, closed = false)
      } else if (keyword("POLYGON")) {
        header(3); expect('(')
        val at = reserve(); var rings = 0
        do { points(4, closed = true); rings += 1 } while (commaOrClose())
        patch(at, rings)
      } else throw Unsupported
      skipWs()
      if (pos != end) throw Unsupported
      java.util.Arrays.copyOf(out, n)
    }

    /** `( x y, … )` as a WKB point count and coordinates. */
    private def points(min: Int, closed: Boolean): Unit = {
      expect('(')
      val at = reserve()
      coord()
      val x0 = x; val y0 = y
      var k = 1
      while (commaOrClose()) { coord(); k += 1 }
      if (k < min || closed && (x != x0 || y != y0)) throw Unsupported
      patch(at, k)
    }

    private def coord(): Unit = {
      x = number(); y = number()
      putDouble(x); putDouble(y)
    }

    // ---- tokens ----

    private def skipWs(): Unit =
      while (pos < end && (in(pos) & 0xff) <= ' ') pos += 1

    private def isWord(b: Byte): Boolean =
      (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9') ||
        b == '+' || b == '-' || b == '.'

    /** The next word, if it is `kw` in any case. */
    private def keyword(kw: String): Boolean = {
      skipWs()
      var e = pos
      while (e < end && isWord(in(e))) e += 1
      if (e - pos != kw.length) return false
      var i = 0
      while (i < kw.length) {
        if ((in(pos + i) & 0xdf) != kw.charAt(i)) return false
        i += 1
      }
      pos = e
      true
    }

    private def expect(c: Char): Unit = {
      skipWs()
      if (pos < end && in(pos) == c) pos += 1 else throw Unsupported
    }

    /** `,` → true, `)` → false. */
    private def commaOrClose(): Boolean = {
      skipWs()
      if (pos < end && in(pos) == ',') { pos += 1; true }
      else if (pos < end && in(pos) == ')') { pos += 1; false }
      else throw Unsupported
    }

    private def number(): Double = {
      skipWs()
      val st = pos
      while (pos < end && isWord(in(pos))) pos += 1
      if (!decimal(st, pos)) throw Unsupported
      java.lang.Double.parseDouble(
        new String(in, st, pos - st, java.nio.charset.StandardCharsets.ISO_8859_1))
    }

    /** `in(st until e)` is `[+-]? (d+ (. d*)? | . d+) ([eE] [+-]? d+)?`. */
    private def decimal(st: Int, e: Int): Boolean = {
      val m = signEnd(st, e)
      var i = digitsEnd(m, e)
      var mantissa = i - m
      if (i < e && in(i) == '.') { val f = digitsEnd(i + 1, e); mantissa += f - i - 1; i = f }
      if (mantissa == 0) return false
      if (i < e && (in(i) == 'e' || in(i) == 'E')) {
        val ds = signEnd(i + 1, e)
        i = digitsEnd(ds, e)
        if (i == ds) return false
      }
      i == e
    }

    private def signEnd(i: Int, e: Int): Int =
      if (i < e && (in(i) == '+' || in(i) == '-')) i + 1 else i

    private def digitsEnd(i: Int, e: Int): Int = {
      var k = i
      while (k < e && in(k) >= '0' && in(k) <= '9') k += 1
      k
    }

    // ---- WKB output, big-endian ----

    private def ensure(k: Int): Unit =
      if (n + k > out.length) out = java.util.Arrays.copyOf(out, math.max(out.length * 2, n + k))

    private def header(geomType: Int): Unit = {
      ensure(1); out(n) = 0; n += 1
      putInt(geomType)
    }

    private def reserve(): Int = { val at = n; putInt(0); at }

    private def putInt(v: Int): Unit = { ensure(4); patch(n, v); n += 4 }

    private def patch(at: Int, v: Int): Unit = {
      out(at) = (v >>> 24).toByte; out(at + 1) = (v >>> 16).toByte
      out(at + 2) = (v >>> 8).toByte; out(at + 3) = v.toByte
    }

    private def putDouble(d: Double): Unit = {
      val l = java.lang.Double.doubleToLongBits(d)
      ensure(8)
      var i = 0
      while (i < 8) { out(n + i) = (l >>> (56 - 8 * i)).toByte; i += 1 }
      n += 8
    }
  }
}
