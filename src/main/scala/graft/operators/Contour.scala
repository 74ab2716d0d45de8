package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Contour generation (reference: alg/contour.cpp :: GDALContourGenerate)
  * — SURVEY.md §3.8 R4, re-expressed as marching squares:
  *
  *   1. SEGMENTS (embarrassingly parallel): each 2×2 block of adjacent
  *      pixel centers is classified against the level; crossing points
  *      interpolate along block edges. Blocks straddling a tile seam are
  *      computed exactly once by the tile owning the block's top-left
  *      pixel, using an east/south 1-px halo (same strip exchange as the
  *      focal operator — O(perimeter) shuffle).
  *   2. STITCHING: segments sharing an endpoint merge into polylines via
  *      the same hash-to-min label resolution polygonize uses (node per
  *      segment, edge per shared endpoint).
  *
  * EXACT ARITHMETIC: for a level of the form (2k+1)/2 (the reference's
  * base/interval convention also lands levels off integer data), the
  * crossing along an edge with integer values vA→vB is the rational
  * t = (level2x - 2·vA) / (2·(vB - vA)). Endpoints are emitted as REDUCED
  * integer fractions in global pixel-center coordinates, so the output is
  * bit-reproducible by a SQL oracle and stitching can join on exact
  * endpoint equality. Saddles (cases 5/10) use the mean-of-corners rule.
  */
object Contour {

  /** One segment: endpoints as reduced global rationals xi = x?n/x?d. */
  final case class Seg(gx: Long, gy: Long, case_idx: Int, seg_idx: Int,
                       x0n: Long, x0d: Long, y0n: Long, y0d: Long,
                       x1n: Long, x1d: Long, y1n: Long, y1d: Long)

  private def gcd(a: Long, b: Long): Long = if (b == 0) (if (a == 0) 1 else a) else gcd(b, a % b)

  /** Reduced global rational: base + num/den. */
  private def red(base: Long, num: Long, den: Long): (Long, Long) = {
    val n = base * den + num
    val g = gcd(math.abs(n), math.abs(den))
    val s = if (den < 0) -1 else 1
    (s * n / g, s * den / g)
  }

  /** Marching-squares segments for the half-integer level `level2x`/2 over
    * a (tx, ty, pixels) single-zoom tile table with integer-valued pixels. */
  def segments(tiles: DataFrame, w: Int, h: Int, nxTiles: Long, nyTiles: Long,
               level2x: Long): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val parts = tiles.select(col("tx").cast("long"), col("ty").cast("long"), col("pixels"))
      .as[(Long, Long, Seq[Double])]
      .flatMap { case (tx, ty, px) =>
        val p = px.toArray
        val out = Array.newBuilder[(Long, Long, Int, Array[Double])]
        out += ((tx, ty, 0, p))                                                // self
        if (tx > 0) out += ((tx - 1, ty, 1, Array.tabulate(h)(y => p(y * w)))) // my W col → their E halo
        if (ty > 0) out += ((tx, ty - 1, 2, Array.tabulate(w)(x => p(x))))     // my N row → their S halo
        if (tx > 0 && ty > 0) out += ((tx - 1, ty - 1, 3, Array(p(0))))        // my NW px → their SE corner
        out.result()
      }
    parts.groupByKey { case (ttx, tty, _, _) => (ttx, tty) }
      .flatMapGroups { (key: (Long, Long), it: Iterator[(Long, Long, Int, Array[Double])]) =>
        val (tx, ty) = key
        val buf = it.toArray
        val self = buf.find(_._3 == 0).map(_._4).orNull
        if (self == null) Iterator.empty
        else {
          val eCol = buf.find(_._3 == 1).map(_._4)
          val sRow = buf.find(_._3 == 2).map(_._4)
          val sePx = buf.find(_._3 == 3).map(_._4)
          val pw = w + 1; val ph = h + 1
          val grid = new Array[Double](pw * ph)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { grid(y * pw + x) = self(y * w + x); x += 1 }
            eCol.foreach(c => grid(y * pw + w) = c(y))
            y += 1
          }
          sRow.foreach { r => var x = 0; while (x < w) { grid(h * pw + x) = r(x); x += 1 } }
          sePx.foreach(c => grid(h * pw + w) = c(0))
          val nBlocksX = if (eCol.isDefined) w else w - 1
          val nBlocksY = if (sRow.isDefined) h else h - 1
          val out = Array.newBuilder[Seg]
          var by = 0
          while (by < nBlocksY) {
            var bx = 0
            while (bx < nBlocksX) {
              emitBlock(tx * w + bx, ty * h + by,
                grid(by * pw + bx), grid(by * pw + bx + 1),
                grid((by + 1) * pw + bx), grid((by + 1) * pw + bx + 1),
                level2x, out)
              bx += 1
            }
            by += 1
          }
          out.result().iterator
        }
      }
      .toDF()
  }

  /** Corner bits: v00=1, v10=2, v11=4, v01=8 (>= level). */
  private def emitBlock(gx: Long, gy: Long, v00: Double, v10: Double,
                        v01: Double, v11: Double, level2x: Long,
                        out: scala.collection.mutable.Builder[Seg, Array[Seg]]): Unit = {
    val l2 = level2x.toDouble / 2.0
    var idx = 0
    if (v00 >= l2) idx |= 1
    if (v10 >= l2) idx |= 2
    if (v11 >= l2) idx |= 4
    if (v01 >= l2) idx |= 8
    if (idx == 0 || idx == 15) return
    def cross(vA: Double, vB: Double): (Long, Long) =
      (level2x - 2L * vA.toLong, 2L * (vB.toLong - vA.toLong))
    // endpoints on the 4 edges, as reduced global rationals
    lazy val pT = { val (n, d) = cross(v00, v10); val (xn, xd) = red(gx, n, d); (xn, xd, gy, 1L) }
    lazy val pR = { val (n, d) = cross(v10, v11); val (yn, yd) = red(gy, n, d); (gx + 1, 1L, yn, yd) }
    lazy val pB = { val (n, d) = cross(v01, v11); val (xn, xd) = red(gx, n, d); (xn, xd, gy + 1, 1L) }
    lazy val pL = { val (n, d) = cross(v00, v01); val (yn, yd) = red(gy, n, d); (gx, 1L, yn, yd) }
    def seg(si: Int, a: (Long, Long, Long, Long), b: (Long, Long, Long, Long)): Unit =
      out += Seg(gx, gy, idx, si, a._1, a._2, a._3, a._4, b._1, b._2, b._3, b._4)
    idx match {
      case 1 | 14 => seg(0, pL, pT)
      case 2 | 13 => seg(0, pT, pR)
      case 4 | 11 => seg(0, pR, pB)
      case 8 | 7  => seg(0, pB, pL)
      case 3 | 12 => seg(0, pL, pR)
      case 6 | 9  => seg(0, pT, pB)
      case 5 | 10 =>
        val centerHigh = (v00 + v10 + v01 + v11) / 4.0 >= l2
        if ((idx == 5) == centerHigh) { seg(0, pL, pT); seg(1, pR, pB) }
        else { seg(0, pT, pR); seg(1, pB, pL) }
      case _ =>
    }
  }

  /** Segments labeled with their polyline id (connected component of the
    * exact-endpoint-equality graph, hash-to-min label resolution). */
  private def labeled(segs: DataFrame): DataFrame = {
    // bit-packed unique node id: gy:30 | gx:31 | seg_idx:2 — collision-free
    // for rasters up to 2^31 px wide / 2^30 tall (zoom ≈ 24 at 64-px tiles)
    val withId = segs.withColumn("seg_id",
      shiftleft(shiftleft(col("gy"), 31) + col("gx"), 2) + col("seg_idx"))
      .transform(graft.io.Checkpoints.cached)
    def key(xn: String, xd: String, yn: String, yd: String) =
      concat_ws(":", col(xn), col(xd), col(yn), col(yd))
    val e0 = withId.select(col("seg_id"), key("x0n", "x0d", "y0n", "y0d").as("pt"))
    val e1 = withId.select(col("seg_id"), key("x1n", "x1d", "y1n", "y1d").as("pt"))
    val pts = e0.union(e1)
    val edges = pts.alias("a").join(pts.alias("b"), "pt")
      .where(col("a.seg_id") < col("b.seg_id"))
      .select(col("a.seg_id").as("a"), col("b.seg_id").as("b")).distinct()
    val rep = Polygonize.resolveLabels(withId.select(col("seg_id").as("node")), edges)
    withId.join(rep, withId("seg_id") === rep("node")).drop("node")
  }

  /** Stitch segments into polylines. Returns (polyline_id, n_segments)
    * with polyline_id = min member seg_id. */
  def stitch(segs: DataFrame): DataFrame =
    labeled(segs)
      .groupBy(col("rep").as("polyline_id"))
      .agg(count(lit(1)).as("n_segments"))

  /** Ordered polyline GEOMETRY output — the reference emits line features,
    * not segment soup (reference: alg/contour.cpp :: GDALContourGenerate →
    * OGRContourWriter). Per polyline: walk the endpoint graph from a
    * deterministic start (smallest degree-1 endpoint for open lines,
    * smallest endpoint for closed rings; rational comparison is exact via
    * cross-multiplication), emitting WKT. Per-task memory is O(one
    * polyline); polylines assemble in parallel across the cluster.
    * Returns (polyline_id, n_segments, closed, wkt). */
  private type Pt = (Long, Long, Long, Long) // xn, xd, yn, yd
  // exact rational order: x then y (dens are positive by construction)
  private def ptLt(a: Pt, b: Pt): Boolean = {
    val cx = a._1 * b._2 - b._1 * a._2
    if (cx != 0) cx < 0
    else a._3 * b._4 - b._3 * a._4 < 0
  }

  /** Deterministic endpoint-graph walk for one stitched polyline: ordered
    * vertex path (+ seg count and closed flag). Shared by the WKT and the
    * vertex-row surfaces. */
  private def walkGroup(
      rows: Iterator[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)])
      : (scala.collection.mutable.ArrayBuffer[Pt], Int, Boolean) = {
    val ss = rows.toArray.sortBy(_._2)
    val adj = scala.collection.mutable.Map.empty[Pt, List[(Int, Pt)]]
    for (((_, _, x0n, x0d, y0n, y0d, x1n, x1d, y1n, y1d), i) <- ss.zipWithIndex) {
      val a = (x0n, x0d, y0n, y0d); val b = (x1n, x1d, y1n, y1d)
      adj(a) = (i, b) :: adj.getOrElse(a, Nil)
      adj(b) = (i, a) :: adj.getOrElse(b, Nil)
    }
    val deg1 = adj.collect { case (p, l) if l.length == 1 => p }
    val start =
      if (deg1.nonEmpty) deg1.reduceLeft((a, b) => if (ptLt(a, b)) a else b)
      else adj.keys.reduceLeft((a, b) => if (ptLt(a, b)) a else b)
    val used = new Array[Boolean](ss.length)
    val path = scala.collection.mutable.ArrayBuffer[Pt](start)
    var cur = start
    var walking = true
    while (walking) {
      // deterministic: among unused incident segments, take the one
      // leading to the smallest next endpoint
      val nexts = adj(cur).filter { case (i, _) => !used(i) }
      if (nexts.isEmpty) walking = false
      else {
        val (i, nxt) = nexts.reduceLeft((a, b) => if (ptLt(a._2, b._2)) a else b)
        used(i) = true
        path += nxt
        cur = nxt
      }
    }
    val closed = path.length > 1 && path.head == path.last
    (path, ss.length, closed)
  }

  def polylines(segs: DataFrame): DataFrame = {
    val spark = segs.sparkSession
    import spark.implicits._
    labeled(segs)
      .select(col("rep"), col("seg_id"),
        col("x0n"), col("x0d"), col("y0n"), col("y0d"),
        col("x1n"), col("x1d"), col("y1n"), col("y1d"))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (pid, rows) =>
        val (path, nSegs, closed) = walkGroup(rows)
        val wkt = path.map { case (xn, xd, yn, yd) =>
          s"${xn.toDouble / xd} ${yn.toDouble / yd}"
        }.mkString("LINESTRING(", ", ", ")")
        (pid, nSegs.toLong, closed, wkt)
      }
      .toDF("polyline_id", "n_segments", "closed", "wkt")
  }

  /** Vertex-row twin of polylines: the SAME deterministic walk emitted as
    * exact-rational rows (polyline_id, seq, xn, xd, yn, yd, closed)
    * instead of double-formatted WKT text — the oracle-hashable surface
    * (every vertex has degree ≤ 2 in marching squares, so the walk is a
    * forced successor chain a recursive SQL CTE replicates exactly; for a
    * closed ring the start vertex repeats as the last row, like WKT). */
  def polylineVertices(segs: DataFrame): DataFrame = {
    val spark = segs.sparkSession
    import spark.implicits._
    labeled(segs)
      .select(col("rep"), col("seg_id"),
        col("x0n"), col("x0d"), col("y0n"), col("y0d"),
        col("x1n"), col("x1d"), col("y1n"), col("y1d"))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (pid, rows) =>
        val (path, _, closed) = walkGroup(rows)
        path.iterator.zipWithIndex.map { case ((xn, xd, yn, yd), seq) =>
          (pid, seq.toLong, xn, xd, yn, yd, closed)
        }
      }
      .toDF("polyline_id", "seq", "xn", "xd", "yn", "yd", "closed")
  }
}
