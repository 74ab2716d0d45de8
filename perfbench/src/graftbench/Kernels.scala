package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

import graft.core.{Focal, GeomIO, Scanline, TextCore, TileMath}
import graft.functions.CellsCover

/** Single-threaded ns/op of the `graft.core` kernels, timed without Spark
  * on a doc->tile input (docs.parquet + regions.parquet in `dir`): the
  * first 20000 text spans and every region polygon. Each figure is the
  * median of 5 rounds over the whole sample. */
object Kernels {
  private var sink = 0L

  private def nsPerOp(ops: Int)(body: => Unit): Double = {
    body // one untimed round: JIT and lazily built state
    Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0).toDouble / ops
    })
  }

  def run(spark: SparkSession, dir: String, coverZoom: Int): Map[String, Double] = {
    val wkts = spark.read.parquet(s"$dir/docs.parquet")
      .select(explode(col("spans")).as("s")).where(col("s.kind") === "text")
      .select(col("s.text")).limit(20000).collect().map(_.getString(0))
    val polys = spark.read.parquet(s"$dir/regions.parquet").orderBy("region_id")
      .select("wkt").collect().map(r => GeomIO.fromWkt(r.getString(0)))
    val wkbs = polys.map(GeomIO.toWkb)
    val pts = wkts.map { w => val c = GeomIO.fromWkt(w).getCoordinate; (c.x, c.y) }
    // contains probes: 8 points inside each polygon's envelope (the pairs a
    // refine sees after the envelope gate), from a fixed stream
    val rnd = new java.util.Random(17L)
    val probes = wkbs.indices.flatMap { i =>
      val e = polys(i).getEnvelopeInternal
      Seq.fill(8)((i, e.getMinX + rnd.nextDouble() * e.getWidth, e.getMinY + rnd.nextDouble() * e.getHeight))
    }.toArray
    val cover = CellsCover(Literal(Array.emptyByteArray), Literal(coverZoom))
    val grid = 256
    val padded = Array.tabulate((grid + 2) * (grid + 2))(i => ((i * 2654435761L) % 1000).toDouble)

    val out = Map(
      "core.wkt_parse_ns" -> nsPerOp(wkts.length) {
        wkts.foreach(w => sink += GeomIO.fromWkt(w).getNumPoints)
      },
      "core.geo_cell_ns" -> nsPerOp(pts.length) {
        pts.foreach { case (x, y) => sink += TileMath.geoCell(x, y, 12) }
      },
      "core.cover_ns" -> nsPerOp(wkbs.length) {
        wkbs.foreach(b => sink += cover.nullSafeEval(b, coverZoom).hashCode)
      },
      "core.contains_ns" -> nsPerOp(probes.length) {
        probes.foreach { case (i, x, y) => if (GeomIO.predPoint(0, wkbs(i), x, y)) sink += 1 }
      },
      "core.burn_runs_ns" -> nsPerOp(polys.length) {
        polys.foreach { g =>
          val e = g.getEnvelopeInternal
          sink += Scanline.burnRuns(g, e.getMinX, e.getMaxY, e.getWidth / grid,
            e.getHeight / grid, grid, grid).length
        }
      },
      "core.focal3x3_ns" -> nsPerOp(grid * grid) {
        sink += Focal(padded, grid, grid, "hillshade").length
      },
      "core.hash64_ns" -> nsPerOp(wkts.length) {
        wkts.foreach(w => sink += TextCore.hash64(w))
      })
    if (sink == 42L) System.err.print("")
    out
  }
}
