package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.F
import graft.core.TileMath

/** Distributed k-nearest-neighbor via cell-ring expansion + secondary sort
  * (SURVEY.md §3.3 J4), re-expressing the reference's nearest-neighbor
  * scatter search (reference: alg/gdalgrid.cpp :: GDALGridNearestNeighbor
  * — radius search ellipse; alg/gdalproximity.cpp :: GDALComputeProximity
  * — ring-by-ring neighborhood walk).
  *
  * Algorithm: iterative doubling of a cell-disk radius. In round i the
  * still-unresolved queries explode cell_disk(qcell, r_i), equi-join the
  * point table on cell, rank candidates per query by (dist, pt_id) —
  * secondary sort — and ACCEPT a query only when its k-th candidate lies
  * within the ring guarantee distance r_i * cellSize: any point outside
  * the searched disk is at least that far away (Chebyshev argument), so
  * the k found are provably the global top-k. Unresolved queries continue
  * with doubled radius; after maxRounds the radius jumps straight to the
  * covering radius (disk ⊇ whole grid — the ring generator clamps to grid
  * bounds), where every point is a candidate and results are accepted
  * unconditionally (fewer than k rows iff the corpus has fewer than k
  * points). There is NO cross-join fallback: every round is a bounded
  * cell equi-join, so a sparse region with millions of stragglers shuffles
  * (stragglers × reached cells) rows, never (stragglers × all points).
  *
  * Distance: planar euclidean in lon/lat degrees (documented; ties broken
  * by pt_id ascending — FIXTURES.md golden_knn rule).
  */
object Knn {

  def knn(queries: DataFrame, qId: String, qLon: String, qLat: String,
          points: DataFrame, pId: String, pLon: String, pLat: String,
          k: Int, zoom: Int, maxRounds: Int = 3): DataFrame = {
    val spark = queries.sparkSession
    F.ensureRegistered(spark)
    import spark.implicits._

    val cellSize = 180.0 / (1L << zoom).toDouble // geodetic cells are square
    val pts = points.select(
      col(pId).as("__pid"), col(pLon).as("__plon"), col(pLat).as("__plat"),
      F.cell_encode(col(pLon), col(pLat), lit(zoom)).as("__pcell"))

    var pending = queries.select(
      col(qId).as("__qid"), col(qLon).as("__qlon"), col(qLat).as("__qlat"),
      F.cell_encode(col(qLon), col(qLat), lit(zoom)).as("__qcell"))
    var results: DataFrame = null
    var r = 1
    var round = 0

    val dist2 = (col("__plon") - col("__qlon")) * (col("__plon") - col("__qlon")) +
      (col("__plat") - col("__qlat")) * (col("__plat") - col("__qlat"))
    val w = Window.partitionBy(col("__qid")).orderBy(col("__dist2"), col("__pid"))

    // radius at which the Chebyshev disk (Y-clamped, X-wrapped) covers the
    // whole geodetic grid: grid is 2^(z+1) × 2^z cells
    val coveringR = (1L << zoom).toInt + 1
    var covered = false
    while (!covered && !pending.isEmpty) {
      // after maxRounds of doubling, jump straight to full coverage
      if (round >= maxRounds && r < coveringR) r = coveringR
      covered = r >= coveringR
      val guarantee = r.toDouble * cellSize
      // cand feeds BOTH kth and resolved — cache it so the ring join runs
      // once per round instead of twice (round-3 verdict); the checkpoints
      // below cut the lineage to it, so it is freed with this round's frames
      val cand = pending
        .withColumn("__cell", explode(F.cell_disk(col("__qcell"), lit(r))))
        .join(pts.withColumnRenamed("__pcell", "__cell"), Seq("__cell"), "inner")
        .withColumn("__dist2", dist2)
        .withColumn("__rank", row_number().over(w))
        .where(col("__rank") <= k)
        .transform(graft.io.Checkpoints.cached)
      // a query is resolved iff it has k candidates and the k-th is within
      // the guarantee radius (otherwise a closer point may hide outside);
      // on the covering round the disk holds every point, so accept
      // whatever was found (fewer than k only if the corpus has fewer)
      val kth =
        if (covered) cand.select("__qid").distinct()
        else cand.groupBy("__qid")
          .agg(count(lit(1)).as("__n"), max(sqrt(col("__dist2"))).as("__kthDist"))
          .where(col("__n") === k && col("__kthDist") <= guarantee)
          .select("__qid")
      // RELIABLE eager checkpoint of both round outputs: truncates the
      // cross-round lineage chain (pending otherwise re-derives every
      // prior ring join at the final action) — resolved/pending are tiny
      // (≤ k rows per query / unresolved query keys) next to the candidate
      // set. Reliable, not localCheckpoint: blocks survive executor loss on
      // a real cluster (io/Checkpoints).
      val resolved = graft.io.Checkpoints.reliable(
        cand.join(kth, Seq("__qid"), "left_semi")
          .select("__qid", "__pid", "__dist2", "__rank"))
      results = if (results == null) resolved else results.unionByName(resolved)
      if (!covered)
        pending = graft.io.Checkpoints.reliable(
          pending.join(kth, Seq("__qid"), "left_anti"))
      r *= 2
      round += 1
    }

    results.select(
      col("__qid").as(qId), col("__pid").as(pId),
      sqrt(col("__dist2")).as("dist"), col("__rank").as("rank"))
  }
}
