package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.F
import graft.io.Checkpoints

/** Distributed spatial join — the engine's centerpiece (SURVEY.md §3.3 J2/J3).
  *
  * Re-expresses the reference's layer-algebra joins (reference:
  * ogr/ogrsf_frmts/generic/ogrlayer.cpp :: OGRLayer::Intersection / Clip /
  * SetSpatialFilter + FilterGeometry), which are per-feature nested loops
  * with a bbox prefilter, as a two-phase cell-equi-join:
  *
  *   1. PRUNE:  polygons explode to the Z-order cells they intersect
  *              ([[cover]]); points map to exactly one cell ([[keyPoints]]).
  *              The join on `cell` is an ordinary Catalyst equi-join, so
  *              Spark picks broadcast-hash vs shuffled-hash/SMJ and AQE
  *              re-plans at runtime.
  *   2. REFINE: codegen'd envelope gate, then the exact JTS predicate
  *              ([[pipRefine]] / st_intersects) on the candidates; the
  *              polygon side goes through the prepared-geometry cache,
  *              matching the reference's prepared filter.
  *
  * Scale levers (100-TB design):
  *   - broadcast: polygon side is usually the small dimension → map-side
  *     join, zero shuffle of the big point table.
  *   - shuffle + salting ([[saltedJoin]]): probe rows get a deterministic
  *     salt in [0, s), build rows replicate ×s — bounding any single
  *     task's share of a hot cell at 1/s. [[skewJoin]] salts only the
  *     cells a pre-agg finds hot; AQE skew-join splits the residual.
  *     The probe/split/salt runs only on a SHUFFLED cell join: a cover
  *     under the broadcast threshold is broadcast instead, where no cell
  *     can be hot, and the probe side is never counted.
  *   - a point maps to exactly ONE cell per cover zoom, so point-in-polygon
  *     emits no duplicate pairs; geometry×geometry joins dedup on the id
  *     pair before the (expensive) refine.
  *   - cells_cover is CAPPED (default 65536 cells/row): a continental
  *     polygon at deep zoom coarsens instead of OOM-ing a task. The set of
  *     zooms actually present (≤ MaxZoom+1 values) is collected at plan
  *     time from the cover side; the opposing side re-keys to that ladder
  *     only when a cover really coarsened — the common single-zoom case
  *     keeps the round-1 plan untouched.
  */
object SpatialJoin {

  /** The distinct zooms present in a (possibly capped, hence mixed-zoom)
    * cover — collected at plan time. This is a bounded driver action (at
    * most MaxZoom+1 values, one narrow pass over the cover side): paying
    * it buys the COMMON case — nothing coarsened — a completely untouched
    * point-side plan, where a runtime join-based fan taxed every row of
    * the big side (~50% on the salted PIP at sf0.1). */
  private[graft] def coverZooms(cov: DataFrame): Seq[Int] =
    cov.select(F.cell_zoom(col("__cell")).cast("int").as("__covz"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** Fan `df`'s `__cell` key out to every zoom in `zooms`: identity when
    * the cover is single-zoom at the requested zoom; otherwise a per-row
    * explode of the literal zoom ladder (rows already coarser than a
    * target zoom skip it — ancestorAt would duplicate the key). */
  private def fanToZooms(df: DataFrame, zooms: Seq[Int], reqZoom: Int): DataFrame =
    if (zooms.isEmpty || zooms == Seq(reqZoom)) df
    else df.withColumn("__cell", explode(expr(
      s"transform(filter(array(${zooms.mkString(",")}), z -> z <= cell_zoom(__cell)), " +
        "z -> cell_at_zoom(__cell, z))")))

  /** The geometry side of every join: one row per (geometry, covering
    * cell) keyed `__cell`, with the geometry's envelope in `envCol` —
    * computed ONCE per geometry, before the explode — for the codegen'd
    * envelope gate. Cached: the plan-time [[coverZooms]] action
    * materializes the cover anyway, so the join's second read is free.
    * fan: a small input is one scan split, so without [[graft.core.Par.fan]]
    * the WKT parse and cover explode would run on one core (guide §2.5).
    * Identity when the scan is already parallel. Registers the engine
    * functions: every join starts here. */
  private[operators] def cover(df: DataFrame, geomCol: String, zoom: Int, envCol: String,
                               mercator: Boolean = false): DataFrame = {
    F.ensureRegistered(df.sparkSession)
    val cells =
      if (mercator) F.cells_cover_merc(col(geomCol), lit(zoom))
      else F.cells_cover(col(geomCol), lit(zoom))
    graft.core.Par.fan(df)
      .withColumn(envCol, F.st_env_bounds(col(geomCol)))
      .withColumn("__cell", explode(cells))
      .transform(Checkpoints.cached)
  }

  /** The point side: each point's `__cell` on the same grid as `cov`,
    * re-keyed to every zoom present in the cover. */
  private[operators] def keyPoints(points: DataFrame, lonCol: String, latCol: String,
                                   zoom: Int, cov: DataFrame,
                                   mercator: Boolean = false): DataFrame = {
    val cell =
      if (mercator) F.cell_encode_merc(col(lonCol), col(latCol), lit(zoom))
      else F.cell_encode(col(lonCol), col(latCol), lit(zoom))
    fanToZooms(points.withColumn("__cell", cell), coverZooms(cov), zoom)
  }

  /** Exact point-in-polygon refine behind the envelope gate (reference:
    * OGRLayer::FilterGeometry checks m_sFilterEnvelope BEFORE any exact
    * test). The gate is pure column arithmetic against the cover's
    * `__env` inside whole-stage codegen, and And short-circuits, so the
    * interpreted JTS probe runs only on candidates surviving the bbox.
    * The gate is inclusive: boundary points reach the exact predicate. */
  private[operators] def pipRefine(geomCol: String, lonCol: String, latCol: String,
                                   predicate: String = "contains"): Column =
    col(lonCol) >= col("__env")(0) && col(lonCol) <= col("__env")(2) &&
      col(latCol) >= col("__env")(1) && col(latCol) <= col("__env")(3) &&
      F.st_predicate_point(predicate, col(geomCol), col(lonCol), col(latCol))

  /** Salted equi-join on (`__cell`, `__salt`): each probe row takes salt
    * `pmod(saltKey, s)`, each build row replicates to every salt in
    * [0, s), so one cell's probe rows spread over s tasks. */
  private def saltedJoin(probe: DataFrame, build: DataFrame, saltKey: Column, s: Int): DataFrame =
    probe.withColumn("__salt", pmod(saltKey, lit(s)))
      .join(build.withColumn("__salt", explode(sequence(lit(0), lit(s - 1)))),
        Seq("__cell", "__salt"), "inner")
      .drop("__salt")

  /** The map-side cell join: `build` is broadcast, so every probe task
    * joins and refines its own rows and the probe side never shuffles. */
  private def broadcastCellJoin(probe: DataFrame, build: DataFrame): DataFrame =
    probe.join(broadcast(build), Seq("__cell"), "inner")

  /** Whether `build` fits under `spark.sql.autoBroadcastJoinThreshold`.
    * Every build here is a cover cached and materialized by the
    * plan-time [[coverZooms]] collect, so its size is the measured size
    * of the cached rows, not an estimate (a zoom-ladder re-key on top is
    * sized as Spark's planner sizes it for its own broadcast choice). */
  private def broadcastable(build: DataFrame): Boolean = {
    val limit = build.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    limit > 0 && build.queryExecution.optimizedPlan.stats.sizeInBytes <= limit
  }

  /** ADAPTIVE hot-cell salting (SURVEY.md §5 skew row), for a SHUFFLED
    * cell join only. When `build` is small enough to broadcast, the join
    * is [[broadcastCellJoin]]: a broadcast hash join never groups probe
    * rows by cell, so no cell can be hot (Spark's AQE splits skew only in
    * shuffled joins for the same reason), and the probe is neither
    * cached nor counted.
    *
    * Otherwise a pre-agg counts probe rows per cell; only cells over
    * `hotThreshold` take the [[saltedJoin]], the cold remainder joins
    * plainly — replication is paid exactly where skew exists. The hot-cell
    * set stays a DataFrame joined via broadcast semi/anti joins — never a
    * driver collect or an IN-list literal, so a million hot cells cannot
    * bloat the plan.
    *
    * `probe` feeds three consumers (pre-agg, cold join, hot join), so it
    * is cached: without it each one re-runs the full upstream scan
    * (measured 479 s vs 260 s at 128M docs). MEMORY_AND_DISK spills,
    * never recomputes. The hot-cell table is tiny but referenced by four
    * joins, so it is cached too. Both belong to the returned join.
    *
    * OPTIMIZATION r6 (guide §2.5 — AQE-style plan-time adaptivity): when
    * the bounded `isEmpty` probe finds NO hot cell, the split is four
    * joins that all degenerate to identity — take the plain equi-join
    * instead (identical rows: with no hot cell the anti-joins pass
    * everything and the semi-joins pass nothing). Every branch returns
    * the same rows: the cold/hot split partitions the cells disjointly and
    * each probe row meets each build row of its cell exactly once. */
  private def skewJoin(probe: DataFrame, build: DataFrame, saltKey: Column, s: Int,
                       hotThreshold: Long): DataFrame =
    if (broadcastable(build)) broadcastCellJoin(probe, build)
    else {
      val p = Checkpoints.cached(probe)
      val hotCells = p.groupBy("__cell").count()
        .where(col("count") > hotThreshold).select("__cell")
        .transform(Checkpoints.cached)
      if (hotCells.isEmpty) p.join(build, Seq("__cell"), "inner")
      else {
        val hot = broadcast(hotCells)
        val cold = p.join(hot, Seq("__cell"), "left_anti")
          .join(build.join(hot, Seq("__cell"), "left_anti"), Seq("__cell"))
        cold.unionByName(saltedJoin(p.join(hot, Seq("__cell"), "left_semi"),
          build.join(hot, Seq("__cell"), "left_semi"), saltKey, s))
      }
    }

  /** Point-in-polygon join.
    * @param polys  (idCol, geomCol: WKB) polygon side
    * @param points point side with lon/lat double columns
    * @param zoom   geodetic cell zoom for the prune phase
    * @param broadcastPolys map-side join (polygon side must fit in memory)
    * @param saltFactor >1 salts every cell on the shuffle path
    * @param predicate "contains" (boundary excluded) or "covers"/"intersects"
    * @param mercator prune on the web-mercator cell grid instead of the
    *   geodetic one — the native path for post-warp (EPSG:3857-tiled) data;
    *   the exact refine is unchanged, so results are identical wherever
    *   both grids cover (|lat| <= 85.05) */
  def pointInPolygon(polys: DataFrame, polyGeom: String,
                     points: DataFrame, lonCol: String, latCol: String,
                     zoom: Int,
                     broadcastPolys: Boolean = true,
                     saltFactor: Int = 1,
                     predicate: String = "contains",
                     mercator: Boolean = false): DataFrame = {
    val cov = cover(polys, polyGeom, zoom, "__env", mercator)
    // the broadcast path runs the whole candidate join + refine inside the
    // point-side tasks, so a single-split point scan must fan too
    val pts = keyPoints(if (broadcastPolys) graft.core.Par.fan(points) else points,
      lonCol, latCol, zoom, cov, mercator)
    val candidates =
      if (broadcastPolys) broadcastCellJoin(pts, cov)
      else if (saltFactor > 1) saltedJoin(pts, cov, hash(col(lonCol), col(latCol)), saltFactor)
      else pts.join(cov, Seq("__cell"), "inner")
    candidates.where(pipRefine(polyGeom, lonCol, latCol, predicate)).drop("__cell", "__env")
  }

  /** Point-in-polygon with [[skewJoin]]: a cover that fits the broadcast
    * threshold is broadcast; on a shuffled cover only cells holding more
    * than `hotThreshold` points are salted ×saltFactor. Returns the same rows
    * as pointInPolygon (verified in SpatialJoinSpec). */
  def pointInPolygonAdaptive(polys: DataFrame, polyGeom: String,
                             points: DataFrame, lonCol: String, latCol: String,
                             zoom: Int, saltFactor: Int = 8,
                             hotThreshold: Long = 100000L): DataFrame = {
    val cov = cover(polys, polyGeom, zoom, "__env")
    // fan the points too: a broadcast cover runs the whole candidate +
    // refine pipeline in point-side tasks (and so do the cold/hot joins of
    // a shuffled cover's split, whose cached probe is read three times).
    // A point scan of at least p parquet row groups is read in p splits;
    // any other single-split input takes a round-robin exchange
    val pts = keyPoints(graft.core.Par.fan(points), lonCol, latCol, zoom, cov)
    skewJoin(pts, cov, hash(col(lonCol), col(latCol)), saltFactor, hotThreshold)
      .where(pipRefine(polyGeom, lonCol, latCol)).drop("__cell", "__env")
  }

  /** Geometry × geometry `st_intersects` join (both sides arbitrary WKB
    * geometries). Both sides explode to covering cells; candidate pairs
    * dedup on the id pair before the exact refine (a pair can meet in
    * several cells). Refine keeps only the pair ids + geometries; callers
    * re-join payload columns by id — at scale that keeps the dedup
    * shuffle narrow. With `saltFactor > 1` the cell join is a
    * [[skewJoin]] over the left cover (left rows salt by id, right rows
    * replicate) — a broadcast join when the right cover fits the
    * broadcast threshold. */
  def geomJoin(left: DataFrame, leftId: String, leftGeom: String,
               right: DataFrame, rightId: String, rightGeom: String,
               zoom: Int,
               saltFactor: Int = 1,
               hotThreshold: Long = 100000L): DataFrame = {
    val l0 = cover(left.select(col(leftId), col(leftGeom)), leftGeom, zoom, "__envl")
    val r0 = cover(right.select(col(rightId), col(rightGeom)), rightGeom, zoom, "__envr")
    // mixed-zoom completeness: each side re-keys to every zoom present on
    // EITHER side that is <= its own cell's zoom; an intersecting pair
    // always meets at the coarser of its two cover zooms.
    val zooms = (coverZooms(l0) ++ coverZooms(r0)).distinct.sorted
    geomJoinCore(l0, leftId, leftGeom, r0, rightId, rightGeom, zoom,
      saltFactor, hotThreshold, zooms)
  }

  /** Self-join variant (OPTIMIZATION r6, guide §2.4 "two operations keyed
    * the same way can share one exchange" applied to the cover build): a
    * geometry table joined against ITSELF used to build, cache and
    * zoom-probe two byte-identical covers; one cover now feeds both join
    * sides through renames. Join logic, salting and refine are exactly
    * [[geomJoin]]'s — the output rows are identical by construction. */
  def geomSelfJoin(geoms: DataFrame, idCol: String, geomCol: String,
                   leftId: String, leftGeom: String,
                   rightId: String, rightGeom: String,
                   zoom: Int,
                   saltFactor: Int = 1,
                   hotThreshold: Long = 100000L): DataFrame = {
    val cov = cover(geoms.select(col(idCol), col(geomCol)), geomCol, zoom, "__env0")
    val zooms = coverZooms(cov)
    val l0 = cov.select(col(idCol).as(leftId), col(geomCol).as(leftGeom),
      col("__env0").as("__envl"), col("__cell"))
    val r0 = cov.select(col(idCol).as(rightId), col(geomCol).as(rightGeom),
      col("__env0").as("__envr"), col("__cell"))
    geomJoinCore(l0, leftId, leftGeom, r0, rightId, rightGeom, zoom,
      saltFactor, hotThreshold, zooms)
  }

  private def geomJoinCore(l0: DataFrame, leftId: String, leftGeom: String,
                           r0: DataFrame, rightId: String, rightGeom: String,
                           zoom: Int, saltFactor: Int,
                           hotThreshold: Long, zooms: Seq[Int]): DataFrame = {
    val l = fanToZooms(l0, zooms, zoom)
    val r = fanToZooms(r0, zooms, zoom)
    val candidates =
      if (saltFactor > 1) skewJoin(l, r, hash(col(leftId)), saltFactor, hotThreshold)
      else l.join(r, Seq("__cell"), "inner")
    // envelope-overlap prefilter (codegen'd) applied BEFORE the pair
    // dedup: a rejected candidate never enters the dedup shuffle
    candidates
      .where(col("__envl")(0) <= col("__envr")(2) && col("__envl")(2) >= col("__envr")(0) &&
        col("__envl")(1) <= col("__envr")(3) && col("__envl")(3) >= col("__envr")(1))
      .dropDuplicates(leftId, rightId)
      .where(F.st_intersects(col(leftGeom), col(rightGeom)))
      .drop("__cell", "__envl", "__envr")
  }
}
