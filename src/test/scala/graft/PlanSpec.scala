package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions — the 100-TB design invariants (SURVEY.md §5):
  * filters reach the parquet scan, column pruning holds, dimension sides
  * broadcast, the spatial prune is an equi-join (not BNLJ), and the hot
  * path stays inside whole-stage codegen. These are the properties that
  * decide whether a plan survives a 1000× scale-up, asserted so a
  * refactor cannot silently regress them. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // formatted mode annotates codegen spans ("[codegen id : N]") even
  // under AQE, where executedPlan.toString is the pre-adaptive skeleton
  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private def plan(name: String): String = {
    formatted(SparkEntry.queries(name)(spark, TestSpark.SfSmall))
  }

  test("q01: predicate pushdown reaches the parquet scan + columns pruned") {
    val p = plan("q01_agg_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), p)
    // projection needs only 5 of 16 lineitem columns
    assert(p.contains("l_returnflag") && !p.contains("l_comment"), p)
  }

  test("q02: small dimensions broadcast (no shuffle of nation/region)") {
    val p = plan("q02_join_agg")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q11: spatial prune is a broadcast equi-join on the cell key, not BNLJ") {
    val p = plan("q11_pip_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q12: salted path shuffles on (cell, salt) — an equi-join, and no broadcast of the big side") {
    val p = plan("q12_pip_salted")
    assert(p.contains("__cell") && p.contains("__salt"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // hot side: an equi-join on (cell, salt); cold: no salt at all
  private val saltKeys = "keys \\[2\\]: \\[__cell#\\d+L?, __salt#\\d+\\]".r
  private def assertHotSplit(p: String): Unit = {
    assert(saltKeys.findFirstIn(p).isDefined, p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }
  private def assertCold(p: String): Unit = {
    assert(!p.contains("__salt"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  // a broadcast cover: a map-side join on the cell key, with no hot-cell
  // pre-aggregate (keyed on __cell) and no salt
  private val cellAgg = "(?m)^Keys \\[\\d+\\]: \\[__cell#".r
  private def assertBroadcastCells(p: String): Unit = {
    assert(p.contains("BroadcastHashJoin"), p)
    assert("Left keys \\[1\\]: \\[__cell#".r.findFirstIn(p).isDefined, p)
    assert(cellAgg.findFirstIn(p).isEmpty, p)
    assertCold(p)
  }
  private def noBroadcast[T](body: => T): T =
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body)

  private def adaptivePip(threshold: Long): String = {
    import org.apache.spark.sql.functions.col
    val polys = graft.synth.Synth.regionWkt(spark, TestSpark.SfSmall)
      .withColumn("geom", graft.functions.F.st_geomfromwkt(col("wkt")))
    val points = graft.synth.Synth.points(spark, TestSpark.SfSmall).select("pt_id", "lon", "lat")
    formatted(graft.operators.SpatialJoin.pointInPolygonAdaptive(
      polys, "geom", points, "lon", "lat", zoom = 5, saltFactor = 4, hotThreshold = threshold))
  }

  private def saltedSelfJoin(threshold: Long): String = {
    import org.apache.spark.sql.functions.col
    val r = graft.synth.Synth.regionWkt(spark, TestSpark.SfSmall)
      .withColumn("g", graft.functions.F.st_geomfromwkt(col("wkt")))
    formatted(graft.operators.SpatialJoin.geomSelfJoin(
      r, "region_id", "g", "id_a", "ga", "id_b", "gb", zoom = 4,
      saltFactor = 4, hotThreshold = threshold))
  }

  // the hot-cell split runs only on a shuffled cell join: these pins turn
  // broadcasting off so the covers take it
  test("adaptive PIP: forced hot salts on (cell, salt); forced cold never salts") {
    noBroadcast {
      assertHotSplit(adaptivePip(1L))
      assertCold(adaptivePip(Long.MaxValue))
    }
  }

  test("geomSelfJoin salted: forced hot salts on (cell, salt); forced cold never salts") {
    noBroadcast {
      assertHotSplit(saltedSelfJoin(1L))
      assertCold(saltedSelfJoin(Long.MaxValue))
    }
  }

  test("adaptive PIP and salted geomSelfJoin broadcast a small cover: no probe, no salt") {
    assertBroadcastCells(adaptivePip(1L))
    assertBroadcastCells(saltedSelfJoin(1L))
  }

  test("q52: the persisted region cover holds (region_id, geom) and no WKT text") {
    val df = SparkEntry.queries("q52_pip_adaptive")(spark, TestSpark.SfSmall)
    val cached = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r.output.map(_.name)
    }
    val covers = cached.filter(_.contains("__env"))
    assert(covers.nonEmpty, cached)
    covers.foreach(c => assert(c.toSet == Set("region_id", "geom", "__env", "__cell"), c))
  }

  test("q01/q09: aggregates are partial+final hash aggregates (map-side combine)") {
    for (q <- Seq("q01_agg_filter", "q09_time_window")) {
      val p = plan(q)
      assert(p.contains("HashAggregate"), s"$q: $p")
      assert(p.toLowerCase.contains("partial"), s"$q misses partial agg: $p")
    }
  }

  test("relational core stays inside whole-stage codegen") {
    for (q <- Seq("q01_agg_filter", "q02_join_agg", "q04_distinct", "q10_histogram")) {
      val df = SparkEntry.queries(q)(spark, TestSpark.SfSmall)
      val qe = df.queryExecution
      qe.toRdd.count() // AQE finalizes THIS plan only on execution
      val p = qe.executedPlan.toString
      assert(p.contains("*("), s"$q has no WholeStageCodegen span (star marker): $p")
    }
  }

  test("q13: tile assignment is a pure map (no shuffle at all)") {
    val p = plan("q13_tile_assign")
    assert(!p.contains("Exchange"), p)
  }

  test("q26: ANN data side never shuffles (broadcast queries, window on data side)") {
    val p = plan("q26_ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q74: cutline blend composes equi-joins only (no cartesian, no BNLJ)") {
    val p = plan("q74_cutline_blend")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q74: no per-pixel rows ever feed a join — all shuffles are tile-keyed") {
    // the round-3 plan posexploded every pixel and left-joined the sparse
    // distance maps per (gx, gy); at 100-TB grids that shuffles the whole
    // raster as pixel rows. The re-plan aggregates the distance maps to
    // per-tile arrays, so every exchange partitions on tile keys only.
    val p = plan("q74_cutline_blend")
    assert(!p.contains("hashpartitioning(gx"), p)
    assert(!p.contains("hashpartitioning(gy"), p)
  }

  test("q73: UTM forward is scan -> project, no shuffle before the aggregate-free sink") {
    val p = plan("q73_utm_forward")
    assert(!p.contains(") Exchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q76: UTM inverse is scan -> project, shuffle-free like q73") {
    val p = plan("q76_utm_inverse")
    assert(!p.contains(") Exchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q77: JPEG round-trip is map-side only — no join, no shuffle") {
    val p = plan("q77_jpeg_roundtrip")
    assert(!p.contains(") Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("projection families (LCC/PS/BNG/TPS fwd+inv) are scan -> project, shuffle-free") {
    for (q <- Seq("q80_lcc_forward", "q81_lcc_inverse", "q85_ps_forward",
        "q86_ps_inverse", "q87_bng_forward", "q88_bng_inverse", "q83_tps_forward")) {
      val p = plan(q)
      assert(!p.contains(") Exchange"), s"$q shuffles:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), q)
    }
  }

  test("q83: TPS forward stays inside whole-stage codegen (expr path, no UDF)") {
    val p = plan("q83_tps_forward")
    assert(p.contains("[codegen id"), p) // formatted mode's codegen marker
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("q82/q84 point-map warps: ONE tile-keyed shuffle family, equi-join routing, no cartesian") {
    for (q <- Seq("q82_rpc_warp", "q84_tps_warp")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), s"$q:\n$p")
      // routing join is an equi-join on (stx, sty)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), s"$q lost its equi-join:\n$p")
    }
  }

  test("q89: curve linearization is scan -> project -> generate, shuffle-free") {
    val p = plan("q89_curve_linearize")
    assert(!p.contains(") Exchange"), p)
    assert(p.contains("Generate"), p) // posexplode of st_points
  }

  test("q90: RAT is per-tile partial rows -> ONE hash agg; never a per-pixel explode") {
    val p = plan("q90_rat")
    // exactly one aggregation pair (partial+final) over the exploded
    // class rows; the explode generates nClasses (20) rows per tile
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), p)
    // one shuffle: the class-keyed aggregate exchange
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
  }

  test("q128: tindex is shuffle-free scan -> project") {
    val p = plan("q128_tindex")
    assert(!p.contains(") Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("q129: retile is strips -> ONE exchange -> per-dst-tile assembly agg") {
    val p = plan("q129_retile")
    // one ObjectHashAggregate pair around the single dst-tile-keyed
    // exchange; strips carry array slices (rows per src tile <= 2*TH),
    // never per-pixel rows — a second exchange would mean the assembled
    // arrays are being re-shuffled
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
  }

  test("q131: mixed-resolution buildvrt is map-side upsample -> ONE mosaic exchange") {
    val p = plan("q131_buildvrt")
    // the 2x nearest upsample is a generate (no shuffle); the only
    // exchange is the per-tile priority mosaic aggregate
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
  }

  test("q132: unreferenced OGR special fields are pruned; layer SQL shuffle-free") {
    val p = plan("q132_ogr_special_fields")
    // the query never touches OGR_GEOM_WKT -> Catalyst must prune the
    // st_astext column away (an eager layer materialization would
    // serialize every geometry to WKT on every query)
    assert(!p.contains("st_astext"), p)
    assert(p.contains("st_area"), p) // the referenced field IS computed
    assert(!p.contains(") Exchange") && !p.contains("Join"), p)
  }

  test("q152: centroid is ONE hash-agg exchange over (cluster, dim) keys") {
    val p = plan("q152_embed_centroid")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q158: doc render is the docs() assembly agg + a codegen'd transform, no extra shuffle") {
    val p = plan("q158_doc_reassembly")
    // docs() itself pays one window sort + one assembly agg; the render
    // must NOT add exchanges on top
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <= 2 exchanges, got $exchanges:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
  }

  test("q144: decontamination is a LEFT-SEMI on 8-byte shingle keys, no cartesian") {
    val p = plan("q144_decontaminate")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("q91: style parse is shuffle-free scan -> project -> generate") {
    val p = plan("q91_style")
    assert(!p.contains(") Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("q94/q95/q96/q99 focal DEM family: exactly ONE exchange (the halo shuffle), no join") {
    // the halo exchange is O(perimeter); a second exchange would mean the
    // kernel result is being re-shuffled per pixel — the scale-killer the
    // strip design exists to avoid
    for (q <- Seq("q94_slope", "q95_aspect", "q96_hillshade_md", "q99_hillshade_combined",
      "q108_slope_zt", "q109_aspect_zt", "q110_hillshade_zt", "q117_slope_pct",
      "q124_hillshade_params", "q125_aspect_trig")) {
      val p = plan(q)
      val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
      assert(exchanges == 1, s"$q: expected 1 exchange, got $exchanges:\n$p")
      assert(!p.contains("Join"), q)
    }
  }

  test("q104: identify is union -> classify -> ONE count exchange; no join") {
    val p = plan("q104_identify")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange (the fmt count agg), got $exchanges:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q100: locationinfo is a broadcast equi-join + O(1) element_at; no cartesian") {
    val p = plan("q100_locationinfo")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("q97: nearblack bounds join is a broadcast equi-join; no per-pixel shuffle") {
    val p = plan("q97_nearblack")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // the only shuffles are the per-ROW bounds aggregates (gy, then the
    // row-band fold); per-pixel rows never partition an exchange
    assert(!p.contains("hashpartitioning(gx"), p)
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 shuffle exchanges, got $exchanges:\n$p")
  }

  test("q118/q126: layer algebra is a broadcast equi-join on the region id, never all-pairs") {
    for (q <- Seq("q118_layer_identity", "q126_layer_update")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), s"$q:\n$p")
    }
  }

  test("q123: compare census is per-tile zip_with partials -> equi-join + ONE agg") {
    val p = plan("q123_gdalcompare")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(!p.contains("Generate"), p) // never a per-pixel explode
  }

  test("q119: invert is generated-universe LEFT equi-join on the cell key, never all-pairs") {
    val p = plan("q119_rasterize_invert")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("Range"), p) // the dst universe is generated, not read
  }

  test("q113: band stats is per-tile partials -> ONE exchange, no join, no per-pixel explode") {
    val p = plan("q113_band_stats")
    assert(!p.contains("Join") && !p.contains("Generate"), p)
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected <=1 exchange, got $exchanges:\n$p")
  }

  test("q206: bloom probes are BROADCAST joins; no cartesian; footprint (q200) and DXF (q203) shuffle-free") {
    val p = plan("q206_bloom_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val fp = plan("q200_footprint")
    assert(!fp.contains(") Exchange") && !fp.contains("Join"),
      s"footprint must stay map-only:\n$fp")
    val dxf = plan("q203_dxf_driver")
    assert(!dxf.contains(") Exchange") && !dxf.contains("Join"), dxf)
  }

  test("q224/q229: retrieval rankings broadcast the query-term side; no cartesian") {
    for (q <- Seq("q224_bm25_topk", "q229_rrf_fusion")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q:\n$p")
    }
  }

  test("q226/q232/q233/q234 map-side laws: resample and URL-canon shuffle only to aggregate") {
    // q226 is pure map (no agg at all); q233's only exchange is the
    // canonical-key hash agg; q232 rides the focal strip machinery
    val p226 = plan("q226_audio_resample")
    assert(!p226.contains(") Exchange") && !p226.contains("Join"), p226)
    val p233 = plan("q233_url_canonicalize")
    assert(!p233.contains("Join"), p233)
    assert(p233.contains("HashAggregate") && p233.toLowerCase.contains("partial"),
      s"q233 needs map-side partial agg:\n$p233")
  }

  test("q227: unigram Viterbi DP is a constant-folded projection after ONE tf agg") {
    val p = plan("q227_unigram_viterbi")
    assert(!p.contains("Join"), p) // per-unique-word compute joins nothing
    assert(p.contains("HashAggregate"), p)
  }

  test("q92/q93/q98/q101/q102/q103: scalar-surface queries are shuffle-free") {
    for (q <- Seq("q92_segmentize", "q93_sphere_distance", "q98_explode",
      "q101_geojson", "q102_translate_scale", "q103_clipsrc",
      "q105_wrapdateline", "q106_lineref", "q107_line_substring",
      "q111_simplify", "q112_kml", "q122_gdal2xyz")) {
      val p = plan(q)
      assert(!p.contains(") Exchange"), s"$q:\n$p")
      assert(!p.contains("Join"), q)
    }
  }

  test("round-5 scalar surface (projections, GT, geohash, drivers, dates) is shuffle-free") {
    // q248-q250 (GK/Albers), q253 (Hilbert), q254 (rotated GT), q256
    // (OGR VRT), q257 (OGRParseDate), q259 (sinusoidal), q261 (geohash):
    // all scan -> codegen'd projection; a refactor that introduces a
    // shuffle or a join into any of them is a scale regression
    for (q <- Seq("q248_gauss_kruger", "q249_albers_forward", "q250_albers_inverse",
      "q253_hilbert_locality", "q254_rotated_gt", "q256_ogr_vrt",
      "q257_ogr_parse_date", "q259_sinusoidal", "q261_geohash")) {
      val p = plan(q)
      assert(!p.contains(") Exchange"), s"$q:\n$p")
      assert(!p.contains("Join"), q)
    }
  }

  test("round-5 join surface: MMR pool broadcasts; range join is an equi-join; no cartesian anywhere") {
    // q258's relevance pool is the broadcast brute top-k: the corpus
    // side must NOT shuffle for the join (only the per-query grouping
    // may); q267's interval join must be a bucket equi-join, never
    // BNLJ/cartesian (the scale failure mode of naive range joins)
    val mmr = plan("q258_mmr_rerank")
    assert(mmr.contains("BroadcastNestedLoopJoin") || mmr.contains("BroadcastHashJoin"),
      s"q258 pool join must broadcast the query side:\n$mmr")
    val rj = plan("q267_range_join")
    assert(!rj.contains("CartesianProduct") && !rj.contains("BroadcastNestedLoopJoin"),
      s"q267 must stay an equi-join:\n$rj")
    for (q <- Seq("q251_weighted_reservoir", "q252_char_entropy", "q255_suggested_warp",
      "q262_domain_tv", "q264_curriculum", "q266_asof_join", "q268_kmv_sketch")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }
}
