package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Ccl

/** Distributed polygonize (raster→vector) — SURVEY.md §3.8 R2, the
  * re-expression of the reference's sequential two-row enumerator
  * (reference: alg/polygonize.cpp :: GDALPolygonize /
  * GDALRasterPolygonEnumeratorT::ProcessLine) for a tiled raster that no
  * single machine can hold:
  *
  *   1. LOCAL:  each tile labels its own 4-connected equal-DN components
  *              with the shared scalar kernel (core.Ccl.labelLocal); the
  *              local label is the component's min global pixel id, so
  *              labels are globally comparable without coordination.
  *   2. SEAM:   tiles emit their E/S border pixels keyed by the NEIGHBOR
  *              pixel coordinate and their W/N border pixels keyed by their
  *              OWN coordinate; an equi-join on (gx, gy, dn) yields the
  *              cross-tile label-equivalence edges — each seam pair exactly
  *              once, shuffle carries only border pixels (O(perimeter), not
  *              O(area)).
  *   3. MERGE:  hash-to-min label propagation with pointer jumping over the
  *              equivalence graph to fixpoint — O(log diameter) rounds, and
  *              the graph holds one node per LOCAL COMPONENT (not per
  *              pixel), so at 100 TB it is orders of magnitude smaller than
  *              the raster.
  *   4. OUTPUT: stats per global component (one shuffle), or full ring
  *              assembly per component (shell + holes) via the same scalar
  *              tracer the oracle uses.
  *
  * Determinism: the global label is the component's min global pixel id —
  * independent of partitioning and iteration order (idempotent-resume safe).
  */
object Polygonize {

  /** Unified per-tile emission (one pass over tiles):
    * kind 0 = local component stats, 1 = seam edge keyed by neighbor pixel
    * (E/S sides), 2 = seam edge keyed by own pixel (W/N sides),
    * 3 = intra-tile adjacency between DIFFERENT components (for sieve). */
  // public (not private) so whole-stage codegen can reference the accessors
  final case class Emit(kind: Int, lbl: Long, dn: Double, n: Long,
                        minGx: Long, maxGx: Long, minGy: Long, maxGy: Long,
                        gx: Long, gy: Long, other: Long)

  final case class PxRow(gx: Long, gy: Long, dn: Double, lbl: Long)

  /** Local labeling pass. `tiles` must have (tx: long, ty: long,
    * pixels: array<double>) at a single zoom; `gridW`/`gridH` are the full
    * raster dimensions in pixels; `mask` selects polygonizable pixels
    * (the reference's mask band); `dnOf` buckets pixel values into the DN
    * that defines "same component" (identity = exact equality). */
  private def emitLocal(tiles: DataFrame, w: Int, h: Int, gridW: Long, gridH: Long,
                        mask: Double => Boolean, dnOf: Double => Double,
                        conn8: Boolean = false): Dataset[Emit] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.select(col("tx").cast("long"), col("ty").cast("long"), col("pixels"))
      .as[(Long, Long, Seq[Double])]
      .flatMap { case (tx, ty, px) =>
        val vals = px.toArray
        val dn = vals.map(dnOf)
        val m = vals.map(mask)
        val labels = Ccl.labelLocal(dn, m, w, h, conn8)
        val x0 = tx * w; val y0 = ty * h
        def gid(i: Int): Long = (y0 + i / w) * gridW + (x0 + i % w)
        val out = Array.newBuilder[Emit]
        // component stats keyed by root local index
        val stats = new java.util.HashMap[Int, Array[Long]]() // n,minGx,maxGx,minGy,maxGy
        var i = 0
        while (i < labels.length) {
          val r = labels(i)
          if (r >= 0) {
            val gx = x0 + i % w; val gy = y0 + i / w
            val s = stats.get(r)
            if (s == null) stats.put(r, Array(1L, gx, gx, gy, gy))
            else {
              s(0) += 1
              if (gx < s(1)) s(1) = gx
              if (gx > s(2)) s(2) = gx
              if (gy < s(3)) s(3) = gy
              if (gy > s(4)) s(4) = gy
            }
            // intra-tile adjacency between different components (sieve input)
            if (i % w > 0 && labels(i - 1) >= 0 && labels(i - 1) != r) {
              val a = gid(math.min(labels(i - 1), r)); val b = gid(math.max(labels(i - 1), r))
              out += Emit(3, a, 0.0, 0, 0, 0, 0, 0, 0, 0, b)
            }
            if (i / w > 0 && labels(i - w) >= 0 && labels(i - w) != r) {
              val a = gid(math.min(labels(i - w), r)); val b = gid(math.max(labels(i - w), r))
              out += Emit(3, a, 0.0, 0, 0, 0, 0, 0, 0, 0, b)
            }
            // 8-conn sieve adjacency: the two upper diagonals too (the
            // reference applies the -8 stencil to neighbor detection as
            // well as component building)
            if (conn8 && i / w > 0) {
              if (i % w > 0 && labels(i - w - 1) >= 0 && labels(i - w - 1) != r) {
                val a = gid(math.min(labels(i - w - 1), r)); val b = gid(math.max(labels(i - w - 1), r))
                out += Emit(3, a, 0.0, 0, 0, 0, 0, 0, 0, 0, b)
              }
              if (i % w < w - 1 && labels(i - w + 1) >= 0 && labels(i - w + 1) != r) {
                val a = gid(math.min(labels(i - w + 1), r)); val b = gid(math.max(labels(i - w + 1), r))
                out += Emit(3, a, 0.0, 0, 0, 0, 0, 0, 0, 0, b)
              }
            }
          }
          i += 1
        }
        val it = stats.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next(); val s = e.getValue
          out += Emit(0, gid(e.getKey), dn(e.getKey), s(0), s(1), s(2), s(3), s(4), 0, 0, 0)
        }
        // seam emissions: E/S keyed by neighbor pixel, W/N keyed by own pixel
        var yy = 0
        while (yy < h) {
          val iE = yy * w + (w - 1)
          if (labels(iE) >= 0 && x0 + w < gridW)
            out += Emit(1, gid(labels(iE)), dn(iE), 0, 0, 0, 0, 0, x0 + w, y0 + yy, 0)
          val iW = yy * w
          if (labels(iW) >= 0)
            out += Emit(2, gid(labels(iW)), dn(iW), 0, 0, 0, 0, 0, x0, y0 + yy, 0)
          yy += 1
        }
        var xx = 0
        while (xx < w) {
          val iS = (h - 1) * w + xx
          if (labels(iS) >= 0 && y0 + h < gridH)
            out += Emit(1, gid(labels(iS)), dn(iS), 0, 0, 0, 0, 0, x0 + xx, y0 + h, 0)
          val iN = xx
          if (labels(iN) >= 0)
            out += Emit(2, gid(labels(iN)), dn(iN), 0, 0, 0, 0, 0, x0 + xx, y0, 0)
          xx += 1
        }
        if (conn8) {
          // diagonal cross-tile adjacency: E/S border pixels also key the
          // two diagonal neighbor coordinates. Every diagonal target lands
          // in the receiving tile's W column or N row, which already emits
          // kind-2 own-coordinate rows — including the four tile-corner
          // diagonals (the NE-diag corner sits in that tile's W column,
          // the SW-diag corner in its N row). Duplicate edges from the
          // corner overlaps die in seams()' distinct.
          var ye = 0
          while (ye < h) {
            val iE = ye * w + (w - 1)
            if (labels(iE) >= 0 && x0 + w < gridW) {
              if (y0 + ye > 0)
                out += Emit(1, gid(labels(iE)), dn(iE), 0, 0, 0, 0, 0, x0 + w, y0 + ye - 1, 0)
              if (y0 + ye + 1 < gridH)
                out += Emit(1, gid(labels(iE)), dn(iE), 0, 0, 0, 0, 0, x0 + w, y0 + ye + 1, 0)
            }
            ye += 1
          }
          var xs = 0
          while (xs < w) {
            val iS = (h - 1) * w + xs
            if (labels(iS) >= 0 && y0 + h < gridH) {
              if (x0 + xs > 0)
                out += Emit(1, gid(labels(iS)), dn(iS), 0, 0, 0, 0, 0, x0 + xs - 1, y0 + h, 0)
              if (x0 + xs + 1 < gridW)
                out += Emit(1, gid(labels(iS)), dn(iS), 0, 0, 0, 0, 0, x0 + xs + 1, y0 + h, 0)
            }
            xs += 1
          }
        }
        out.result()
      }
  }

  /** Label resolution on the component-equivalence graph → (node, rep)
    * with rep = component min.
    *
    * The graph has ONE NODE PER LOCAL COMPONENT (not per pixel), so it is
    * orders of magnitude smaller than the raster. Below `driverThreshold`
    * edges it is collected and solved with union-find on the driver in one
    * pass (the same small-graph shortcut GraphFrames' connectedComponents
    * takes); above it, distributed hash-to-min + pointer jumping iterates
    * to fixpoint in O(log diameter) shuffle rounds, and raises if it has
    * not converged after `maxIter` rounds. Results are identical — both
    * produce rep = min node id of the component. */
  def resolveLabels(nodes: DataFrame, edges: DataFrame, maxIter: Int = 50,
                    driverThreshold: Long = 4000000L): DataFrame = {
    val spark = nodes.sparkSession
    // OPTIMIZATION r6 (guide §1.2): the old branch probe was a count()
    // job FOLLOWED by toLocalIterator — which launches one job PER
    // PARTITION of the edge table, so every polygonize/sieve/contour
    // query paid a dozen tiny sequential jobs here. One bounded typed
    // collect (threshold+1 rows max) answers the branch question AND
    // delivers the edges in a single job; union-find's min-root merge
    // law makes the component representatives order-independent, so the
    // result is unchanged. The limit is clamped to Int.MaxValue: a
    // threshold at or past it would wrap threshold+1 negative.
    import spark.implicits._
    val collected = edges.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)].limit(math.min(driverThreshold, Int.MaxValue - 1L).toInt + 1).collect()
    if (collected.length <= driverThreshold) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) { val gp = parent.getOrDefault(p, p); parent.put(x, gp); x = p; p = gp }
        x
      }
      collected.foreach { case (a, b) =>
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
        }
      val reps = new java.util.HashMap[Long, Long]()
      parent.keySet().forEach(k => reps.put(k, find(k)))
      val repDf = reps.entrySet().iterator()
      val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      while (repDf.hasNext) { val e = repDf.next(); pairs += ((e.getKey, e.getValue)) }
      val mapped = spark.createDataset(pairs.toSeq).toDF("node", "rep_m")
      return nodes.join(broadcast(mapped), Seq("node"), "left")
        .select(col("node"), coalesce(col("rep_m"), col("node")).as("rep"))
    }
    resolveLabelsDistributed(nodes, edges, maxIter)
  }

  /** Distributed fallback for graphs too big to collect. */
  private def resolveLabelsDistributed(nodes: DataFrame, edges: DataFrame,
                                       maxIter: Int): DataFrame = {
    // the symmetric edges, which every round reads, and the start labels
    // are RELIABLE checkpoints (io/Checkpoints — shared checkpoint dir on
    // a cluster), so a lost executor does not take them along.
    val sym = graft.io.Checkpoints.reliable(
      edges.select(col("a").as("x"), col("b").as("y"))
        .union(edges.select(col("b").as("x"), col("a").as("y")))
        .distinct())
    // OPTIMIZATION r6 (guide §1.2): the change flag is computed INSIDE
    // the round (labels only decrease, so `new < previous` is exactly a
    // rep_new <> rep diff), so the probe reads only the probed round. A
    // zero-change round can only occur at the fixpoint since labels are
    // monotone, and an extra round at the fixpoint is an identity.
    graft.io.Checkpoints.iterate(
        graft.io.Checkpoints.reliable(nodes.select(col("node"), col("node").as("rep"))),
        maxIter) { round =>
      val rep = round.select("node", "rep")
      val nbrMin = sym.join(rep.withColumnRenamed("node", "y"), Seq("y"))
        .groupBy(col("x").as("node")).agg(min("rep").as("nbr_rep"))
      val stepped = rep.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("rep").as("rep_prev"),
          least(col("rep"), coalesce(col("nbr_rep"), col("rep"))).as("rep"))
      // pointer jumping: rep := rep(rep)
      stepped.alias("l")
        .join(stepped.select(col("node").as("rep"), col("rep").as("rep2")).alias("r"),
          Seq("rep"), "left")
        .select(col("node"),
          least(col("rep"), coalesce(col("rep2"), col("rep"))).as("rep"),
          (least(col("rep"), coalesce(col("rep2"), col("rep"))) <
            col("rep_prev")).cast("long").as("chg"))
    } { round =>
      round.agg(coalesce(sum(col("chg")), lit(0L))).collect()(0).getLong(0) == 0L
    }.select("node", "rep")
  }

  /** Global components with stats: (label, dn, n_pixels, min_gx, max_gx,
    * min_gy, max_gy). label = min global pixel id of the component. */
  def components(tiles: DataFrame, w: Int, h: Int, gridW: Long, gridH: Long,
                 mask: Double => Boolean,
                 dnOf: Double => Double = identity,
                 conn8: Boolean = false): DataFrame = {
    val emits = emitLocal(tiles, w, h, gridW, gridH, mask, dnOf, conn8).toDF()
      .transform(graft.io.Checkpoints.cached)
    val comps = emits.where(col("kind") === 0)
      .select(col("lbl"), col("dn"), col("n"),
        col("minGx"), col("maxGx"), col("minGy"), col("maxGy"))
    val seamEdges = seams(emits)
    val rep = resolveLabels(comps.select(col("lbl").as("node")), seamEdges)
    comps.join(rep, comps("lbl") === rep("node"))
      .groupBy(col("rep").as("label"))
      .agg(first(col("dn")).as("dn"), sum(col("n")).as("n_pixels"),
        min(col("minGx")).as("min_gx"), max(col("maxGx")).as("max_gx"),
        min(col("minGy")).as("min_gy"), max(col("maxGy")).as("max_gy"))
  }

  /** gdal_footprint (apps/gdal_footprint.cpp, GDAL 3.8): valid-data
    * footprint of each SCENE — here one scene per source tile, the
    * catalog framing a 100-TB archive actually has (footprint per
    * ingested image, not one corpus-wide polygon). Because scenes are
    * independent the whole operator is MAP-ONLY: each tile labels its
    * own valid mask (Ccl union-find, the polygonize enumerator) and
    * emits one row per component with pixel count + georeferenced bbox —
    * no seam join, no label-resolution iteration, nothing shuffles.
    * label = min global pixel id of the component (the polygonize
    * convention, oracle-replayable). `degPerPx` georeferences the bbox;
    * the dyadic grids keep those doubles exact. */
  def footprint(tiles: DataFrame, w: Int, h: Int, gridW: Long,
                mask: Double => Boolean, degPerPx: Double,
                conn8: Boolean = false): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.select(col("tx").cast("long"), col("ty").cast("long"), col("pixels"))
      .as[(Long, Long, Seq[Double])]
      .flatMap { case (tx, ty, px) =>
        val vals = px.toArray
        val m = vals.map(mask)
        val dn = Array.fill(vals.length)(1.0)
        val labels = Ccl.labelLocal(dn, m, w, h, conn8)
        val x0 = tx * w; val y0 = ty * h
        // per local root: count + local bbox
        val acc = new java.util.HashMap[Int, Array[Long]]()
        var i = 0
        while (i < labels.length) {
          val r = labels(i)
          if (r >= 0) {
            val lx = i % w; val ly = i / w
            val a = acc.computeIfAbsent(r, _ => Array(0L, Long.MaxValue, Long.MinValue, Long.MaxValue, Long.MinValue))
            a(0) += 1
            if (lx < a(1)) a(1) = lx
            if (lx > a(2)) a(2) = lx
            if (ly < a(3)) a(3) = ly
            if (ly > a(4)) a(4) = ly
          }
          i += 1
        }
        val out = Array.newBuilder[(Long, Long, Long, Long, Double, Double, Double, Double)]
        acc.forEach { (r, a) =>
          val lbl = (y0 + r / w) * gridW + (x0 + r % w)
          out += ((tx, ty, lbl, a(0),
            -180.0 + (x0 + a(1)) * degPerPx, -180.0 + (x0 + a(2) + 1) * degPerPx,
            90.0 - (y0 + a(4) + 1) * degPerPx, 90.0 - (y0 + a(3)) * degPerPx))
        }
        out.result()
      }
      .toDF("tx", "ty", "label", "n_pixels", "lon_min", "lon_max", "lat_min", "lat_max")
  }

  /** Cross-tile same-DN equivalence edges from the seam emissions. */
  private def seams(emits: DataFrame): DataFrame = {
    val outE = emits.where(col("kind") === 1)
      .select(col("gx"), col("gy"), col("dn"), col("lbl").as("a"))
    val inE = emits.where(col("kind") === 2)
      .select(col("gx"), col("gy"), col("dn"), col("lbl").as("b"))
    outE.join(inE, Seq("gx", "gy", "dn")).select(col("a"), col("b"))
      .where(col("a") =!= col("b")).distinct()
  }

  /** Full polygonize: per global component, assemble boundary rings
    * (shell + holes) into WKT in global pixel coordinates. The per-
    * component assembly is sequential (as in the reference) but components
    * assemble in parallel across the cluster; memory per task is
    * O(component pixels) — the same bound the reference needs for one
    * polygon. Output: (label, dn, n_pixels, wkt). */
  /** Per-pixel global component rows (label, dn, gx, gy) — the shared
    * substrate of the ring-assembly outputs (polygonizeWkt /
    * polygonizeRings). */
  private def componentPixels(tiles: DataFrame, w: Int, h: Int,
                              gridW: Long, gridH: Long,
                              mask: Double => Boolean,
                              dnOf: Double => Double): Dataset[(Long, Double, Long, Long)] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val emits = emitLocal(tiles, w, h, gridW, gridH, mask, dnOf).toDF()
      .transform(graft.io.Checkpoints.cached)
    val comps = emits.where(col("kind") === 0).select(col("lbl"), col("dn"))
    val rep = resolveLabels(comps.select(col("lbl").as("node")), seams(emits))
    // pixel-level emission (second pass; only rows that polygonize)
    val pxl = tiles.select(col("tx").cast("long"), col("ty").cast("long"), col("pixels"))
      .as[(Long, Long, Seq[Double])]
      .flatMap { case (tx, ty, px) =>
        val vals = px.toArray
        val dn = vals.map(dnOf)
        val m = vals.map(mask)
        val labels = Ccl.labelLocal(dn, m, w, h)
        val x0 = tx * w; val y0 = ty * h
        val out = Array.newBuilder[PxRow]
        var i = 0
        while (i < labels.length) {
          if (labels(i) >= 0) {
            val r = labels(i)
            val rg = (y0 + r / w) * gridW + (x0 + r % w)
            out += PxRow(x0 + i % w, y0 + i / w, dn(i), rg)
          }
          i += 1
        }
        out.result()
      }
    pxl.join(rep, pxl("lbl") === rep("node"))
      .select(col("rep").as("label"), col("dn"), col("gx"), col("gy"))
      .as[(Long, Double, Long, Long)]
  }

  def polygonizeWkt(tiles: DataFrame, w: Int, h: Int, gridW: Long, gridH: Long,
                    mask: Double => Boolean,
                    dnOf: Double => Double = identity): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    componentPixels(tiles, w, h, gridW, gridH, mask, dnOf)
      .groupByKey(_._1)
      .mapGroups { (label, rows) =>
        val buf = rows.toArray
        val poly = Ccl.toPolygon(buf.map(r => (r._3, r._4)))
        (label, buf.head._2, buf.length.toLong, poly.toText)
      }
      .toDF("label", "dn", "n_pixels", "wkt")
  }

  /** Ring-row twin of polygonizeWkt: the same shell+holes assembly emitted
    * as integer lattice vertex ROWS (label, ring, seq, x, y) instead of
    * double-formatted WKT text, so the output is bit-exactly replicable by
    * a SQL oracle (the ring walk is a static rightmost-turn successor
    * permutation over the boundary's directed edges — see Ccl.traceRings).
    * ring 0 = shell; holes follow in trace order. Rings are open (first
    * vertex not repeated). Scale shape is polygonizeWkt's: one shuffle to
    * group a component's pixels, per-task memory O(component). */
  def polygonizeRings(tiles: DataFrame, w: Int, h: Int, gridW: Long, gridH: Long,
                      mask: Double => Boolean,
                      dnOf: Double => Double = identity): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    componentPixels(tiles, w, h, gridW, gridH, mask, dnOf)
      .groupByKey(_._1)
      .flatMapGroups { (label, rows) =>
        val buf = rows.toArray
        Ccl.ringVertices(buf.map(r => (r._3, r._4))).iterator.zipWithIndex.flatMap {
          case (verts, ringIdx) =>
            verts.iterator.zipWithIndex.map { case ((x, y), seq) =>
              (label, ringIdx.toLong, seq.toLong, x, y)
            }
        }
      }
      .toDF("label", "ring", "seq", "x", "y")
  }

  /** Sieve filter (reference: alg/gdalsievefilter.cpp :: GDALSieveFilter):
    * components smaller than `threshold` pixels merge into their largest
    * neighbor (ties → smallest neighbor label). One merge round per call
    * (the reference iterates; callers can too). Returns the merged
    * component stats in the same shape as components(). */
  def sieve(tiles: DataFrame, w: Int, h: Int, gridW: Long, gridH: Long,
            threshold: Long,
            mask: Double => Boolean,
            dnOf: Double => Double = identity,
            conn8: Boolean = false): DataFrame = {
    val emits = emitLocal(tiles, w, h, gridW, gridH, mask, dnOf, conn8).toDF()
      .transform(graft.io.Checkpoints.cached)
    val comps = emits.where(col("kind") === 0)
      .select(col("lbl"), col("dn"), col("n"),
        col("minGx"), col("maxGx"), col("minGy"), col("maxGy"))
    val rep = resolveLabels(comps.select(col("lbl").as("node")), seams(emits))
      .transform(graft.io.Checkpoints.cached)
    // global components + their pairwise adjacency (any DN)
    val globalComps = comps.join(rep, comps("lbl") === rep("node"))
      .groupBy(col("rep").as("label"))
      .agg(first(col("dn")).as("dn"), sum(col("n")).as("n_pixels"),
        min(col("minGx")).as("min_gx"), max(col("maxGx")).as("max_gx"),
        min(col("minGy")).as("min_gy"), max(col("maxGy")).as("max_gy"))
      .transform(graft.io.Checkpoints.cached)
    val localNbr = emits.where(col("kind") === 3).select(col("lbl").as("a"), col("other").as("b"))
    // cross-tile different-DN adjacency: seam join WITHOUT dn equality
    val outE = emits.where(col("kind") === 1).select(col("gx"), col("gy"), col("lbl").as("a"))
    val inE = emits.where(col("kind") === 2).select(col("gx"), col("gy"), col("lbl").as("b"))
    val seamNbr = outE.join(inE, Seq("gx", "gy")).select(col("a"), col("b"))
    val nbrLocal = localNbr.union(seamNbr)
    // lift local-label adjacency to global labels
    val repA = rep.select(col("node").as("a"), col("rep").as("la"))
    val repB = rep.select(col("node").as("b"), col("rep").as("lb"))
    val nbrGlobal = nbrLocal.join(repA, Seq("a")).join(repB, Seq("b"))
      .select(col("la"), col("lb")).where(col("la") =!= col("lb")).distinct()
    val sym = nbrGlobal.union(nbrGlobal.select(col("lb").as("la"), col("la").as("lb")))
    // for each small component: neighbor with max pixel count (tie → min label)
    val small = globalComps.where(col("n_pixels") < threshold)
      .select(col("label"), col("n_pixels"))
    val target = small.join(sym, small("label") === sym("la"))
      .join(globalComps.select(col("label").as("lb"), col("n_pixels").as("nbr_n")), Seq("lb"))
      .groupBy(col("la").as("label"))
      .agg(max_by(col("lb"), struct(col("nbr_n"), -col("lb"))).as("merged_into"))
    // Merge CHAINS must resolve to a fixpoint: small A can target small B
    // while B itself targets C — naively B would survive as a label still
    // holding A's pixels. Union-find over the merge edges groups each
    // chain (a group holds at most one not-small component, since every
    // small has exactly one outgoing edge); the surviving label is the
    // group's largest member (tie → smallest label), which is the big
    // endpoint when one exists.
    val mergeEdges = target.select(col("label").as("a"), col("merged_into").as("b"))
    val groups = resolveLabels(globalComps.select(col("label").as("node")), mergeEdges)
    val withGrp = globalComps.join(groups, globalComps("label") === groups("node"))
      .drop("node")
    val finals = withGrp.groupBy(col("rep"))
      .agg(max_by(col("label"), struct(col("n_pixels"), -col("label"))).as("__final"))
    withGrp.join(finals, Seq("rep"))
      .groupBy(col("__final").as("label"))
      // dn must follow the SAME (n_pixels, -label) tie-break as the
      // surviving label itself: a bare max_by(dn, n_pixels) is
      // nondeterministic when several members tie on size (common — merge
      // groups of all-1-px comps), and GDAL's sieve semantics are "the
      // absorbed region takes the surviving component's DN"
      .agg(max_by(col("dn"), struct(col("n_pixels"), -col("label"))).as("dn"),
        sum(col("n_pixels")).as("n_pixels"),
        min(col("min_gx")).as("min_gx"), max(col("max_gx")).as("max_gx"),
        min(col("min_gy")).as("min_gy"), max(col("max_gy")).as("max_gy"))
  }
}
