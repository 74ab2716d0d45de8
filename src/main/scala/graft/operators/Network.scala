package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generic network model analysis — single-source shortest path
  * (reference: gnm/gnmgraph.cpp :: GNMGraph::DijkstraShortestPath, the
  * `[late-SVN]` generic-network-model module behind gnmanalyse
  * --dijkstra). The reference runs driver-side Dijkstra over an
  * in-memory graph; the Spark re-expression is distributed
  * label-correcting relaxation (Bellman-Ford rounds): each round relaxes
  * EVERY edge with one equi-join + one min hash-agg, converging in
  * max-shortest-path-edge-count rounds — the standard BSP/Pregel SSSP.
  *
  * 100-TB shape: the frontier table is (node, dist) LONG pairs; each
  * round is one key-bounded equi-join (edges side partitioned by src,
  * reusable across rounds) + one hash agg. The rounds run on
  * io/Checkpoints.iterate: every round's plan is cut to a persisted RDD
  * that keeps its lineage, and every 8th round goes through a RELIABLE
  * checkpoint, so a lost block recomputes through at most 8 rounds.
  * Convergence = the (count, sum) signature of the dist table reaching a
  * fixpoint — two driver scalars per probe, never the table. Positive
  * weights make the signature strictly monotone until the fixpoint, so
  * the test is exact. */
object Network {

  /** Scale-adaptive shuffle width for the BSP rounds (guide §2.2): each
    * round shuffles only the (node, dist/mass) frontier — ~16 B rows —
    * yet inherits the session's shuffle-partition constant, so at local
    * graph sizes every round pays 32 task launches per stage for
    * thousand-row tables. Derive partitions from the EDGE count (~1M
    * edge-rows per partition, floor 4): a 4k-edge lattice gets 4, a
    * 100-TB web graph gets thousands. Scoped to the loop, restored
    * after; results are partition-count invariant. */
  private def withGraphParts[T](df: DataFrame, edgeCount: Long)(body: => T): T = {
    val s = df.sparkSession
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      math.max(4L, edgeCount / 1000000L).toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Exact-INTEGER PageRank (public: Brin & Page 1998 — the link-quality
    * prior CommonCrawl-era corpus pipelines carry as a document-quality
    * signal): damping 0.85 in integer micro-mass with floor division —
    * m_{t+1}(v) = 150000 + Σ_{u→v} ((m_t(u)·85 div 100) div outdeg(u)),
    * all BIGINT, so the sum is ORDER-INDEPENDENT (float PageRank sums
    * neighbor contributions in nondeterministic shuffle order — ULP
    * drift per run; integer mass is bit-stable and oracle-replayable).
    * Floor losses and dangling mass simply leak (documented, still a
    * fixed-point family; ranking order is what consumers read). Each of
    * the fixed `iters` rounds is one equi-join + one hash agg, cut by
    * io/Checkpoints.repeat; the cuts run each round's shuffle stages as
    * the frame is built, so the result's action runs only the last
    * round's final stage.
    *
    * nodes: (node: long); edges: (src, dst) — weights ignored. */
  def pagerankInt(edges: DataFrame, nodes: DataFrame, iters: Int): DataFrame = {
    val outd = edges.groupBy("src").agg(count(lit(1)).as("od"))
    val e = graft.io.Checkpoints.cached(edges.select("src", "dst").join(outd, "src"))
    val ec = e.count()
    withGraphParts(e, ec) {
    val m = graft.io.Checkpoints.repeat(
        nodes.select(col("node")).withColumn("m", lit(1000000L)), iters) { m =>
      val contrib = e.join(m, m("node") === e("src"))
        .select(col("dst").as("node"), expr("((m * 85L) div 100L) div od").as("c"))
        .groupBy("node").agg(sum(col("c")).as("cs"))
      nodes.select(col("node")).join(contrib, Seq("node"), "left")
        .select(col("node"), (lit(150000L) + coalesce(col("cs"), lit(0L))).as("m"))
    }
    m.select(col("node"), col("m").as("rank_micro"))
    }
  }

  /** edges: (src: long, dst: long, w: long), positive weights. Returns
    * (node, dist) for every node reachable from `source`; raises if the
    * distances have not converged after `maxRounds` rounds. */
  def shortestPaths(edges: DataFrame, source: Long, maxRounds: Int = 200): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = graft.io.Checkpoints.cached(edges.select(col("src"), col("dst"), col("w")))
    val ec = e.count()
    withGraphParts(e, ec) {
    // Probing only every second round is exact: the signature is
    // strictly monotone until the fixpoint, so it repeats across probes
    // iff the rounds between were identities, and relaxation at the
    // fixpoint is idempotent.
    var prev = (-1L, -1L)
    val dist = graft.io.Checkpoints.iterate(Seq((source, 0L)).toDF("node", "d"), maxRounds) { dist =>
      val relaxed = dist.join(e, dist("node") === e("src"))
        .select(col("dst").as("node"), (col("d") + col("w")).as("d"))
      dist.unionByName(relaxed).groupBy("node").agg(min(col("d")).as("d"))
    } { dist =>
      val st = dist.agg(count(lit(1)), coalesce(sum(col("d")), lit(0L))).collect()(0)
      val sig = (st.getLong(0), st.getLong(1))
      val same = sig == prev
      prev = sig
      same
    }
    dist.select(col("node"), col("d").as("dist"))
    }
  }
}
