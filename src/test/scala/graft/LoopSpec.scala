package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.TestBus
import graft.io.Checkpoints
import graft.operators.{Network, Polygonize}

/** The fixpoint driver (io/Checkpoints.iterate / repeat) behind SSSP,
  * PageRank and distributed label resolution: cost per round, block loss
  * mid-loop, and the round cap. */
class LoopSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** An `n`-node unit-weight path 0 → 1 → … → n-1. */
  private def chain(n: Int) =
    (0L until n - 1L).map(i => (i, i + 1, 1L)).toDF("src", "dst", "w")

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("SSSP stages grow linearly in rounds") {
    // a chain of n nodes converges in n-1 rounds plus one probe stride
    val stages = Seq(16, 32, 64).map { n =>
      val (got, s) = TestBus.countStages(spark.sparkContext) {
        rows(Network.shortestPaths(chain(n), 0L))
      }
      assert(got == (0L until n).map(i => (i, i)).toSet)
      s
    }
    val Seq(s16, s32, s64) = stages
    val per16 = s32 - s16
    val per32 = s64 - s32
    // 60/110/210 at local[4]: 50 stages per 16 more rounds, 100 per 32.
    // A loop that re-ran earlier rounds' stages grows faster than that.
    assert(per16 <= 56 && per32 <= 2 * per16 + 4,
      s"stages for 16/32/64-node chains: $stages")
  }

  test("cached blocks lost mid-loop recompute to the same rows (SSSP, PageRank, label resolution)") {
    val sc = spark.sparkContext
    // drops every cached block before the third round's step: the
    // probed second round's blocks, the operators' persisted edges
    def lossy(run: => org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      var dropped = 0
      val out = Checkpoints.withRoundHook(r => if (r == 2) dropped = TestBus.dropRddBlocks(sc)) {
        rows(run)
      }
      assert(dropped > 0, "the hook removed no cached block")
      out
    }
    val edges = chain(32)
    val sssp = rows(Network.shortestPaths(edges, 0L))
    assert(sssp == (0L until 32L).map(i => (i, i)).toSet)
    assert(lossy(Network.shortestPaths(edges, 0L)) == sssp)
    val nodes = (0L until 32L).toDF("node")
    val pr = rows(Network.pagerankInt(edges, nodes, iters = 10))
    assert(lossy(Network.pagerankInt(edges, nodes, iters = 10)) == pr)
    val labelNodes = (1L to 64L).toDF("node")
    val labelEdges = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = rows(Polygonize.resolveLabels(labelNodes, labelEdges, driverThreshold = 0L))
    assert(labels == (1L to 64L).map((_, 1L)).toSet)
    assert(lossy(Polygonize.resolveLabels(labelNodes, labelEdges, driverThreshold = 0L)) == labels)
  }

  test("SSSP raises at its round cap instead of returning unconverged distances") {
    val e = intercept[IllegalArgumentException] {
      Network.shortestPaths(chain(64), 0L, maxRounds = 2).collect()
    }
    assert(e.getMessage.contains("did not converge in 2 rounds"))
  }
}
