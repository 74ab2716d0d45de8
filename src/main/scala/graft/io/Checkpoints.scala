package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.graftshim.Frames
import org.apache.spark.storage.StorageLevel

/** Cached intermediates, reliable (cluster-safe) checkpoints, and the
  * round driver for iterative operators.
  *
  * [[cached]] keeps every operator's and query's intermediates. A cached
  * relation belongs to the frames built on it, as a GDAL block belongs to
  * its band (gcore/gdalrasterband.cpp :: GDALRasterBand::FlushCache):
  * nothing is registered session-wide, and Spark's ContextCleaner frees
  * the blocks once no frame references them.
  *
  * The kNN ring-doubling loop checkpoints every round with [[reliable]];
  * the fixpoint loops run on [[iterate]] (Network.shortestPaths and the
  * distributed path of Polygonize.resolveLabels, which also serves
  * Contour and Dedup.clusters) and [[repeat]] (Network.pagerankInt).
  * Each must truncate lineage every round (a persist would stack
  * O(rounds) of plan on plan). Round-4's `localCheckpoint(true)` did that
  * but is cluster-UNSAFE: a local checkpoint's blocks live only on the
  * executors that computed them, so one lost executor poisons the
  * lineage of every later round (the same analysis Dedup.ngramJaccard
  * documents). [[reliable]] writes to `sparkContext.setCheckpointDir`,
  * which on a real cluster the caller points at shared storage
  * (HDFS/S3); blocks then survive executor loss and any stage resumes
  * idempotently, matching the engine's checkpoint-table contract
  * (CatalogIO). The driver's per-round cuts between reliable checkpoints
  * keep their lineage, so lost blocks recompute.
  *
  * If no checkpoint dir is configured (local runs, tests), a per-JVM temp
  * dir is created once and removed at JVM exit.
  */
object Checkpoints {

  private val lock = new Object

  /** Eagerly checkpoint `df` to reliable storage and return a Dataset
    * whose lineage starts at the checkpoint files. */
  def reliable(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty) lock.synchronized {
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(LocalDirs.temp("graft-ckpt").toString)
    }
    df.checkpoint() // eager: materializes now, truncates lineage
  }

  /** `df` cached as the InMemoryRelation `df.persist(MEMORY_AND_DISK)`
    * would register (graftshim.Frames), so storage format, laziness,
    * measured statistics and physical plan are `Dataset.persist`'s (but
    * for a column-renaming Project, which stays above the relation). It
    * is registered in no CacheManager: only the returned frame and the
    * frames built on it read it, and the ContextCleaner unpersists it
    * once they are all unreachable. */
  def cached(df: DataFrame): DataFrame =
    Frames.ofPlan(df.sparkSession, Frames.inMemoryRelation(df, StorageLevel.MEMORY_AND_DISK))

  /** Frees now the blocks of every [[cached]] relation in `df`'s plan,
    * for a caller that will not read them again; a later read recomputes. */
  private[graft] def release(df: DataFrame): Unit = df.queryExecution.analyzed.foreach {
    case r: InMemoryRelation => r.cacheBuilder.clearCache(blocking = false)
    case _ => ()
  }

  /** Rounds between the reliable checkpoints of [[iterate]]/[[repeat]]:
    * a lost block recomputes through at most this many rounds. */
  private val ReliableEvery = 8
  /** Rounds between the convergence probes of [[iterate]]. */
  private val ProbeEvery = 2

  /** The driver of the engine's fixpoint loops (Network.shortestPaths
    * and the distributed path of Polygonize.resolveLabels): runs `step`
    * from `init` until `done` holds. `done` is probed every
    * [[ProbeEvery]]-th round and at round `maxRounds`; a loop not done by
    * then raises "fixpoint did not converge in <maxRounds> rounds".
    * Probing only some rounds is exact for loops whose rounds change
    * nothing only at the fixpoint and are identities past it, as these
    * monotone loops are.
    *
    * Every round is cut so the plan stays constant in size (OPTIMIZATION
    * r6, guide §5): an eager reliable checkpoint per round computes the
    * round twice and round-trips disk, and a bare persist() leaves the
    * plan growing until analysis dominates (q263 6.5 s → 97 s). The cut
    * persists the round as a MEMORY_AND_DISK InternalRow RDD under a
    * LogicalRDD-rooted frame (graftshim.Frames); every
    * [[ReliableEvery]]-th round goes through [[reliable]] instead. A cut
    * is not lazy: building the RDD plans the round, which under AQE runs
    * its shuffle stages at once; only the final stage waits for the next
    * action. Once a round is cut, the previous round's RDD is unpersisted:
    * keeping more generations measured the same job, stage and task
    * counts, as Spark skips a map stage whose shuffle output exists. The
    * persisted RDDs keep their lineage, so a lost block recomputes back
    * to at most the last reliable cut. */
  def iterate(init: DataFrame, maxRounds: Int)(step: DataFrame => DataFrame)
             (done: DataFrame => Boolean): DataFrame =
    drive(init, maxRounds, step, Some(done))

  /** Exactly `rounds` rounds of `step` from `init`, with no probe
    * (Network's PageRank); the cuts are [[iterate]]'s. */
  def repeat(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame =
    drive(init, rounds, step, None)

  private val beforeRound = new scala.util.DynamicVariable[Int => Unit](_ => ())

  /** Runs `body` with `hook` called with the 0-based round index before
    * every round's `step`, so a test can disturb a loop mid-run. */
  private[graft] def withRoundHook[T](hook: Int => Unit)(body: => T): T =
    beforeRound.withValue(hook)(body)

  private def drive(init: DataFrame, maxRounds: Int, step: DataFrame => DataFrame,
                    done: Option[DataFrame => Boolean]): DataFrame = {
    var cur = init
    var kept: org.apache.spark.rdd.RDD[_] = null // the persisted RDD under `cur`
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      beforeRound.value(round)
      val next = step(cur)
      // a row RDD, not [[cached]], whose lazy relation would move the
      // round's shuffle stages into the next action (LoopSpec pins the
      // job, stage and task counts of this cut)
      val (cut, rdd) =
        if (round % ReliableEvery == ReliableEvery - 1) (reliable(next), null)
        else {
          val rdd = next.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
          (Frames.ofInternal(next.sparkSession, rdd, next.schema), rdd)
        }
      // released by hand: each round's RDD is in the lineage of every later
      // round, so the ContextCleaner would free none before the result goes
      if (kept != null) kept.unpersist(false): Unit
      cur = cut
      kept = rdd
      round += 1
      converged = done.exists(d => (round % ProbeEvery == 0 || round == maxRounds) && d(cur))
    }
    require(converged || done.isEmpty, s"fixpoint did not converge in $maxRounds rounds")
    cur
  }
}
