package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.storage.RDDBlockId

/** The listener bus is private to Spark; specs drain it so that a listener
  * has seen every event of the code under test before it is read. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Runs `body` and returns its result with the number of Spark jobs it
    * started. Not meaningful while other threads run jobs on `sc`. */
  def countJobs[T](sc: SparkContext)(body: => T): (T, Int) =
    count(sc, n => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    })(body)

  /** Runs `body` and returns its result with the number of shuffle map
    * stages it submitted, i.e. the shuffles it wrote. Unlike a job count
    * this does not depend on how many partitions a limit scan reads. */
  def countShuffles[T](sc: SparkContext)(body: => T): (T, Int) =
    count(sc, n => new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.shuffleDepId.isDefined) n.incrementAndGet(): Unit
    })(body)

  /** Runs `body` and returns its result with the number of stages it
    * submitted (stages skipped for existing shuffle output not counted). */
  def countStages[T](sc: SparkContext)(body: => T): (T, Int) =
    count(sc, n => new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = n.incrementAndGet(): Unit
    })(body)

  /** Removes every cached RDD block from the driver's block manager,
    * which in local mode holds them all, and returns how many it removed.
    * The RDDs stay persisted, so a later read recomputes the lost
    * partitions from lineage, as after an executor loss. */
  def dropRddBlocks(sc: SparkContext): Int = {
    val bm = sc.env.blockManager
    val ids = bm.getMatchingBlockIds(_.isRDD)
    ids.foreach(bm.removeBlock(_))
    ids.size
  }

  /** Ids of the RDDs that have blocks in the block manager. */
  def rddsWithBlocks(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .collect { case b: org.apache.spark.storage.RDDBlockId => b.rddId }.toSet

  /** Runs `body` and returns its result with the ids of the RDDs that
    * stored a block while it ran. */
  def rddsCached[T](sc: SparkContext)(body: => T): (T, Set[Int]) = {
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId match {
          case b: RDDBlockId if e.blockUpdatedInfo.storageLevel.isValid => ids.add(b.rddId): Unit
          case _ => ()
        }
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      drain(sc)
      (out, scala.jdk.CollectionConverters.SetHasAsScala(ids).asScala.toSet)
    } finally sc.removeSparkListener(listener)
  }

  private def count[T](sc: SparkContext, listen: AtomicInteger => SparkListener)
                      (body: => T): (T, Int) = {
    val n = new AtomicInteger
    val listener = listen(n)
    drain(sc) // events of earlier jobs must not reach the new listener
    sc.addSparkListener(listener)
    try {
      val out = body
      drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
