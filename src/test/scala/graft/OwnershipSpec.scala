package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.TestBus
import org.apache.spark.sql.functions.col
import graft.io.{CatalogIO, Checkpoints, LocalDirs}

/** Cached intermediates belong to the result that uses them
  * (io/Checkpoints.cached): a query registers nothing in the session's
  * CacheManager, and once its result is dropped Spark's ContextCleaner
  * frees every block it cached. One query per caching operator family. */
class OwnershipSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val families = Seq(
    "spatial join, broadcast cover" -> "q52_pip_adaptive",
    "spatial join, self-join cover" -> "q51_geom_selfjoin",
    "kNN rounds" -> "q14_knn",
    "n-gram Jaccard dedup" -> "q23_ngram_jaccard",
    "BPE dictionary" -> "q216_bpe_encode",
    "graph edges" -> "q263_network_sssp",
    "stream-static cover" -> "q121_stream_pip",
    "polygonize sieve" -> "q116_sieve8",
    "raster cutline blend" -> "q74_cutline_blend",
    "quality bigram backoff" -> "q202_bigram_backoff",
    "sequence pack" -> "q183_seq_pack",
    "media dhash pairs" -> "q186_image_dhash_dedup",
    "ANN k-means" -> "q170_kmeans",
    "contour stitch" -> "q42_contour_stitch",
    "OSM relation arcs" -> "q65_osm_relations")

  for ((family, q) <- families) test(s"$family ($q): cached blocks are freed with the result") {
    val sc = spark.sparkContext
    val cache = spark.sharedState.cacheManager
    // built, run and dropped inside a method, so no local keeps it alive
    def run(): Unit = {
      val out = SparkEntry.queries(q)(spark, TestSpark.SfSmall)
      out.queryExecution.toRdd.count(): Unit
      assert(cache.isEmpty, s"$q registered a CacheManager entry")
    }
    val (_, held) = TestBus.rddsCached(sc)(run())
    assert(held.nonEmpty, s"$q cached nothing")
    var left = held
    var tries = 0
    while (left.nonEmpty && tries < 100) {
      System.gc(); Thread.sleep(50)
      left = held & TestBus.rddsWithBlocks(sc)
      tries += 1
    }
    assert(left.isEmpty, s"blocks of RDDs $left outlive $q's result")
    assert(cache.isEmpty)
  }

  test("commitStage releases the cached intermediates of the frame it commits") {
    val sc = spark.sparkContext
    val root = java.nio.file.Files.createTempDirectory("graft-commit")
    try {
      val df = Checkpoints.cached(spark.range(1000).toDF("id")).withColumn("v", col("id") * 2)
      val (rows, held) = TestBus.rddsCached(sc)(
        CatalogIO.commitStage(spark, df, root.toString, "job", "stage"))
      assert(rows == 1000L && held.nonEmpty)
      // `df` stays referenced here: no collection can free the blocks
      var left = held
      var tries = 0
      while (left.nonEmpty && tries < 100) {
        Thread.sleep(50)
        left = held & TestBus.rddsWithBlocks(sc)
        tries += 1
      }
      assert(left.isEmpty, s"blocks of RDDs $left outlive the commit")
      assert(df.count() == 1000L, "a later read recomputes the released cache")
    } finally LocalDirs.delete(root)
  }
}
