package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.F

/** Fixed-length SEQUENCE PACKING for LLM pretraining — the public
  * "concat-then-chunk" law (GPT-2/3-style pipelines: tokenized documents
  * are concatenated in a deterministic shuffle order and sliced into
  * training sequences of exactly `seqLen` tokens; a document may straddle
  * sequence boundaries, in which case it contributes to several
  * consecutive sequences).
  *
  * The deterministic shuffle order is (fingerprint64(text), doc_id) — a
  * content-derived total order, so the packing is reproducible from the
  * corpus alone (re-running on a re-ingested copy of the data packs
  * identically; ingest order never leaks into the training stream).
  *
  * The global running offset — the sequential-looking part — is the
  * classic TWO-PHASE DISTRIBUTED SCAN, never a single-partition window:
  *
  *  1. range-partition by the shuffle key: global order ACROSS partitions,
  *     each partition holds a contiguous key range;
  *  2. per-partition local cumulative sums (window keyed by the physical
  *     partition id — the only window in the plan, and it is keyed, so
  *     every partition sorts independently);
  *  3. per-partition totals: ONE bounded collect of numPartitions rows,
  *     prefix-summed on the driver, rejoined as a literal map lookup.
  *
  * Offsets are INVARIANT to the partition count and to range-boundary
  * sampling (any boundaries that preserve the total order yield the same
  * global prefix sums), so output is bit-stable at any parallelism — the
  * property the 7-core probe checks. At 100 TB the collect is
  * O(partitions) longs and the data makes exactly two exchanges (range +
  * pid window).
  */
object Pack {

  def pack(docs: DataFrame, idCol: String, textCol: String,
           seqLen: Long): DataFrame = {
    require(seqLen > 0, s"pack: seqLen must be positive, got $seqLen")
    F.ensureRegistered(docs.sparkSession)
    // ws_tokens law shared with q29: whitespace tokens of the normalized
    // text (>= 1 for any text, so n_seqs below is always well-defined)
    val d = docs.select(col(idCol).as("doc_id"),
      expr(s"fingerprint64($textCol)").as("fp"),
      size(split(trim(lower(regexp_replace(col(textCol), "\\s+", " "))), " "))
        .cast("long").as("n_tokens"))
    val parts = d.repartitionByRange(col("fp"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
    val w = Window.partitionBy("pid").orderBy("fp", "doc_id")
    val local = parts
      .withColumn("run", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .transform(graft.io.Checkpoints.cached)
    // phase 3: per-partition totals — bounded collect (numPartitions rows)
    val totals = local.groupBy("pid").agg(sum("n_tokens").as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val prefix = totals.map { case (p, t) => val r = (p, acc); acc += t; r }
    val prefixMap = map_from_arrays(
      array(prefix.map(p => lit(p._1)).toIndexedSeq: _*),
      array(prefix.map(p => lit(p._2)).toIndexedSeq: _*))
    local
      .withColumn("offset", element_at(prefixMap, col("pid")) + col("run"))
      .withColumn("seq_id", floor(col("offset") / lit(seqLen)))
      .withColumn("n_seqs",
        floor((col("offset") + col("n_tokens") - 1) / lit(seqLen))
          - col("seq_id") + 1)
      .select("doc_id", "n_tokens", "offset", "seq_id", "n_seqs")
  }

  /** LENGTH-BUCKETED packing — the packing law that never SPLITS a
    * document (SFT/seq2seq batching standard: docs bucket by the smallest
    * power-of-two length, and floor(context/bucket) same-bucket docs
    * share one training sequence; the residue of each bucket's last bin
    * is padding). Deterministic order inside a bucket is plain doc_id.
    *
    * The per-bucket global rank uses the SAME two-phase distributed scan
    * as pack() — range-partition by (bucket, doc_id), per-partition
    * keyed window, one bounded collect of (partition × bucket) counts
    * prefix-summed on the driver and rejoined as a literal map — so no
    * global single-partition window exists at any scale and the output
    * is bit-stable at any parallelism. */
  def bucketedPack(docs: DataFrame, idCol: String, textCol: String,
                   context: Long): DataFrame = {
    require(context > 0 && (context & (context - 1)) == 0,
      s"bucketedPack: context must be a power of two, got $context")
    F.ensureRegistered(docs.sparkSession)
    // explicit power-of-two ladder (integer, dialect-safe — no log2
    // boundary ULPs), capped at the context length
    val ladder = (0 to 20).map(1L << _).filter(_ <= context)
    val bucketCase = "CASE " + ladder.dropRight(1)
      .map(p => s"WHEN n_cap <= $p THEN ${p}L").mkString(" ") +
      s" ELSE ${context}L END"
    val d = docs.select(col(idCol).as("doc_id"),
        size(split(trim(lower(regexp_replace(col(textCol), "\\s+", " "))), " "))
          .cast("long").as("n_tokens"))
      .withColumn("n_cap", least(col("n_tokens"), lit(context)))
      .withColumn("bucket", expr(bucketCase))
    val parts = d.repartitionByRange(col("bucket"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
    val w = Window.partitionBy("pid", "bucket").orderBy("doc_id")
    val local = parts
      .withColumn("lrank", row_number().over(w).cast("long") - 1L)
      .transform(graft.io.Checkpoints.cached)
    val totals = local.groupBy("pid", "bucket").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._2, t._1)) // per bucket, in pid (= range) order
    val prefix = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var curBucket = -1L; var acc = 0L
    totals.foreach { case (pid, b, c) =>
      if (b != curBucket) { curBucket = b; acc = 0L }
      prefix += (s"${pid}_$b" -> acc); acc += c
    }
    val prefixMap = map_from_arrays(
      array(prefix.map(p => lit(p._1)).toIndexedSeq: _*),
      array(prefix.map(p => lit(p._2)).toIndexedSeq: _*))
    local
      .withColumn("rank0", element_at(prefixMap,
        concat(col("pid").cast("string"), lit("_"), col("bucket").cast("string")))
        + col("lrank"))
      .withColumn("g", expr(s"${context}L div bucket")) // exact: both powers of 2
      .select(col("doc_id"), col("n_tokens"), col("bucket"),
        expr("CAST(rank0 div g AS BIGINT)").as("bin_idx"),
        expr("rank0 % g").as("slot"))
  }
}
