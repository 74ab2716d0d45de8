package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding TOKENIZER TRAINING and ENCODING — the public BPE
  * law (Sennrich, Haddow & Birch 2016, "Neural Machine Translation of
  * Rare Words with Subword Units", §3.2 / Algorithm 1), the tokenizer
  * every open LLM pipeline trains before anything else runs.
  *
  * Reference anchor: the GDAL reference has no tokenizer — this is part
  * of the training-data-pipeline surface the brief adds beyond it.
  *
  * Data model: a word is a sequence of SYMBOLS (initially its characters),
  * serialized as a delimited string where every symbol is wrapped in '.'
  * on both sides — "the" → ".t..h..e.". The corpus alphabet is [a-z0-9]
  * (whitespace-split lowercased terms), so '.' never occurs inside a
  * symbol and the wrapping makes symbol boundaries unambiguous: the merge
  * of (l, r) is the string replacement  ".l..r." → ".lr."  and standard
  * left-to-right non-overlapping `replace` IS the single-pass greedy BPE
  * merge application (".a..a..a." under (a,a) → ".aa..a.", exactly
  * Sennrich's leftmost-first pass). Spark's `replace` and DuckDB's
  * `replace` share these semantics, so the oracle replays the law
  * operator-for-operator.
  *
  * 100-TB shape (the reason BPE training is feasible at corpus scale):
  *  - the corpus collapses to the distinct-WORD dictionary in ONE hash
  *    agg (vocab ≪ corpus; the corpus text is touched exactly once);
  *  - the dictionary is cached and every training iteration runs
  *    against it: one vocab-sized pair agg + a ONE-ROW bounded collect
  *    (the argmax pair) per iteration — the kmeans (q170) literal-re-bake
  *    pattern;
  *  - merge application is a map-side `replace` chain over the
  *    dictionary; nothing ever shuffles by pair except the vocab-sized
  *    pair counts.
  *
  * Tie law (pinned, both engines): argmax by (freq DESC, lhs ASC,
  * rhs ASC). Pair counts are per word OCCURRENCE (dictionary weighted by
  * word frequency), counting every adjacent symbol position — "aaa"
  * contributes (a,a) twice, per the published get_stats.
  */
object Bpe {

  /** One merge rule: (lhs symbol, rhs symbol, weighted pair frequency). */
  final case class Rule(lhs: String, rhs: String, freq: Long)

  private def termsOf(docs: DataFrame): DataFrame =
    // fan: single-split corpus sources put the full-corpus token explode
    // on one core (guide §2.5); identity when already parallel
    graft.core.Par.fan(docs.select(col("text")))
      .select(explode(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("term"))
      .where(col("term") =!= "")

  /** Distinct-word dictionary with occurrence counts and the initial
    * (per-character) wrapped symbol string. ONE corpus-wide hash agg. */
  def dict(docs: DataFrame): DataFrame = termsOf(docs)
    .groupBy("term").agg(count(lit(1)).as("wcnt"))
    .withColumn("syms", expr(
      "array_join(transform(sequence(1, length(term)), i -> concat('.', substring(term, i, 1), '.')), '')"))

  /** The merge chain as a map-side expression: applying rules in training
    * order is a fold of left-to-right non-overlapping `replace` calls. */
  def applyRules(rules: Seq[Rule], syms: Column): Column =
    rules.foldLeft(syms) { case (e, Rule(l, r, _)) =>
      call_function("replace", e, lit(s".$l..$r."), lit(s".$l$r."))
    }

  /** Wrapped symbol string → symbol array (strip outer dots, split on the
    * inter-symbol ".."). Callers must guard size >= 2 before pairing
    * (sequence(1, 0) is DESCENDING in Spark, not empty). */
  def symbols(syms: Column): Column =
    split(substr(syms, lit(2), length(syms) - 2), "\\.\\.")

  /** Train `k` merge rules over the corpus. Each iteration recomputes the
    * current symbolization from the CACHED dictionary (i map-side
    * replaces at iteration i — O(k²·vocab) total map work, zero extra
    * shuffles) and collects exactly one row. The cache is freed once
    * training returns and nothing references it. */
  def train(docs: DataFrame, k: Int): Seq[Rule] =
    trainOn(graft.io.Checkpoints.cached(dict(docs)), k)

  /** Training loop over an already-cached dictionary (OPTIMIZATION r6:
    * lets a caller that also needs the encoded dictionary build `dict`
    * ONCE instead of once for training and once for encoding — one fewer
    * full corpus tokenize + hash agg per query). */
  def trainOn(d0: DataFrame, k: Int): Seq[Rule] = {
    val rules = ArrayBuffer.empty[Rule]
    for (it <- 1 to k) {
      val top = d0
        .withColumn("syms", applyRules(rules.toSeq, col("syms")))
        .withColumn("ss", symbols(col("syms")))
        .where(size(col("ss")) >= 2)
        .select(col("wcnt"), explode(expr(
          "transform(sequence(1, size(ss) - 1), i -> named_struct('l', element_at(ss, i), 'r', element_at(ss, i + 1)))")).as("p"))
        .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
        .agg(sum(col("wcnt")).as("freq"))
        .orderBy(col("freq").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      require(top.nonEmpty, s"bpe: no adjacent pairs left at iteration $it")
      rules += Rule(top(0).getString(0), top(0).getString(1), top(0).getLong(2))
    }
    rules.toSeq
  }

  /** Per-word encoding under a trained rule chain: wrapped symbol string,
    * symbol count, source char count, and the space-joined symbol text
    * (".th..e." → "th e") used for stream fingerprints. Vocab-sized. */
  def encodedDict(docs: DataFrame, rules: Seq[Rule]): DataFrame =
    encodedDictFrom(dict(docs), rules)

  /** Encoding surface over an existing dictionary DataFrame (same rows as
    * [[dict]]) — pairs with [[trainOn]] to share one dict build. */
  def encodedDictFrom(d0: DataFrame, rules: Seq[Rule]): DataFrame = d0
    .withColumn("enc", applyRules(rules, col("syms")))
    .select(col("term"), length(col("term")).cast("long").as("nch"),
      size(symbols(col("enc"))).cast("long").as("nsym"),
      call_function("replace",
        substr(col("enc"), lit(2), length(col("enc")) - 2), lit(".."), lit(" ")).as("encsp"))
}
