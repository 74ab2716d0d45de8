package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Repetition-based document quality signals for training-data curation —
  * the within-document half of the classic web-corpus quality rules
  * (duplicate-word fraction and most-frequent-n-gram fraction; the
  * cross-document half is operators/Dedup). Published heuristics of this
  * family (e.g. the Gopher/MassiveText rules) filter documents whose
  * duplicate-line or top-n-gram character share exceeds a threshold; this
  * operator computes the word-level signals for the engine's corpus, whose
  * documents are single-line word streams.
  *
  * Scale notes (100-TB design): signals are computed by explode → partial
  * (map-side) aggregate on (doc_id) and (doc_id, gram) keys, NOT by per-row
  * array HOFs — a within-array distinct-frequency scan is O(words ×
  * distinct) per document and melts on megabyte documents, while the
  * explode path is linear and combines map-side. All outputs are BIGINT
  * (counts and truncating-div milli fractions) — bit-exact on any engine.
  */
object Quality {

  /** Per-document repetition signals over whitespace tokens:
    * (doc_id, n_words, n_distinct, dup_word_milli, top_bigram_n,
    * top_bigram_milli). Empty documents report all zeros. */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = df.select(col(idCol).as("doc_id"),
      trim(regexp_replace(lower(col(textCol)), "\\s+", " ")).as("n"))
    val toks = norm.select(col("doc_id"),
      when(col("n") === "", expr("CAST(array() AS array<string>)"))
        .otherwise(split(col("n"), " ")).as("ts"))

    // words: one partial+final agg per doc (count + exact distinct)
    val words = toks.select(col("doc_id"), explode(col("ts")).as("w"))
    val wagg = words.groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), countDistinct(col("w")).as("n_distinct"))

    // bigram mode count: two hash aggs, both key-bounded (doc_id, gram)
    val bigrams = toks.where(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ts) - 2), i -> concat(ts[i], ' ', ts[i+1]))")).as("g"))
    val btop = bigrams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_bigram_n"))

    toks.join(wagg, Seq("doc_id"), "left").join(btop, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        expr("(coalesce(n_words, 0L) - coalesce(n_distinct, 0L)) * 1000L" +
          " div greatest(coalesce(n_words, 0L), 1L)").as("dup_word_milli"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        expr("coalesce(top_bigram_n, 0L) * 1000L" +
          " div greatest(coalesce(n_words, 0L) - 1L, 1L)").as("top_bigram_milli"))
  }

  /** Gopher/MassiveText document-quality RULE FILTER (the public rule
    * set of Rae et al. 2021, Table A1 — the thresholded complement of
    * [[repetitionSignals]]'s fraction signals): a document is kept iff
    *   50 <= word count <= 100000,
    *   3 <= mean word length <= 10,
    *   >= 80% of words contain an alphabetic character,
    *   >= 2 of the 8 canonical stop words appear, and
    *   <= 10% of words carry a symbol marker ('#' or '...').
    * All five signals are emitted as exact integers (milli-fractions via
    * `div`, never floats) beside the verdict, so downstream re-threshold
    * without recompute. Pure per-document codegen'd HOFs over the split
    * word array — shuffle-free, map-only at 100 TB. */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val stops = "array('the','be','to','of','and','that','have','with')"
    df.select(col(idCol).as("doc_id"),
        split(trim(regexp_replace(col(textCol), "\\s+", " ")), " ").as("w"))
      .withColumn("n_words", expr("CAST(size(w) AS BIGINT)"))
      .withColumn("mean_wlen_milli", expr(
        "aggregate(w, 0L, (a, x) -> a + CAST(length(x) AS BIGINT)) * 1000L" +
        " div greatest(n_words, 1L)"))
      .withColumn("alpha_frac_milli", expr(
        "CAST(size(filter(w, x -> x rlike '[a-zA-Z]')) AS BIGINT) * 1000L" +
        " div greatest(n_words, 1L)"))
      .withColumn("n_stop", expr(
        s"CAST(size(filter($stops, sw -> array_contains(w, sw))) AS BIGINT)"))
      .withColumn("sym_frac_milli", expr(
        "CAST(size(filter(w, x -> x LIKE '%#%' OR x LIKE '%...%')) AS BIGINT)" +
        " * 1000L div greatest(n_words, 1L)"))
      .select(col("doc_id"), col("n_words"), col("mean_wlen_milli"),
        col("alpha_frac_milli"), col("n_stop"), col("sym_frac_milli"),
        expr("""CASE WHEN n_words BETWEEN 50 AND 100000
                      AND mean_wlen_milli BETWEEN 3000 AND 10000
                      AND alpha_frac_milli >= 800
                      AND n_stop >= 2
                      AND sym_frac_milli <= 100
                 THEN 'keep' ELSE 'drop' END""").as("verdict"))
  }

  /** C4-style line + document cleaning (the public "Colossal Clean
    * Crawled Corpus" heuristics, Raffel et al. 2020 §2.2): a LINE
    * survives iff it ends in terminal punctuation (. ! ?) and has at
    * least `minLineWords` words; a DOCUMENT survives iff no line carries
    * a blocklist marker ('lorem ipsum' — placeholder text — or '{' — the
    * code/boilerplate tell) and at least `minKeptLines` lines survive.
    * Input: (idCol, linesCol: array<string>). Output per document:
    * n_lines, kept_lines, verdict keep/drop, and cleaned_len — the
    * character count of the kept lines newline-joined in order, i.e. the
    * bytes a cleaning writer would emit. Pure per-document codegen'd
    * HOFs: shuffle-free, linear in corpus size, no key explosion —
    * at 100 TB this is a map-only pass. */
  def c4LineFilter(df: DataFrame, idCol: String, linesCol: String,
      minLineWords: Int = 3, minKeptLines: Int = 3): DataFrame = {
    val keep = "l -> (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?')" +
      s" AND size(split(l, ' ')) >= $minLineWords"
    df.select(col(idCol).as("doc_id"), col(linesCol).as("lines"))
      .withColumn("kept", expr(s"filter(lines, $keep)"))
      .withColumn("bad",
        expr("exists(lines, l -> l LIKE '%lorem ipsum%' OR l LIKE '%{%')"))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("kept_lines"),
        expr(s"CASE WHEN bad OR size(kept) < $minKeptLines THEN 'drop' ELSE 'keep' END")
          .as("verdict"),
        expr("CAST(length(array_join(kept, chr(10))) AS BIGINT)").as("cleaned_len"))
  }

  /** Unigram SURPRISAL quality score — the exact-integer analog of the
    * public LM-perplexity filtering recipe (CCNet / Wenzek et al. 2020
    * score documents with a KenLM model and keep the low-perplexity head;
    * GPT-3/the Pile use similar LM-quality gates). The "language model"
    * here is the corpus's own unigram distribution, and the per-token
    * surprisal surrogate is the integer milli-scaled inverse probability
    * (total_tokens·1000) div count(term) — exactly the q147 idf law, so
    * there is no float log anywhere and the oracle replays bit-for-bit.
    * A document's score is the floor-mean surrogate over its token
    * OCCURRENCES: low = head-of-distribution prose, high = rare-token
    * noise (the gibberish tail a perplexity filter drops).
    *
    * 100-TB shape: one hash agg for the model (vocabulary-bounded), one
    * term-keyed equi-join back (model side broadcast when small, plain
    * shuffle otherwise), one doc-keyed agg. The only driver value is the
    * scalar total. */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), explode(
        split(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")), " ")).as("term"))
      .where(col("term") =!= "")
    val model = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      .transform(graft.io.Checkpoints.cached)
    val total = model.agg(sum(col("cnt"))).collect()(0).getLong(0)
    require(total < Long.MaxValue / 1000L,
      s"unigramSurprisal: total token count $total would overflow the milli scale")
    toks.join(model, "term")
      .withColumn("surp", expr(s"(${total}L * 1000L) div cnt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("surp")).as("surp_sum"))
      .select(col("doc_id"), col("n_tokens"),
        expr("surp_sum div n_tokens").as("score_milli"))
  }

  /** Stupid Backoff bigram LM scoring (Brants et al. 2007 §4, "Large
    * Language Models in Machine Translation" — the web-scale LM scoring
    * law built for exactly this distributed setting): per token,
    *
    *   S(wᵢ|wᵢ₋₁) = c(wᵢ₋₁wᵢ)/c(wᵢ₋₁)   if the bigram was seen,
    *              = α·c(wᵢ)/N  (α=0.4)   otherwise,
    *
    * pinned in exact-integer milli form — bigram leg (cnt2·1000) div
    * c(prev), backoff leg (cnt1·400) div N, a doc's FIRST token scored on
    * the α-free unigram (cnt1·1000) div N, unseen unigrams scoring 0 —
    * so every value is BIGINT-exact on any engine. The model trains on a
    * HELD-OUT half of the corpus (`modelFilter`) and scores ALL docs,
    * the CCNet arrangement; scoring the training corpus against itself
    * would never exercise backoff (every adjacent pair trivially has
    * count ≥ 1 in its own doc).
    *
    * 100-TB shape: two vocabulary-bounded hash aggs (unigram + bigram
    * models), THREE term-keyed equi-joins back (AQE broadcasts the
    * models when small, plain shuffles otherwise), one doc-keyed agg.
    * The lag() window partitions BY DOCUMENT — no global sort, state is
    * one token per partition-local group. The only driver value is the
    * scalar N. */
  def bigramBackoff(docs: DataFrame, idCol: String, textCol: String,
                    modelFilter: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"), modelFilter.as("in_model"),
        posexplode(split(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")), " "))
          .as(Seq("pos", "term")))
      .where(col("term") =!= "")
    val seq = toks.withColumn("prev",
        lag(col("term"), 1).over(Window.partitionBy("doc_id").orderBy("pos")))
      .transform(graft.io.Checkpoints.cached)
    val mtoks = seq.where(col("in_model"))
    val uni = mtoks.groupBy("term").agg(count(lit(1)).as("cnt1"))
      .transform(graft.io.Checkpoints.cached)
    val n = uni.agg(sum(col("cnt1"))).collect()(0).getLong(0)
    require(n > 0, "bigramBackoff: empty model corpus")
    require(n < Long.MaxValue / 1000L,
      s"bigramBackoff: model token count $n would overflow the milli scale")
    val bi = mtoks.where(col("prev").isNotNull)
      .groupBy(col("prev"), col("term")).agg(count(lit(1)).as("cnt2"))
    val ctx = uni.select(col("term").as("prev"), col("cnt1").as("ctx_cnt"))
    seq
      .join(uni, Seq("term"), "left")
      .join(bi, Seq("prev", "term"), "left")
      .join(ctx, Seq("prev"), "left")
      .withColumn("s_milli",
        when(col("prev").isNull, expr(s"coalesce(cnt1, 0L) * 1000L div ${n}L"))
          .when(col("cnt2").isNotNull, expr("cnt2 * 1000L div ctx_cnt"))
          .otherwise(expr(s"coalesce(cnt1, 0L) * 400L div ${n}L")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("s_milli")).as("s_sum"))
      .select(col("doc_id"), col("n_tokens"),
        expr("s_sum div n_tokens").as("score_milli"))
  }
}
