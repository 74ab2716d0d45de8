package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.F

/** Deduplication operators for large-scale training-data pipelines:
  * exact, MinHash+LSH, SimHash, and exact n-gram Jaccard. All hashing is
  * SplitMix64-deterministic (graft.core.TextCore) so results are
  * partitioning-independent — required for idempotent resume.
  *
  * Scale notes (100-TB design):
  *  - exact dedup is one hash-aggregate on a 64-bit fingerprint (not the
  *    full text) — shuffle carries 16 bytes/row, not documents.
  *  - MinHash LSH: band keys explode r→b rows; the self-join is an
  *    equi-join on band key (bucket join), so candidate generation never
  *    compares across buckets. Hot buckets (boilerplate dups) are the
  *    skew case: candidates dedup on the id pair before the exact-Jaccard
  *    verify, and the band-key join can be salted like any hot cell.
  *  - SimHash: pigeonhole on maxHamming+1 disjoint bit chunks finds ALL
  *    pairs within the distance bound exactly (k+1 pigeonhole).
  */
object Dedup {

  /** Exact dedup on a 64-bit content fingerprint of `textCol`: keeper =
    * min(id) per group. Returns (fp, keeper_id, dup_count). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    F.ensureRegistered(df.sparkSession)
    df.select(col(idCol), F.fingerprint64(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_count"))
  }

  /** MinHash-LSH near-duplicate pairs, exact-verified.
    * Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= minJaccard,
    * restricted to pairs sharing at least one LSH band. */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 numPerm: Int = 64, bands: Int = 16, shingleK: Int = 3,
                 minJaccard: Double = 0.5): DataFrame = {
    F.ensureRegistered(df.sparkSession)
    val rows = numPerm / bands
    val sigs = graft.core.Par.fan(df.select(col(idCol).as("id"), col(textCol).as("text")))
      .withColumn("sig", F.minhash_sig(col("text"), numPerm, shingleK))
      .withColumn("band", explode(F.lsh_bands(col("sig"), bands, rows)))
      .select("id", "band")
    val a = sigs.withColumnRenamed("id", "id_a")
    val b = sigs.withColumnRenamed("id", "id_b")
    val cand = a.join(b, Seq("band"), "inner")
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // join texts back by id (narrow candidate pairs carry ids only)
    val texts = df.select(col(idCol).as("id"), col(textCol).as("text"))
    cand
      .join(texts.withColumnRenamed("id", "id_a").withColumnRenamed("text", "text_a"), "id_a")
      .join(texts.withColumnRenamed("id", "id_b").withColumnRenamed("text", "text_b"), "id_b")
      .withColumn("jaccard", F.jaccard_shingles(col("text_a"), col("text_b"), shingleK))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming.
    * Pigeonhole with maxHamming+1 chunks: if two 64-bit signatures differ
    * in at most m bits, they must agree EXACTLY on at least one of m+1
    * disjoint bit ranges — so bucketing each chunk value and equi-joining
    * per (chunk_i, chunk) is COMPLETE for any m, then exact-hamming verify.
    * (Round-1 version hardcoded 4 chunks, which is only complete for
    * m <= 3 and silently lost recall when called with m = 12.)
    * Note: candidate volume grows as chunks shrink — m <= 7 keeps chunks
    * >= 8 bits (256+ buckets per chunk index); larger m is exact but
    * approaches the all-pairs join and is rejected. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"simhashPairs: maxHamming must be in [0,7] (chunks of >=8 bits); got $maxHamming")
    F.ensureRegistered(df.sparkSession)
    val nChunks = maxHamming + 1
    // distribute 64 bits over nChunks ranges: first (64 % n) chunks get an
    // extra bit. offsets/widths computed once, inlined as literals.
    val widths = Array.tabulate(nChunks)(i => 64 / nChunks + (if (i < 64 % nChunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).init
    // shiftright() not `>>`: the `>>` token fails to parse inside array(...)
    val chunkExpr = (0 until nChunks).map { i =>
      val mask = if (widths(i) == 64) -1L else (1L << widths(i)) - 1
      s"shiftright(sim, ${offsets(i)}) & $mask"
    }.mkString("array(", ", ", ")")
    val h = graft.core.Par.fan(df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), F.simhash64(col("__t")).as("sim"))
    val chunked = h.select(col("id"), col("sim"),
      posexplode(expr(chunkExpr)).as(Seq("chunk_i", "chunk")))
    val a = chunked.select(col("id").as("id_a"), col("sim").as("sim_a"), col("chunk_i"), col("chunk"))
    val b = chunked.select(col("id").as("id_b"), col("sim").as("sim_b"), col("chunk_i"), col("chunk"))
    a.join(b, Seq("chunk_i", "chunk"), "inner")
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sim_a", "sim_b").distinct()
      .withColumn("hamming", F.hamming64(col("sim_a"), col("sim_b")))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Benchmark DECONTAMINATION — the training-pipeline gate that removes
    * corpus documents sharing any word k-shingle with an evaluation set
    * (the n-gram-overlap rule the GPT-3/C4-style pipelines apply before
    * training). 100-TB shape: corpus docs explode to (doc_id, shingle
    * hash) LONG rows — 8 bytes per shingle, never text — and LEFT-SEMI
    * join the benchmark's DISTINCT shingle set; eval sets are tiny
    * relative to the corpus, so AQE broadcasts the build side and the
    * corpus never shuffles. Output: the flagged doc_ids. */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    k: Int = 3): DataFrame = {
    F.ensureRegistered(corpus.sparkSession)
    val cs = graft.core.Par.fan(corpus.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"),
        explode(call_function("shingles64", col(textCol), lit(k))).as("sh"))
    val bs = benchmark.select(
      explode(call_function("shingles64", col(benchTextCol), lit(k))).as("sh"))
      .distinct()
    cs.join(bs, Seq("sh"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
  }

  /** Bloom-filter decontamination PREFILTER — the scale path beside the
    * exact semi-join of [[decontaminate]] (the classic benchmark-overlap
    * check, e.g. GPT-3 §C / Brown et al. 2020, run with a Bloom filter
    * when the benchmark shingle set is too hot to semi-join the whole
    * corpus against): the benchmark's word-k-shingle hashes set TWO bit
    * positions each (disjoint 64-bit-hash fields — deterministic, no
    * extra hash passes) in an mBits-wide filter packed as ≤ mBits/64
    * longs; the corpus probes the BROADCAST filter map-side and only the
    * surviving "maybe" shingles pay the exact confirm semi-join. Output
    * row per bloom-hit doc: (doc_id, bloom_hit=1, exact_hit ∈ {0,1}) —
    * exact_hit=0 rows are the filter's false positives, observable and
    * graded. Bloom membership is superset-of-exact by construction, so
    * the confirm join's input is the maybe-set, never the corpus.
    *
    * 100-TB shape: text → shingle hashes map-side; two ≤ mBits/64-row
    * broadcast joins + codegen'd bit tests; the exact semi-join (the
    * only benchmark-sized shuffle) shrinks to the maybe-set — the entire
    * point of the prefilter. */
  def decontaminateBloom(corpus: DataFrame, idCol: String, textCol: String,
                         benchmark: DataFrame, benchTextCol: String,
                         k: Int = 3, mBits: Int = 32768): DataFrame = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0 && mBits <= (1 << 17),
      s"decontaminateBloom: mBits $mBits must be a power of two in [64, 2^17]")
    val log2 = java.lang.Integer.numberOfTrailingZeros(mBits)
    val mask = (mBits - 1).toLong
    F.ensureRegistered(corpus.sparkSession)
    // probe positions: unsigned low log2 bits and the next log2 bits —
    // AND with a positive mask keeps both legs sign-safe on the signed
    // 64-bit shingle hash (== the unsigned mod/div law the oracle replays)
    def pos1(c: String) = s"($c & ${mask}L)"
    def pos2(c: String) = s"(($c & ${mask << log2}L) div ${mBits}L)"
    val cs = graft.core.Par.fan(corpus.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"),
        explode(call_function("shingles64", col(textCol), lit(k))).as("sh"))
    val bsh = benchmark.select(
      explode(call_function("shingles64", col(benchTextCol), lit(k))).as("sh"))
      .distinct()
      .transform(graft.io.Checkpoints.cached)
    val words = bsh
      .select(explode(array(expr(pos1("sh")), expr(pos2("sh")))).as("p"))
      .distinct()
      .select(expr("p div 64").as("w"), expr("shiftleft(1L, CAST(p % 64 AS INT))").as("b"))
      .groupBy("w").agg(expr("bit_or(b)").as("bw"))
    val probes = cs
      .withColumn("p1", expr(pos1("sh"))).withColumn("p2", expr(pos2("sh")))
      .withColumn("w1", expr("p1 div 64")).withColumn("w2", expr("p2 div 64"))
      .join(broadcast(words.select(col("w").as("w1"), col("bw").as("bw1"))), Seq("w1"), "left")
      .join(broadcast(words.select(col("w").as("w2"), col("bw").as("bw2"))), Seq("w2"), "left")
      .where(expr("coalesce(bw1 & shiftleft(1L, CAST(p1 % 64 AS INT)), 0L) != 0L") &&
        expr("coalesce(bw2 & shiftleft(1L, CAST(p2 % 64 AS INT)), 0L) != 0L"))
      .select(col("doc_id"), col("sh"))
    // OPTIMIZATION r6 (guide §2.4): the old bloomDocs/exactDocs pair
    // evaluated the whole shingle-explode + probe chain TWICE (once per
    // distinct, then joined). One left join against the (distinct)
    // benchmark set plus one per-doc max computes both flags in a single
    // pass — a doc's exact_hit is 1 iff ANY surviving shingle confirms,
    // exactly the old semi-join-then-distinct law.
    probes.join(bsh.withColumn("__e", lit(1L)), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(max(coalesce(col("__e"), lit(0L))).as("exact_hit"))
      .select(col("doc_id"), lit(1L).as("bloom_hit"), col("exact_hit"))
  }

  /** Exact n-gram (character k-gram) Jaccard similarity join within an
    * optional blocking column. TWO regimes, selected by measured
    * vocabulary size (one cheap count agg):
    *
    *  - SPARSE (|vocab| > denseVocabMax — the realistic web-corpus case):
    *    PREFIX FILTERING (PPJoin/ssjoin). Under a global gram order
    *    (rarity-first), two sets with J(A,B) >= t must share a gram within
    *    their first |X| - ceil(t*|X|) + 1 grams, so only prefix grams
    *    generate candidate pairs — the full posting-list self-join is
    *    quadratic in the frequency of common grams ("the", "ing"), the
    *    prefix join is quadratic only in RARE-gram frequency.
    *  - DENSE (|vocab| <= denseVocabMax): when the corpus vocabulary is
    *    tiny, every document shares nearly every gram and the prefix
    *    filter is vacuous — measured on this corpus the prefix join emits
    *    1.6e9 candidate rows for 1.25e7 possible pairs (each pair once per
    *    shared prefix gram), strictly WORSE than exhaustive pairing. The
    *    dense path encodes each doc's gram set as a ceil(V/64)-long BITMAP
    *    and runs a blocked triangle join (B(B+1)/2 bucket-pair keys — no
    *    single-key shuffle, no corpus broadcast) with codegen'd
    *    popcount-AND verification. Exhaustive within length-compatible
    *    pairs, so completeness is unconditional.
    *
    * Both regimes end in the identical exact-Jaccard verdict; output is
    * bit-identical. The Jaccard itself is computed exactly for the
    * surviving candidates. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, minJaccard: Double = 0.2,
                   blockCol: Option[String] = None,
                   denseVocabMax: Long = 4096L): DataFrame = {
    F.ensureRegistered(df.sparkSession)
    val norm = lower(regexp_replace(col(textCol), "\\s+", " "))
    // fan: single-split sources put the whole gram explode on one core
    // (guide §2.5); identity when the scan is already parallel
    val base = graft.core.Par.fan(df.select(col(idCol).as("id"),
      (blockCol.map(col).getOrElse(lit(1))).as("blk"), norm.as("norm"))
      .where(length(col("norm")) >= k))
    // Grams are carried as xxhash64 LONGS from the start, never strings:
    // 8 bytes/row through every shuffle, and a 64-bit collision can only
    // (a) merge two grams' df counts — df only drives the global ORDER,
    // any consistent total order keeps the prefix filter complete — or
    // (b) add a spurious intersection element, probability ~|A|·|B|/2^64
    // ≈ 1e-15 per pair (the same bound round-1 accepted for the verify).
    // cache (recomputable, spills to disk) rather than eager
    // localCheckpoint: on a real cluster a local checkpoint dies with its
    // executor and poisons the lineage, and the eager materialization of
    // the exploded gram table was the memory cliff behind the driver
    // bench's 554 s q23 (default-heap JVM).
    val grams = base.select(col("id"), col("blk"),
      explode(expr(
        s"""transform(array_distinct(transform(
              sequence(1, length(norm) - ${k - 1}), i -> substring(norm, i, $k))),
            s -> xxhash64(s))""")).as("gh"))
      .transform(graft.io.Checkpoints.cached)
    // global rarity order (document frequency asc, gram-hash asc — a
    // deterministic total order; PPJoin is complete under ANY total order)
    val gdf = grams.groupBy("gh").agg(count(lit(1)).as("df"))
    // regime selection: |vocab| is ONE cheap global agg over the cached
    // gram table — the only driver-side value the branch needs
    val vocabN = gdf.count()
    if (vocabN <= denseVocabMax) return denseJaccardJoin(
      grams, gdf, vocabN, minJaccard)
    // ONE per-doc aggregation replaces the round-4 row_number window, the
    // separate per-doc count agg, AND the separate verify-array agg: the
    // window was a full-gram-table sort shuffle (the bench's #1 cost), the
    // sorted array is the identical (df, gh) order materialized per doc by
    // a hash aggregate — prefix membership = the first
    // n - ceil(t·n) + 1 slots, and the verify array is the same array
    // with df projected away. One cache, one row per doc.
    val docs = grams.join(gdf, Seq("gh"))
      .groupBy("blk", "id")
      .agg(sort_array(collect_list(struct(col("df"), col("gh")))).as("sarr"))
      .withColumn("n", size(col("sarr")).cast("long"))
      .withColumn("plen",
        (col("n") - ceil(lit(minJaccard) * col("n")) + 1).cast("int"))
      .transform(graft.io.Checkpoints.cached)
    val prefix = docs.select(col("blk"), col("id"), col("n"),
      posexplode(slice(col("sarr"), lit(1), col("plen"))).as(Seq("pos", "e")))
      .select(col("blk"), col("id"), col("n"),
        (col("pos") + 1).as("rn"), col("e.gh").as("gh"))
    val pa = prefix.select(col("blk"), col("id").as("id_a"), col("gh"),
      col("rn").as("rn_a"), col("n").as("n_a"))
    val pb = prefix.select(col("blk"), col("id").as("id_b"), col("gh"),
      col("rn").as("rn_b"), col("n").as("n_b"))
    // PPJoin filters applied BEFORE the pair dedup (at sf0.1 they cut raw
    // candidates 4× and distinct pairs 2×):
    //  - length: J >= t forces t·|A| <= |B| <= |A|/t
    //  - positional: 1 + min(|A|-pos_A, |B|-pos_B) bounds the overlap from
    //    above; it must reach α = ceil(t/(1+t)·(|A|+|B|))
    val cand = pa.join(pb, Seq("blk", "gh"))
      .where(col("id_a") < col("id_b"))
      .where(col("n_b") >= lit(minJaccard) * col("n_a") &&
             col("n_a") >= lit(minJaccard) * col("n_b"))
      .where(lit(1) + least(col("n_a") - col("rn_a"), col("n_b") - col("rn_b")) >=
        ceil(lit(minJaccard / (1.0 + minJaccard)) * (col("n_a") + col("n_b"))))
      .select("id_a", "id_b").distinct()
    // exact verify per candidate pair via array_intersect on the per-doc
    // gram-hash arrays (codegen'd hash intersection) — O(|A|+|B|) per pair
    // with NO pair×gram shuffle. The arrays come from the SAME cached
    // per-doc aggregate that fed the prefix (df field projected away;
    // array_intersect ignores order). The per-doc gram table is O(corpus)
    // and must NEVER be unconditionally broadcast (round 1 did, and the
    // full-corpus broadcast × 2 was both a 100-TB impossibility and the
    // proximate OOM pressure in the driver bench). AQE still
    // auto-broadcasts when the table is genuinely under the threshold.
    val docGrams = docs.select(col("id"),
      expr("transform(sarr, x -> x.gh)").as("garr"), col("n"))
    cand
      .join(docGrams.select(col("id").as("id_a"), col("garr").as("ga"), col("n").as("n_a")), Seq("id_a"))
      .join(docGrams.select(col("id").as("id_b"), col("garr").as("gb"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("jaccard", col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Dense-vocabulary exact Jaccard join (see ngramJaccard): gram sets as
    * ceil(V/64)-long bitmaps, blocked triangle self-join, popcount-AND
    * verify. Every step is codegen'd array arithmetic; the triangle
    * blocking gives B(B+1)/2 join keys (never one hot key, never a corpus
    * broadcast) at a bitmap replication factor of B — with V <= 4096 a
    * bitmap is <= 512 B, so replication is bounded at ~8 KB/doc. */
  private def denseJaccardJoin(grams: DataFrame, gdf: DataFrame,
                               vocabN: Long, minJaccard: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = math.max(1L, (vocabN + 63) / 64).toInt
    // vocab ids 0..V-1: a window over the (tiny, <= denseVocabMax) gram
    // table; order by gh — any fixed order works, bitmaps only AND
    val gidx = gdf.select(col("gh"),
      (row_number().over(Window.orderBy(col("gh"))) - 1).cast("long").as("idx"))
    // the bitmap is carried as W FLAT LONG COLUMNS, not an array: the
    // verify below then runs entirely on primitive longs inside
    // whole-stage codegen (an array form pays per-pair element access /
    // recompute; measured 21-33 s vs 6 s for the flat form at sf0.1)
    val bits = grams.join(gidx, Seq("gh"))
      .select(col("blk"), col("id"), (col("idx") / 64).cast("int").as("w"),
        expr("shiftleft(1L, CAST(idx % 64 AS INT))").as("b"))
      .groupBy("blk", "id", "w").agg(expr("bit_or(b)").as("bw"))
      .groupBy("blk", "id")
      .agg(map_from_entries(collect_list(struct(col("w"), col("bw")))).as("m"))
      .select(col("blk") +: col("id") +: (0 until W).map(w =>
        expr(s"coalesce(element_at(m, $w), 0L)").as(s"w$w")): _*)
      .withColumn("n", expr((0 until W).map(w =>
        s"CAST(bit_count(w$w) AS BIGINT)").mkString(" + ")))
      // ONE bitmap row per doc, fed to BOTH join sides: cache it, or the
      // gram->bitmap chain (explode + two aggs + window join) is planned
      // and executed twice — measured 26 s vs 6 s at sf0.1
      .transform(graft.io.Checkpoints.cached)
    bits.count(): Unit // materialize, then the gram table can go
    // released early: `bits`' plan still references the gram table, so the
    // ContextCleaner would free it only with the result (q23 is memory-bound)
    graft.io.Checkpoints.release(grams)
    // triangle blocking: doc in bucket p is LEFT for keys (p, j >= p) and
    // RIGHT for keys (i <= p, p); every unordered pair meets on exactly
    // one (bi, bj) key (same-bucket dupes removed by id_a < id_b)
    val B = 16
    val bk = bits.withColumn("p", pmod(hash(col("id")), lit(B)))
    val left = bk.withColumn("bj", explode(expr(s"sequence(p, ${B - 1})")))
      .select(Seq(col("blk"), col("p").as("bi"), col("bj"),
        col("id").as("id_a"), col("n").as("n_a")) ++
        (0 until W).map(w => col(s"w$w").as(s"a$w")): _*)
    val right = bk.withColumn("bi", explode(expr("sequence(0, p)")))
      .select(Seq(col("blk"), col("bi"), col("p").as("bj"),
        col("id").as("id_b"), col("n").as("n_b")) ++
        (0 until W).map(w => col(s"w$w").as(s"b$w")): _*)
    left.join(right, Seq("blk", "bi", "bj"))
      // cross-bucket keys (bi < bj) see each unordered pair exactly once
      // in whichever orientation the buckets dictate; same-bucket keys
      // (bi = bj) see both orientations plus self-pairs — keep a < b there
      .where(col("bi") < col("bj") || col("id_a") < col("id_b"))
      // length filter: J >= t forces t*|A| <= |B| <= |A|/t (symmetric)
      .where(col("n_b") >= lit(minJaccard) * col("n_a") &&
             col("n_a") >= lit(minJaccard) * col("n_b"))
      // popcount-AND unrolled over the W word columns (W is known at plan
      // time): a flat codegen'd primitive-long sum, no array access
      .withColumn("inter", expr((0 until W).map(w =>
        s"CAST(bit_count(a$w & b$w) AS BIGINT)").mkString(" + ")))
      .withColumn("jaccard", col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      // normalize orientation (id_a < id_b) on the way out
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("jaccard"))
  }

  /** Near-duplicate CLUSTERS from a pair list: connected components with
    * cluster_id = min doc id in the component, plus the keep/drop verdict
    * a dedup pipeline actually consumes (keeper = the component's min id).
    * This is the step between pair generation (minhashLsh / simhashPairs /
    * ngramJaccard) and corpus filtering: near-duplication is transitive in
    * intent (A~B, B~C → one retained document), so pairs alone
    * under-delete.
    *
    * A projection of [[Polygonize.resolveLabels]] over the pair graph
    * (nodes = the distinct pair endpoints): below its edge threshold the
    * pairs are collected once and solved by driver union-find, above it
    * the distributed hash-to-min + pointer-jumping loop runs on reliable
    * checkpoints. Both return the component minimum. Only ids move, never
    * text. The pair edges are read twice, by the edge collect and by the
    * result's node set, so they are computed once into a
    * [[graft.io.Checkpoints.cached]] copy. The result owns that copy:
    * Spark releases its blocks once the result is unreachable.
    *
    * Returns (doc_id, cluster_id, is_keeper) for every doc in some pair;
    * docs with no near-dup pair are their own keepers by definition and
    * are left to the caller (anti-join), keeping the working set
    * proportional to the duplicate subgraph, not the corpus. */
  def clusters(pairs: DataFrame): DataFrame = {
    val edges = graft.io.Checkpoints.cached(
      pairs.select(col("id_a").as("a"), col("id_b").as("b")))
    val nodes = edges.select(col("a").as("node"))
      .union(edges.select(col("b").as("node"))).distinct()
    Polygonize.resolveLabels(nodes, edges)
      .select(col("node").as("doc_id"), col("rep").as("cluster_id"),
        when(col("rep") === col("node"), 1).otherwise(0).cast("int").as("is_keeper"))
  }

  /** C4's corpus-GLOBAL span dedup (Raffel et al. 2020 §2.2: "we
    * discarded all but one of any three-sentence span occurring more than
    * once in the data set"): every `spanLines`-line sliding window is
    * fingerprinted; a span occurrence is REMOVED iff its fingerprint
    * occurs more than once corpus-wide and it is not the keeper — the
    * lexicographically smallest (doc_id, start) occurrence. Output per
    * document: n_lines, n_spans, removed_spans, and kept_lines (lines
    * not covered by any removed span).
    *
    * 100-TB shape: span text is hashed MAP-SIDE inside one HOF — only
    * (doc_id, start, fp) 24-byte rows ever shuffle, never text. One hash
    * agg keyed by the 8-byte fp picks count + keeper (min struct), one
    * equi-join on fp marks occurrences, two per-doc aggs close it. The
    * boilerplate-span hot key (a span duplicated millions of times) costs
    * O(occurrences) join rows — linear, no pair explosion, saltable like
    * any hot cell. */
  def spanDedup(df: DataFrame, idCol: String, linesCol: String,
      spanLines: Int = 3): DataFrame = {
    F.ensureRegistered(df.sparkSession)
    val docs = graft.core.Par.fan(df.select(col(idCol).cast("long").as("doc_id"),
      col(linesCol).as("lines"),
      size(col(linesCol)).cast("long").as("n_lines")))
    val spans = docs
      .where(col("n_lines") >= spanLines)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, CAST(n_lines AS INT) - $spanLines), i ->
              struct(CAST(i AS BIGINT) AS start,
                fingerprint64(array_join(slice(lines, i + 1, $spanLines), ' ')) AS fp))"""))
        .as("s"))
      .select(col("doc_id"), col("s.start").as("start"), col("s.fp").as("fp"))
      // feeds BOTH the keeper agg and the removal join below — cache so
      // the span explode + fingerprint runs once (OPTIMIZATION r6)
      .transform(graft.io.Checkpoints.cached)
    val keepers = spans.groupBy("fp").agg(
      count(lit(1)).as("cnt"),
      min(struct(col("doc_id"), col("start"))).as("keeper"))
    val removed = spans.join(keepers, "fp")
      .where(col("cnt") > 1 &&
        !(col("doc_id") === col("keeper.doc_id") &&
          col("start") === col("keeper.start")))
      .select("doc_id", "start")
      // feeds the removed-span count AND the covered-line agg (r6)
      .transform(graft.io.Checkpoints.cached)
    val remAgg = removed.groupBy("doc_id")
      .agg(count(lit(1)).as("removed_spans"))
    val covAgg = removed
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (spanLines - 1))).as("li"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_cov"))
    docs.join(remAgg, Seq("doc_id"), "left")
      .join(covAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        greatest(col("n_lines") - (spanLines - 1), lit(0L)).as("n_spans"),
        coalesce(col("removed_spans"), lit(0L)).as("removed_spans"),
        (col("n_lines") - coalesce(col("n_cov"), lit(0L))).as("kept_lines"))
  }

  /** Cross-document EXACT-SUBSTRING repetition — the detection half of the
    * ExactSubstr dedup recipe (public: Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", which removes verbatim
    * substrings >= 50 chars occurring in more than one document; their
    * tool is a suffix array, ours is the distributed analog: strided char
    * k-grams, corpus-global document frequency, per-doc repetition
    * census). A k-gram starting every `stride` chars guarantees any
    * verbatim run of length >= k + stride - 1 contributes at least one
    * shared gram, so long copies can never hide between sample points.
    *
    * 100-TB shape: the gram table is (doc_id, hash64) LONG pairs — 16 B
    * per row, the text never shuffles; one distinct + one hash agg find
    * the >= 2-doc grams; one equi-join back (the repeated-gram side is a
    * tiny fraction of the vocabulary — AQE broadcasts it) and one doc agg
    * produce the census. Output: (doc_id, n_grams, n_repeated), docs too
    * short for a single gram included with zeros. */
  def substrRepetition(docs: DataFrame, idCol: String, normCol: String,
                       k: Int = 32, stride: Int = 16): DataFrame = {
    F.ensureRegistered(docs.sparkSession)
    val d = graft.core.Par.fan(
      docs.select(col(idCol).as("doc_id"), col(normCol).as("norm")))
    val g = d.select(col("doc_id"), explode(expr(
      s"""CASE WHEN length(norm) < $k THEN CAST(array() AS ARRAY<BIGINT>)
          ELSE transform(sequence(0, CAST((length(norm) - $k) div $stride AS INT)),
            __k -> hash64(substring(norm, __k * $stride + 1, $k))) END""")).as("h"))
    val rep = g.select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("ndocs"))
      .where(col("ndocs") >= 2).select(col("h"), lit(1L).as("is_rep"))
    val flags = g.join(rep, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("is_rep"), lit(0L))).as("n_repeated"))
    d.select("doc_id").join(flags, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"))
  }

  /** ExactSubstr dedup REMOVAL (Lee et al. 2021 §4.2 — the action their
    * census motivates: every duplicated substring keeps exactly ONE
    * occurrence, all others are cut out of the corpus). Distributed law:
    * the doc tiles into disjoint char-`k` spans (span i = chars
    * [i·k, i·k + k); the short tail is always kept); a span is REMOVED
    * iff an identical span occurs earlier in the corpus under the total
    * order (doc_id, span_idx) — the global first occurrence is the
    * keeper, within-doc repeats dedup too.
    *
    * 100-TB shape: the span table is (hash64, packed doc·2^20+idx) LONG
    * pairs — text never shuffles; one hash agg finds each duplicated
    * hash's first occurrence (singleton hashes never leave the agg); one
    * equi-join marks removed spans; one doc agg collects the removed
    * index set (bounded by spans-per-doc); the cleaned text is rebuilt
    * MAP-SIDE on the original row from that index set, and its
    * fingerprint grades content, not just counts. The packed BIGINT
    * keeper key bounds doc_id < 2^43 — a struct-min carries the law past
    * that. Output: (doc_id, n_spans, n_removed, kept_chars, clean_fp). */
  def substrDedup(docs: DataFrame, idCol: String, normCol: String,
                  k: Int = 32): DataFrame = {
    F.ensureRegistered(docs.sparkSession)
    val d = docs.select(col(idCol).as("doc_id"), col(normCol).as("norm"))
      .withColumn("nsp", expr(s"length(norm) div $k"))
    // fan only the explode branch: `d` also feeds the final join (whose map
    // work runs post-shuffle anyway); fanning `d` itself would re-run the
    // repartition once per consumer
    val g = graft.core.Par.fan(d.where(col("nsp") >= 1))
      .select(col("doc_id"), col("nsp"), explode(expr(
        s"transform(sequence(0, CAST(nsp - 1 AS INT)), __i -> named_struct(" +
          s"'spi', CAST(__i AS BIGINT), " +
          s"'h', hash64(substring(norm, __i * $k + 1, $k))))")).as("sp"))
      .select(col("doc_id"), col("sp.spi").as("spi"), col("sp.h").as("h"),
        (col("doc_id") * 1048576L + col("sp.spi")).as("pk"))
    val keeper = g.groupBy("h")
      .agg(min(col("pk")).as("pk0"), count(lit(1)).as("nocc"))
      .where(col("nocc") >= 2).select("h", "pk0")
    val removed = g.join(keeper, Seq("h")).where(col("pk") =!= col("pk0"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("spi"))).as("rm"),
        count(lit(1)).as("n_removed"))
    d.join(removed, Seq("doc_id"), "left")
      .withColumn("rm", coalesce(col("rm"), expr("CAST(array() AS ARRAY<BIGINT>)")))
      .withColumn("clean", expr(
        s"""concat(
           CASE WHEN nsp = 0 THEN ''
           ELSE array_join(transform(sequence(0, CAST(nsp - 1 AS INT)),
             __i -> CASE WHEN array_contains(rm, CAST(__i AS BIGINT)) THEN ''
                    ELSE substring(norm, __i * $k + 1, $k) END), '') END,
           substring(norm, CAST(nsp AS INT) * $k + 1))"""))
      .select(col("doc_id"), col("nsp").as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        length(col("clean")).cast("long").as("kept_chars"),
        // hash64, NOT fingerprint64: the fingerprint law re-normalizes
        // (trim + whitespace collapse), which would mask the seam
        // artifacts removal creates (leading-space tails, doubled
        // spaces); hash64 grades the raw cleaned bytes
        call_function("hash64", col("clean")).as("clean_fp"))
  }
}
