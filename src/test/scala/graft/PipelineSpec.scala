package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.TestBus
import org.apache.spark.sql.functions._
import graft.functions.F
import graft.operators.{Ann, Dedup, Media, Quality}
import graft.synth.Synth
import graft.core.TextCore

/** Dedup / ANN / media / invariant suites. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docsTable = spark.read.parquet(s"${TestSpark.SfSmall}/documents.parquet")

  test("exact dedup finds injected duplicates, keeper = min id") {
    val d = docsTable.select(col("doc_id"), col("text"))
    val input = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
    val out = Dedup.exact(input, "doc_id", "text").collect()
    assert(out.length == 500)
    assert(out.forall(_.getLong(2) == 2)) // every text exactly twice
    assert(out.forall(_.getLong(1) < 1000000)) // keeper is the original
  }

  test("minhash LSH pairs are a subset of true-jaccard pairs and recall high-sim pairs") {
    val docs = docsTable.limit(120).select(col("doc_id"), col("text"))
    val lsh = Dedup.minhashLsh(docs, "doc_id", "text",
      numPerm = 64, bands = 16, shingleK = 3, minJaccard = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force true jaccard on driver
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val sh = rows.map { case (id, t) => id -> TextCore.wordShingles(t, 3) }.toMap
    val truePairs = (for {
      (a, _) <- rows; (b, _) <- rows if a < b
      j = TextCore.jaccard(sh(a), sh(b)) if j >= 0.3
    } yield (a, b)).toSet
    assert(lsh.subsetOf(truePairs), s"LSH emitted false positives: ${lsh -- truePairs}")
    // recall on strongly-similar pairs (j >= 0.5 with 16 bands of 4 rows:
    // p(hit) = 1-(1-j^4)^16 >= 0.65; data has few such pairs, require all
    // j>=0.6 pairs found)
    val strong = (for {
      (a, _) <- rows; (b, _) <- rows if a < b
      j = TextCore.jaccard(sh(a), sh(b)) if j >= 0.6
    } yield (a, b)).toSet
    assert(strong.subsetOf(lsh), s"missed strong pairs: ${strong -- lsh}")
  }

  test("simhash pigeonhole is exhaustive for hamming <= 3") {
    val d = docsTable.limit(150).select(col("doc_id"), col("text"))
    // inject near-dups: same text + one extra token -> small hamming
    val input = d.unionByName(
      d.withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", concat(col("text"), lit(" zz"))))
    val got = Dedup.simhashPairs(input, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = input.collect().map(r => (r.getLong(0), r.getString(1)))
    val hs = rows.map { case (id, t) => id -> TextCore.simhash64(t) }.toMap
    val brute = (for {
      (a, _) <- rows; (b, _) <- rows if a < b
      if TextCore.hamming64(hs(a), hs(b)) <= 3
    } yield (a, b)).toSet
    assert(got == brute, s"got ${got.size} vs brute ${brute.size}")
    assert(brute.nonEmpty, "test vacuous: no near pairs")
  }

  test("simhash pigeonhole is exhaustive at q25's parameters (maxHamming = 6)") {
    // round-1 regression: the 4-chunk pigeonhole was only complete for
    // hamming <= 3 but was called with 12; now chunks = maxHamming+1.
    val d = docsTable.limit(150).select(col("doc_id"), col("text"))
    val input = d.unionByName(
      d.withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", concat(col("text"), lit(" zz qq"))))
    val got = Dedup.simhashPairs(input, "doc_id", "text", maxHamming = 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = input.collect().map(r => (r.getLong(0), r.getString(1)))
    val hs = rows.map { case (id, t) => id -> TextCore.simhash64(t) }.toMap
    val brute = (for {
      (a, _) <- rows; (b, _) <- rows if a < b
      if TextCore.hamming64(hs(a), hs(b)) <= 6
    } yield (a, b)).toSet
    assert(got == brute, s"got ${got.size} vs brute ${brute.size}")
    // vacuity guard: require pairs in the 4..6 band that the old 4-chunk
    // scheme could have missed
    val band46 = (for {
      (a, _) <- rows; (b, _) <- rows if a < b
      h = TextCore.hamming64(hs(a), hs(b)) if h >= 4 && h <= 6
    } yield (a, b)).toSet
    assert(band46.nonEmpty, "test vacuous: no pairs with hamming in [4,6]")
    assert(Dedup.simhashPairs(input, "doc_id", "text", maxHamming = 6)
      .where(col("hamming") >= 4).count() == band46.size)
  }

  test("ngram jaccard join matches driver brute force") {
    val docs = docsTable.limit(80).select(col("doc_id"), col("text"), col("lang"))
    val got = Dedup.ngramJaccard(docs, "doc_id", "text", k = 3, minJaccard = 0.5,
      blockCol = Some("lang"))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // both regimes must agree bit-for-bit (this corpus's vocab <= 4096, so
    // the default ran the dense bitmap path; denseVocabMax = 0 forces the
    // sparse PPJoin path)
    val sparse = Dedup.ngramJaccard(docs, "doc_id", "text", k = 3, minJaccard = 0.5,
      blockCol = Some("lang"), denseVocabMax = 0L)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == sparse, "dense and sparse regimes disagree")
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val grams = rows.map { case (id, t, _) => id -> TextCore.charNgrams(t, 3) }.toMap
    val brute = (for {
      (a, _, la) <- rows; (b, _, lb) <- rows if a < b && la == lb
      ga = grams(a); gb = grams(b)
      j = ga.intersect(gb).size.toDouble / ga.union(gb).size if j >= 0.5
    } yield (a, b)).toSet
    assert(got == brute)
  }

  test("ANN brute topk == driver brute force; LSH candidates are exact-in-bucket") {
    val e = spark.read.parquet(s"${TestSpark.SfSmall}/embeddings.parquet")
    val got = Ann.bruteTopK(e.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
      e, "vec_id", "embedding", k = 3)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val all = e.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def fdot(a: Array[Float], b: Array[Float]): Long =
      a.zip(b).map { case (x, y) =>
        math.floor(x.toDouble * 1e6).toLong * math.floor(y.toDouble * 1e6).toLong
      }.sum
    val brute = all.filter(_._1 % 100 == 0).flatMap { case (q, qv) =>
      all.filter(_._1 != q).map { case (d, dv) => (d, fdot(qv, dv)) }
        .sortBy { case (d, s) => (-s, d) }.take(3).zipWithIndex
        .map { case ((d, _), i) => (q, i + 1, d) }
    }.toSet
    assert(got == brute)

    val lsh = Ann.lshTopK(e.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
      e, "vec_id", "embedding", k = 3, bands = 2, rowsPerBand = 4)
      .select("query_id", "rank").collect()
    assert(lsh.nonEmpty) // recall < 1 by design; plumbing must produce rows
  }

  test("banded LSH ANN recall vs brute force at q45 parameters") {
    // deterministic planes + deterministic data → recall is a constant;
    // pin a floor so a regression in bucketing or candidate dedup shows up
    val e = spark.read.parquet(s"${TestSpark.SfSmall}/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Ann.bruteTopK(e.where(col("vec_id") % 50 === 0), "vec_id", "embedding",
      e, "vec_id", "embedding", k = 5))
    val lsh = pairs(Ann.lshTopK(e.where(col("vec_id") % 50 === 0), "vec_id", "embedding",
      e, "vec_id", "embedding", k = 5, bands = 4, rowsPerBand = 8))
    val recall = (brute intersect lsh).size.toDouble / brute.size
    info(f"lsh recall at q45 params: $recall%.3f (${(brute intersect lsh).size}/${brute.size})")
    // measured 0.82 on this deterministic corpus (near-orthogonal vectors —
    // the hostile case for sign-LSH; clustered real corpora do better)
    assert(recall >= 0.6, f"banded-LSH recall collapsed: $recall%.3f")
  }

  test("cosineDupPairs: LSH-bucketed pair set == brute force on the q43 derived corpus") {
    val e = spark.read.parquet(s"${TestSpark.SfSmall}/embeddings.parquet")
    val base = e.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val pert = e.select((col("vec_id") + lit(10000000L)).as("vec_id"),
      expr("transform(sequence(1, 64), i -> " +
        "(floor(CAST(element_at(embedding, i) AS DOUBLE) * 1000.0) " +
        "+ ((vec_id * 31 + i) % 13) - 6) / 1000.0)").as("v"))
    val corpus = base.unionByName(pert)
    val got = Ann.cosineDupPairs(corpus, "vec_id", "v",
      minCosNum = 4L, minCosDen = 5L, fixedScale = 1000)
      .select("id_a", "id_b", "dot_fp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = corpus.select(col("vec_id").as("id_a"), col("v").as("va"))
    val b = corpus.select(col("vec_id").as("id_b"), col("v").as("vb"))
    def fd(x: String, y: String) = F.fixed_dot(col(x), col(y), 1000)
    val brute = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("dot_fp", fd("va", "vb"))
      .withColumn("na2", fd("va", "va")).withColumn("nb2", fd("vb", "vb"))
      .where(col("dot_fp") > 0 &&
        col("dot_fp") * col("dot_fp") * 25 >= col("na2") * col("nb2") * 16)
      .select("id_a", "id_b", "dot_fp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(brute.nonEmpty, "test vacuous: no qualifying pairs")
    // every planted twin pair must qualify (cos ≈ 0.9999 >> 0.8)
    assert(brute.size >= e.count(), s"expected >= ${e.count()} planted pairs, got ${brute.size}")
    assert(got == brute, s"bucketed ${got.size} vs brute ${brute.size}; " +
      s"missed: ${(brute -- got).take(3)}; extra: ${(got -- brute).take(3)}")
  }

  test("cosineDupPairs overflow guard is tight: large-but-exact norms pass, wrapping ones raise") {
    import spark.implicits._
    // one large-norm vector (na2 = 64·3500² ≈ 7.8e8, outside the old
    // per-factor sqrt(Long.Max)/num bound) paired with a small parallel
    // one: dot ≈ 2.2e7 and every product in the regrouped comparison is
    // exactly representable — cos = 1, so the pair must be REPORTED, not
    // aborted the way the old guard did
    val big = Seq(
      (1L, Seq.fill(64)(3.5)),
      (2L, Seq.fill(64)(0.1))).toDF("vec_id", "v")
    val ok = graft.operators.Ann.cosineDupPairs(big, "vec_id", "v",
      minCosNum = 4L, minCosDen = 5L, fixedScale = 1000)
      .collect()
    assert(ok.length == 1 && ok(0).getLong(0) == 1L && ok(0).getLong(1) == 2L)
    // elements large enough that na2·num · nb2·num genuinely wraps Long
    // (na2 = 64 * (3e6)^2 ≈ 5.8e14; product ≈ 5e30): must raise, not wrap
    val wrap = Seq(
      (1L, Seq.fill(64)(3000.0)),
      (2L, Seq.fill(64)(3000.1))).toDF("vec_id", "v")
    val e2 = intercept[Exception] {
      graft.operators.Ann.cosineDupPairs(wrap, "vec_id", "v",
        minCosNum = 4L, minCosDen = 5L, fixedScale = 1000).collect()
    }
    // pin that the raise comes from the overflow guard specifically, not
    // some unrelated analysis/runtime error
    assert(e2.getMessage != null && e2.getMessage.contains("would wrap Long"))
  }

  test("span-sequence invariant: pipeline output reconstructs input spans exactly") {
    val docs = graft.io.Checkpoints.cached(Synth.docs(spark, TestSpark.SfSmall))
    // a pipeline: explode -> enrich (tile assign + lang of text) -> reassemble
    val exploded = docs
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
      .withColumn("enrich", when(col("span.kind") === "text",
        F.cell_encode(F.st_x(F.st_geomfromwkt(col("span.text"))),
          F.st_y(F.st_geomfromwkt(col("span.text"))), lit(8))).otherwise(lit(null)))
    val reassembled = exploded
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("span.offset").as("offset"),
        col("span.kind").as("kind"), col("span.text").as("text"),
        col("span.media_ref").as("media_ref")))).as("ordered"))
      .select(col("doc_id"),
        expr("transform(ordered, s -> struct(s.kind as kind, s.text as text, s.media_ref as media_ref, s.offset as offset))").as("spans"))
    val a = docs.select(col("doc_id"), to_json(col("spans")).as("j_in"))
    val b = reassembled.select(col("doc_id"), to_json(col("spans")).as("j_out"))
    val joined = a.join(b, Seq("doc_id"), "full_outer")
    val bad = joined.where(col("j_in").isNull || col("j_out").isNull ||
      col("j_in") =!= col("j_out")).count()
    assert(bad == 0, s"$bad docs violate span-sequence invariant")
  }

  test("media resolve + features: every media_ref resolves, features computed") {
    val docs = Synth.docs(spark, TestSpark.SfSmall)
    val tiles = Synth.tiles(spark, 8)
    val resolved = Media.resolveMedia(docs, tiles)
    val n = resolved.count()
    val unresolved = resolved.where(col("pixels").isNull).count()
    assert(n > 0 && unresolved == 0, s"$unresolved of $n media refs unresolved")
    val feats = Media.mediaFeatures(resolved)
      .select("doc_id", "offset", "px_mean", "px_min", "px_max", "thumb8")
    val r = feats.limit(5).collect()
    assert(r.forall(row => row.getSeq[Double](5).length == 64))
    assert(r.forall(row => row.getDouble(3) <= row.getDouble(2) && row.getDouble(2) <= row.getDouble(4)))
  }

  test("decode stub: deterministic fixed-shape output from binary") {
    val df = Seq((1L, Array[Byte](1, 2, 3)), (2L, Array[Byte](1, 2, 3)), (3L, Array[Byte](9)))
      .toDF("id", "bin")
    val out = graft.operators.Media.decodeStub(df, "bin").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](2)))
    assert(out.forall(_._2.length == 16))
    assert(out(0)._2 == out(1)._2) // same bytes -> same decode
  }

  test("PNG codec: real compressed binary (magic + deflate), lossless distributed round-trip") {
    val tiles = graft.synth.Synth.tiles(spark, 2).limit(6)
    val enc = graft.operators.Media.encodePng(tiles)
    val rows = enc.select("tx", "ty", "png").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val b = r.getAs[Array[Byte]]("png")
      // PNG signature: 89 50 4E 47 0D 0A 1A 0A
      assert((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      assert(b.length < 64 * 64, "should be DEFLATE-compressed below raw size")
    }
    val back = graft.operators.Media.decodePng(enc)
      .select("tx", "ty", "pixels").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Double](2))).toMap
    for (((tx, ty), px) <- back) {
      val want = Array.tabulate(64 * 64)(i =>
        ((tx * 131 + ty * 173 + (i % 64) * 7 + (i / 64) * 11 + 2) % 256).toDouble)
      assert(px == want.toSeq, s"tile ($tx,$ty)")
    }
  }

  test("TIFF codec: real container (II*/MM* magic), lossless distributed round-trip") {
    val tiles = graft.synth.Synth.tiles(spark, 2).limit(6)
    val enc = graft.operators.Media.encodeTiff(tiles)
    val rows = enc.select("tx", "ty", "tiff").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val b = r.getAs[Array[Byte]]("tiff")
      // TIFF magic: "II" 0x2A little-endian or "MM" 0x2A big-endian
      val le = b(0) == 'I' && b(1) == 'I' && (b(2) & 0xff) == 42 && b(3) == 0
      val be = b(0) == 'M' && b(1) == 'M' && b(2) == 0 && (b(3) & 0xff) == 42
      assert(le || be, "not a TIFF header")
    }
    val back = graft.operators.Media.decodeTiff(enc)
      .select("tx", "ty", "pixels").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Double](2))).toMap
    for (((tx, ty), px) <- back) {
      val want = Array.tabulate(64 * 64)(i =>
        ((tx * 131 + ty * 173 + (i % 64) * 7 + (i / 64) * 11 + 2) % 256).toDouble)
      assert(px == want.toSeq, s"tile ($tx,$ty)")
    }
  }

  test("JPEG codec: real lossy container (FFD8 magic), shape exact, error within DCT bound") {
    val tiles = graft.synth.Synth.tiles(spark, 2).limit(6)
    val enc = graft.operators.Media.encodeJpeg(tiles.withColumn("orig", col("pixels")))
    val rows = enc.select("tx", "ty", "jpeg").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val b = r.getAs[Array[Byte]]("jpeg")
      // JPEG SOI marker FF D8, JFIF/raw FF at byte 2
      assert((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8, "not a JPEG SOI")
    }
    val back = graft.operators.Media.decodeJpeg(enc)
      .select("tx", "ty", "pixels").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Double](2))).toMap
    for (((tx, ty), px) <- back) {
      val want = Array.tabulate(64 * 64)(i =>
        ((tx * 131 + ty * 173 + (i % 64) * 7 + (i / 64) * 11 + 2) % 256).toDouble)
      assert(px.length == 64 * 64, s"tile ($tx,$ty) shape")
      val maxErr = px.toArray.zip(want).map { case (a, b) => math.abs(a - b) }.max
      // quality 1.0 leaves only DCT rounding: measured max 1, bound 2
      assert(maxErr <= 2.0, s"tile ($tx,$ty) maxErr=$maxErr exceeds DCT bound")
    }
  }

  test("repetition signals: hand-checked docs incl. empty and single-word") {
    val docs = Seq(
      (1L, "a b a b c"), // 5 words, 3 distinct, top bigram "a b" x2 of 4
      (2L, ""),          // empty -> all zeros
      (3L, "x"),         // single word: no bigrams, no dups
      (4L, "w w w w")    // 4 words 1 distinct; "w w" x3 of 3
    ).toDF("doc_id", "text")
    val out = graft.operators.Quality.repetitionSignals(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(1L) == ((5L, 3L, 400L, 2L, 500L)))
    assert(out(2L) == ((0L, 0L, 0L, 0L, 0L)))
    assert(out(3L) == ((1L, 1L, 0L, 0L, 0L)))
    assert(out(4L) == ((4L, 1L, 750L, 3L, 1000L)))
  }

  test("c4 line filter: every rule fires on hand-built docs") {
    val docs = Seq(
      // 4 lines, 3 keepable -> keep; cleaned = "one two three." x3 + 2 joiners
      (1L, Seq("one two three.", "no punct here", "four five six!", "is it seven?")),
      // only 2 lines survive -> drop (min kept lines)
      (2L, Seq("one two three.", "four five six.", "too short.")),
      // blocklist marker anywhere -> drop even with 3 kept lines
      (3L, Seq("one two three.", "four five six.", "is it seven?", "x lorem ipsum y")),
      (4L, Seq("a brace { here.", "four five six.", "is it seven?", "eight nine ten.")),
      (5L, Seq.empty[String])
    ).toDF("doc_id", "lines")
    val out = graft.operators.Quality.c4LineFilter(docs, "doc_id", "lines")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))).toMap
    assert(out(1L) == ((4L, 3L, "keep", 14L * 2 + 12L + 2)))
    assert(out(2L) == ((3L, 2L, "drop", 14L * 2 + 1)))
    assert(out(3L) == ((4L, 3L, "drop", 14L * 2 + 12L + 2)))
    // the '{' line itself ends in '.' and has >= 3 words, so it is KEPT
    // as a line (15 chars) while dooming the document
    assert(out(4L) == ((4L, 4L, "drop", 15L + 14L + 12L + 15L + 3)))
    assert(out(5L) == ((0L, 0L, "drop", 0L)))
  }

  test("span dedup: keeper, overlap union, case-fold, short docs") {
    val docs = Seq(
      (1L, Seq("aa bb", "cc dd", "ee ff", "gg hh")), // keeper of span BCD
      (2L, Seq("cc dd", "ee ff", "gg hh")),          // its only span dup of doc1@1
      (3L, Seq("zz", "zz", "zz", "zz", "zz")),       // self-dup: 3 identical spans
      (4L, Seq("uu", "vv")),                          // too short for any span
      (5L, Seq("pp", "qq", "rr")),
      (6L, Seq("PP", "QQ", "RR"))                     // dup of doc5 modulo case
    ).toDF("doc_id", "lines")
    val out = graft.operators.Dedup.spanDedup(docs, "doc_id", "lines")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) == ((4L, 2L, 0L, 4L)))
    assert(out(2L) == ((3L, 1L, 1L, 0L)))
    // spans at 1 and 2 removed; covered lines {1,2,3} U {2,3,4} = 4 lines
    assert(out(3L) == ((5L, 3L, 2L, 1L)))
    assert(out(4L) == ((2L, 0L, 0L, 2L)))
    assert(out(5L) == ((3L, 1L, 0L, 3L)))
    assert(out(6L) == ((3L, 1L, 1L, 0L)))
  }

  test("gopher rules: each rule flips the verdict independently") {
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, s"$base the of"),                                            // keep
      (2L, "the of tiny doc"),                                          // word count
      (3L, (1 to 60).map(_ => "extraordinarily").mkString(" ") + " the of"), // mean len
      (4L, (1 to 60).map(_ => "42").mkString(" ") + " the of"),         // alpha frac
      (5L, base),                                                       // stop words
      (6L, s"$base the of " + (1 to 10).map(_ => "##").mkString(" "))   // symbols
    ).toDF("doc_id", "text")
    val out = graft.operators.Quality.gopherFilter(docs, "doc_id", "text")
      .select("doc_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "keep", 2L -> "drop", 3L -> "drop",
      4L -> "drop", 5L -> "drop", 6L -> "drop"))
  }

  test("sq8: endpoint codes 0/255 round-trip exactly; midpoint error is the affine law's") {
    val vecs = Seq(
      (1L, Array.fill(4)(0.0f)),
      (2L, Array.fill(4)(1.0f)),
      (3L, Array.fill(4)(0.5f))
    ).toDF("vec_id", "embedding")
    val out = graft.operators.Ann.sq8(vecs, "vec_id", "embedding", dim = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // lo = (0+2)*2^20 = 2097152, hi = (1+2)*2^20 = 3145728 on every dim
    assert(out(1L) == ((0L, 0L)))                       // code 0, exact recon
    assert(out(2L) == ((255L * (1 + 2 + 3 + 4), 0L)))   // code 255, exact recon
    // q = 2621440; code = (524288*255) div 2^20 = 127;
    // recon = lo + (127*2^20) div 255 = 2619383; err = 4*2057^2
    assert(out(3L) == ((127L * (1 + 2 + 3 + 4), 4L * 2057L * 2057L)))
  }

  test("kmeans assignment is self-consistent with its final centroids") {
    val emb = spark.read.parquet(s"${TestSpark.SfSmall}/embeddings.parquet")
    val (assign, cents) = Ann.kmeans(emb, "vec_id", "embedding", k = 8, iters = 2, dim = 64)
    val rows = assign.collect()
    assert(rows.length == 500 && cents.length == 8)
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 8))
    // driver replica: quantize, argmin over final centroids, same tie rule
    val qv = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray
        .map(x => math.floor((x.toDouble + 2.0) * 1048576.0).toLong)).toMap
    rows.foreach { r =>
      val v = qv(r.getLong(0))
      val d2s = cents.map(c => v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
      val best = d2s.indexOf(d2s.min)
      assert(r.getLong(1) == best && r.getLong(2) == d2s.min, s"vec ${r.getLong(0)}")
    }
  }

  test("IVF top-k recall vs exact L2 top-5 (nprobe 4 of 8 cells)") {
    val emb = spark.read.parquet(s"${TestSpark.SfSmall}/embeddings.parquet")
    val got = Ann.ivfTopK(emb, "vec_id", "embedding",
      queryPred = col("vec_id") % 50 === 0, k = 5, nprobe = 4)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val qv = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray
        .map(x => math.floor((x.toDouble + 2.0) * 1048576.0).toLong)).toMap
    val queries = qv.keys.filter(_ % 50 == 0).toSeq
    assert(got.keySet == queries.toSet) // every query answered
    val recalls = queries.map { q =>
      val exact = qv.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          (id, v.zip(qv(q)).map { case (a, b) => (a - b) * (a - b) }.sum) }
        .sortBy { case (id, d2) => (d2, id) }.take(5).map(_._1).toSet
      (got(q) & exact).size / 5.0
    }
    val mean = recalls.sum / recalls.size
    // the corpus is near-uniform in 64-dim (label purity ~0.17 — labels
    // are not geometric clusters), the hardest case for IVF: recall
    // tracks the probe fraction. Measured 0.76 at nprobe=4/8 on both
    // sf0.001 and sf0.01; pin a floor that still fails on a broken probe
    assert(mean >= 0.6, s"mean IVF recall $mean < 0.6 (per-query: $recalls)")
  }

  test("dedup clusters: chain components converge, keeper = min id") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    // the driver path: the bounded edge collect writes no shuffle (the
    // distributed loop's joins and convergence probes each write some)
    val (built, shuffles) = TestBus.countShuffles(spark.sparkContext)(Dedup.clusters(pairs))
    assert(shuffles == 0, s"building clusters wrote $shuffles shuffles")
    val out = built.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 10L, 11L))
    for (id <- Seq(1L, 2L, 3L, 4L, 5L)) assert(out(id)._1 == 1L, s"doc $id")
    for (id <- Seq(10L, 11L)) assert(out(id)._1 == 10L, s"doc $id")
    assert(out.collect { case (id, (_, 1)) => id }.toSet == Set(1L, 10L))
  }

  test("dedup clusters: the cached pair edges are released with the result") {
    val sc = spark.sparkContext
    val before = TestBus.rddsWithBlocks(sc)
    // built and consumed inside a method, so no local keeps the result alive
    def run(): Set[Int] = {
      val out = Dedup.clusters(Seq((2L, 1L), (2L, 3L)).toDF("id_a", "id_b"))
      assert(spark.sharedState.cacheManager.isEmpty, "the edges must not be a CacheManager entry")
      assert(out.count() == 3L)
      TestBus.rddsWithBlocks(sc) -- before
    }
    val held = run()
    assert(held.nonEmpty, "the pair edges are cached while the result is live")
    var left = held
    var tries = 0
    while (left.nonEmpty && tries < 100) {
      System.gc(); Thread.sleep(50)
      left = held & TestBus.rddsWithBlocks(sc)
      tries += 1
    }
    assert(left.isEmpty, s"blocks of RDDs $left outlive the result")
  }

  test("decontaminateBloom: exact-hit set == exact decontaminate; FPs observable; shrinking the filter never loses a hit") {
    val docs = docsTable
    val bench = docs.where(col("doc_id") % 97 === 0)
    val exact = Dedup.decontaminate(docs, "doc_id", "text", bench, "text", 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloom = Dedup.decontaminateBloom(docs, "doc_id", "text", bench, "text", 3, 32768)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(bloom.forall(_._2 == 1L), "every emitted row is a bloom hit")
    assert(bloom.filter(_._3 == 1L).map(_._1).toSet == exact,
      "confirm join must recover exactly the exact-decontaminate set")
    assert(bloom.map(_._1).toSet.size >= exact.size, "bloom is a superset")
    // a saturated 64-bit filter still never loses a true hit (no false
    // negatives by construction — only the FP count changes)
    val tiny = Dedup.decontaminateBloom(docs, "doc_id", "text", bench, "text", 3, 64)
      .where(col("exact_hit") === 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tiny == exact)
  }

  test("bigramBackoff: all four scoring legs match a hand computation") {
    // model = doc 0 only: "a b a b c". N = 5; cnt1: a=2 b=2 c=1.
    // bigrams: (a,b)=2 (b,a)=1 (b,c)=1
    val docs = Seq(
      (0L, "a b a b c"),  // in model
      (1L, "a b z"),      // bigram leg, then (b,z) unseen->backoff, z unseen unigram
      (2L, "c a")         // first-token leg on c, (c,a) unseen bigram -> backoff on a
    ).toDF("doc_id", "text")
    val out = Quality.bigramBackoff(docs, "doc_id", "text", col("doc_id") === 0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 0: first a: 2*1000/5=400; (a,b): 2*1000/2=1000; (b,a): 1*1000/2=500;
    //        (a,b): 1000; (b,c): 1*1000/2=500 -> sum 3400, n=5, score 680
    assert(out(0L) == ((5L, 680L)), s"doc0: ${out(0L)}")
    // doc 1: first a: 400; (a,b): 1000; (b,z): z unseen -> 0*400/5=0
    //        -> sum 1400, n=3, score 466
    assert(out(1L) == ((3L, 466L)), s"doc1: ${out(1L)}")
    // doc 2: first c: 1*1000/5=200; (c,a): unseen bigram -> 2*400/5=160
    //        -> sum 360, n=2, score 180
    assert(out(2L) == ((2L, 180L)), s"doc2: ${out(2L)}")
  }

  test("q211 chunk law: stride-24/width-32 extents at every boundary shape") {
    // exact-multiple (24), boundary+1 (25), multi-window (80), singleton (1)
    val dir = java.nio.file.Files.createTempDirectory("q211spec").toString
    val mk = (n: Int) => (1 to n).map(i => s"t$i").mkString(" ")
    Seq((1L, mk(24)), (2L, mk(25)), (3L, mk(80)), (4L, mk(1)), (5L, "solo"),
        (6L, mk(33)))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q211_rag_chunks")(spark, dir)
      .select("doc_id", "chunk_idx", "tok_start", "n_toks")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val expected = Set(
      (1L, 0L, 0L, 24L),                                        // one full-stride chunk
      (2L, 0L, 0L, 25L), (2L, 1L, 24L, 1L),                     // overlap token re-emitted
      (3L, 0L, 0L, 32L), (3L, 1L, 24L, 32L), (3L, 2L, 48L, 32L), (3L, 3L, 72L, 8L),
      (4L, 0L, 0L, 1L), (5L, 0L, 0L, 1L),
      (6L, 0L, 0L, 32L), (6L, 1L, 24L, 9L))
    assert(out == expected, s"got $out")
    // chunk fingerprint = the q31 polynomial fp of the canonical chunk text
    val fp = SparkEntry.queries("q211_rag_chunks")(spark, dir)
      .where(col("doc_id") === 5L).select("chunk_fp").collect().head.getLong(0)
    assert(fp == graft.core.TextCore.fingerprint("solo"))
  }

  test("q212 OOV law: all-OOV and empty-token docs hit the exact-integer edges") {
    val dir = java.nio.file.Files.createTempDirectory("q212spec").toString
    // "the" dominates the vocab; doc 3 is whitespace-only (0 tokens ->
    // oov_milli 0 via the divide-by-zero guard); doc 2 is pure OOV
    val common = (1 to 300).map(_ => "the").mkString(" ")
    Seq((1L, common), (2L, "zzqx1 zzqx2 zzqx3"), (3L, "   "))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q212_vocab_oov")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((300L, 0L, 0L)))      // all in vocab
    // vocab = {the, zzqx1..3} (4 distinct terms <= 256) -> doc 2 has 0 OOV;
    // the law's OOV branch needs MORE than 256 distinct terms, covered at
    // sf0.001 by EntrySpec + the oracle; here we pin the n_toks census + guard
    assert(out(2L)._1 == 3L)
    assert(out(3L) == ((0L, 0L, 0L)))        // empty-token doc: guard fires
  }

  test("q213 quadkey: independent bit-interleave recompute over the sf0.001 inventory") {
    val rows = SparkEntry.queries("q213_tile_addressing")(spark, TestSpark.SfSmall)
      .select("tx", "ty", "tms_ty", "quadkey", "tile_path")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tx = r.getLong(0); val ty = r.getLong(1)
      assert(r.getLong(2) == 63L - ty)
      // independent formulation: binary-string zip, not shift arithmetic
      val xb = (tx % 64).toBinaryString.reverse.padTo(6, '0').reverse
      val yb = ty.toBinaryString.reverse.padTo(6, '0').reverse
      val qk = (tx / 64).toString + xb.zip(yb).map { case (a, b) =>
        ('0' + (a - '0') + 2 * (b - '0')).toChar }.mkString
      assert(r.getString(3) == qk, s"tile ($tx,$ty)")
      assert(r.getString(4) == s"6/$tx/${63 - ty}.png")
    }
  }

  test("q214 BPE pair law: per-occurrence weighting on a crafted corpus") {
    val dir = java.nio.file.Files.createTempDirectory("q214spec").toString
    // "ab" appears as a word twice, "aab" once: pair "ab" weights 2+1=3,
    // pair "aa" weights 1; "a" (len 1) contributes no pair
    Seq((1L, "ab a AAB"), (2L, "Ab")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q214_bpe_pairs")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("ab" -> 3L, "aa" -> 1L))
  }

  test("q215 BPE training law: composition, within-word greed, tie order") {
    val dir = java.nio.file.Files.createTempDirectory("q215spec").toString
    Seq((1L, "abab abab abab cdcd cdcd efef aaa"), (2L, "abab aaa cdcd"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    // hand trace: dict abab×4 cdcd×3 efef×1 aaa×2
    //  it1 (a,b,8); it2 (c,d,6); it3 tie@4 (a,a) beats (ab,ab) on lhs asc;
    //  it4 (ab,ab,4) — a COMPOSED merge (both sides are merge outputs);
    //  it5 (cd,cd,3); it6 tie@2 (aa,a) beats (e,f) on lhs asc. "aaa"
    //  merges greedily to [aa,a] ((a,a) counted 2 per occurrence, merged
    //  once), then (aa,a) composes it back to a single symbol.
    val rules = graft.operators.Bpe.train(
      spark.read.parquet(s"$dir/documents.parquet"), 6)
    assert(rules.map(r => (r.lhs, r.rhs, r.freq)) == Seq(
      ("a", "b", 8L), ("c", "d", 6L), ("a", "a", 4L),
      ("ab", "ab", 4L), ("cd", "cd", 3L), ("aa", "a", 2L)))
    // q216 on the same corpus: doc 2 encodes to "abab aaa cdcd"
    val out = SparkEntry.queries("q216_bpe_encode")(spark, dir)
      .where(col("doc_id") === 2L).collect().head
    assert(out.getLong(1) == 3L)  // n_toks
    assert(out.getLong(2) == 11L) // n_chars
    assert(out.getLong(3) == 3L)  // n_sym
    assert(out.getLong(4) == TextCore.fingerprint("abab aaa cdcd"))
    assert(out.getLong(5) == 11000L / 3L) // ratio_milli
  }

  test("q217 substrDedup law: cross-doc, shifted, within-doc and tail-only edges") {
    val s1 = "a" * 30 + "zq"          // span-sized building blocks
    val s2 = "b" * 30 + "wk"
    val s3 = "c" * 30 + "vj"
    val dir = java.nio.file.Files.createTempDirectory("q217spec").toString
    // doc1 owns the first occurrences; doc2 repeats both spans verbatim;
    // doc3 has the SAME spans in swapped order (still removed — content
    // keyed); doc4 repeats its own fresh span WITHIN itself; doc5 is
    // sub-span short. ids % 10 != 0 keep the slogan branch out of the law.
    Seq((1L, s1 + s2 + "t1"), (2L, s1 + s2 + "t2"), (3L, s2 + s1 + "t3"),
        (4L, s3 + s3), (5L, "short"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q217_substr_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) == ((2L, 0L, 66L, TextCore.hash64(s1 + s2 + "t1"))))
    assert(out(2L) == ((2L, 2L, 2L, TextCore.hash64("t2"))))
    assert(out(3L) == ((2L, 2L, 2L, TextCore.hash64("t3"))))
    assert(out(4L) == ((2L, 1L, 32L, TextCore.hash64(s3))))
    assert(out(5L) == ((0L, 0L, 5L, TextCore.hash64("short"))))
  }

  test("q218 patchify law: constant and column-ramp anchor images") {
    // constant image: mean = v, projections all cancel to 0;
    // column-ramp px(x,y) = x % 16: proj0 = 16·Σ jc·(1−2·(jc%2)) = −128
    val const = (0 until 4096).map(_ => 7.0)
    val ramp = (0 until 4096).map(i => ((i % 64) % 16).toDouble)
    val df = Seq((0L, 0L, const), (1L, 0L, ramp)).toDF("tx", "ty", "pixels")
    val out = graft.operators.Media.patchify(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9)))).toMap
    assert(out.size == 32)
    (0L until 16L).foreach { p =>
      assert(out((0L, p)) == ((256L * 7, 7L, 7L, 7L, 0L, 0L, 0L, 0L)))
      // ramp: every patch sees columns 0..15 in each of 16 rows
      val (psum, pmean, pmin, pmax, pr0, _, _, _) = out((1L, p))
      assert(psum == 16L * (0 to 15).sum && pmean == psum / 256)
      assert(pmin == 0L && pmax == 15L && pr0 == -128L)
    }
  }

  test("q219 UniMax law: cap and fair-share branches, fractional copies") {
    val dir = java.nio.file.Files.createTempDirectory("q219spec").toString
    // sizes: aa=10, bb=100; budget 220 → aa capped at 3 epochs (30),
    // bb gets the 190 remainder → e_milli 3000 / 1900
    Seq((1L, "aa", 10L), (2L, "bb", 50L), (13L, "bb", 50L))
      .toDF("doc_id", "lang", "n_chars")
      .withColumn("text", lit("x")).withColumn("source", lit("s"))
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q219_unimax_sampling")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) == (("aa", 30L, 3000L, 3L)))
    // (2·7919)%1000 = 838 < 900 → extra copy; (13·7919)%1000 = 947 → none
    assert(out(2L) == (("bb", 190L, 1900L, 2L)))
    assert(out(13L) == (("bb", 190L, 1900L, 1L)))
  }

  test("q222 T5 span law: placement, sentinels, input/target identity") {
    val dir = java.nio.file.Files.createTempDirectory("q222spec").toString
    val toks = (1 to 20).map(i => s"t$i")
    Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    // n=20 → c=3, nsp=1, seg=20, len=3, start=(1·7919)%18=17 → tokens
    // t18..t20 corrupted
    val out = SparkEntry.queries("q222_t5_span_corrupt")(spark, dir).collect().head
    assert((out.getLong(1), out.getLong(2), out.getLong(3)) == ((20L, 3L, 1L)))
    val inp = (toks.take(17) :+ "<x0>").mkString(" ")
    val tgt = ("<x0>" +: toks.drop(17)).mkString(" ")
    assert(out.getLong(4) == TextCore.hash64(inp))
    assert(out.getLong(5) == TextCore.hash64(tgt))
  }

  test("q224 BM25 law: exact integer rational replayed on a crafted corpus") {
    val dir = java.nio.file.Files.createTempDirectory("q224spec").toString
    Seq((0L, "spark spark table"), (1L, "spark alpha beta gamma"),
      (2L, "delta eps zeta eta")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    // S = 11 tokens, N = 3 docs; only Q1 (spark, table) matches anything
    def idf(df: Long): Long = (1000L * (2L * (3L - df) + 1L)) / (2L * df + 1L)
    def tfp(tf: Long, dl: Long): Long =
      (36L * tf * 11L * 1000000L) / (16L * tf * 11L + 5L * 11L + 15L * dl * 3L)
    val d0 = idf(2) * tfp(2, 3) + idf(1) * tfp(1, 3)
    val d1 = idf(2) * tfp(1, 4)
    val out = SparkEntry.queries("q224_bm25_topk")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(x => (x._1, x._2))
    assert(out.toSeq == Seq(("Q1", 1L, 0L, d0, 2L), ("Q1", 2L, 1L, d1, 1L)))
    assert(d0 > d1) // saturation+norm still rank the 2-hit short doc first
  }

  test("q225 Feistel shuffle: exact permutation per epoch, round function replay") {
    val dir = java.nio.file.Files.createTempDirectory("q225spec").toString
    Seq.tabulate(257)(i => (i.toLong, "t")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q225_feistel_shuffle")(spark, dir).collect()
    val byEpoch = out.groupBy(_.getLong(0))
    assert(byEpoch.keySet == Set(1L, 2L))
    byEpoch.values.foreach { rs =>
      assert(rs.map(_.getLong(3)).sorted.toSeq == (0L until 257L)) }
    // epochs differ (the key enters the round function)
    val p1 = byEpoch(1L).map(r => r.getLong(1) -> r.getLong(3)).toMap
    val p2 = byEpoch(2L).map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(p1 != p2)
    // replay doc 123, epoch 1 through the 4 rounds
    var l = 123L / 65536; var r = 123L % 65536
    for (i <- 1 to 4) {
      val nl = r
      val nr = l ^ (TextCore.hash64(s"fs1_${i}_$r") & 65535L)
      l = nl; r = nr
    }
    assert(out.find(x => x.getLong(0) == 1L && x.getLong(1) == 123L)
      .get.getLong(2) == l * 65536 + r)
  }

  test("q226 audio resample law: 5/8 linear interp replayed for every row") {
    val dir = java.nio.file.Files.createTempDirectory("q226spec").toString
    Seq.tabulate(10)(i => Tuple1(i.toLong)).toDF("s_suppkey")
      .write.parquet(s"$dir/supplier.parquet")
    val out = SparkEntry.queries("q226_audio_resample")(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out.size == 10)
    (0L until 10L).foreach { aid =>
      val n = (64 + aid % 129).toInt; val ld = (aid % 7).toInt; val tl = (aid % 5).toInt
      val smp = Array.tabulate(n)(i =>
        if (i < ld || i >= n - tl) 0L else (aid * 31 + i * 17) % 256 - 128)
      val m = ((n - 1) * 5) / 8 + 1
      val res = Array.tabulate(m) { k =>
        val q = (k * 8) / 5; val rr = (k * 8) % 5
        if (rr == 0) smp(q) else smp(q) + (smp(q + 1) - smp(q)) * rr / 5
      }
      val h = res.foldLeft(0L)((a, x) => (a * 31 + (x + 128)) % 1000000007L)
      assert(out(aid) == ((m.toLong, res.sum, res.min, res.max, h)), s"aid=$aid")
    }
  }

  test("q227 unigram Viterbi: engine cost == brute-force min; segs re-join; pins") {
    val out = SparkEntry.queries("q227_unigram_viterbi")(spark, TestSpark.SfSmall)
      .collect()
    val vocab = OracleHashSql.unigramVocab.toMap
    def bruteMin(w: String): Long = {
      val dp = Array.fill(w.length + 1)(Long.MaxValue); dp(0) = 0L
      for (j <- 1 to w.length; l <- 1 to math.min(5, j))
        vocab.get(w.substring(j - l, j)).foreach { c =>
          if (dp(j - l) != Long.MaxValue && dp(j - l) + c < dp(j)) dp(j) = dp(j - l) + c }
      dp(w.length)
    }
    assert(out.nonEmpty)
    out.foreach { r =>
      val w = r.getString(0); val pieces = r.getString(4).split(" ")
      assert(r.getLong(3) == bruteMin(w), s"cost not minimal for '$w'")
      assert(pieces.mkString("") == w, s"seg does not re-join '$w'")
      assert(pieces.map(vocab).sum == r.getLong(3), s"piece costs != total for '$w'")
      assert(r.getLong(2) == pieces.length)
    }
    val segs = out.map(r => r.getString(0) -> r.getString(4)).toMap
    assert(segs("table") == "table")        // whole-word piece wins
    assert(segs("window") == "w in dow")    // cross-boundary merge beats wi+nd+ow
    assert(segs("customer") == "c u st om er")
  }

  test("q229 RRF law: k=60 contributions sum across both systems") {
    val dir = java.nio.file.Files.createTempDirectory("q229spec").toString
    Seq((0L, "spark spark table"), (1L, "spark alpha beta gamma"),
      (2L, "delta eps zeta eta")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    // doc0 is rank 1 and doc1 rank 2 in BOTH systems (q224 spec's corpus)
    val out = SparkEntry.queries("q229_rrf_fusion")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(x => (x._1, x._2))
    assert(out.toSeq == Seq(
      ("Q1", 1L, 0L, 2L * (1000000L / 61L), 2L),
      ("Q1", 2L, 1L, 2L * (1000000L / 62L), 2L)))
  }

  test("q230 Kneser-Ney law: hand-computed discount and continuation legs") {
    val dir = java.nio.file.Files.createTempDirectory("q230spec").toString
    Seq((0L, "a b a b a c")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    // bigrams: (a,b)x2 (b,a)x2 (a,c)x1; c1(a)=3 c1(b)=2;
    // N1p_fwd(a)=2 (b)=1; N1p_bwd(a)=1 (b)=1 (c)=1; Ntypes=3
    val out = SparkEntry.queries("q230_kneser_ney")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.size == 3)
    assert(out(("a", "b")) == ((2L, 3L, 5000000L / 12L + 6000000L / 36L)))
    assert(out(("b", "a")) == ((2L, 2L, 5000000L / 8L + 3000000L / 24L)))
    assert(out(("a", "c")) == ((1L, 3L, 1000000L / 12L + 6000000L / 36L)))
  }

  test("downsample2x2Rms: sqrt(mean of squares), exact anchors") {
    // block {3,4,0,0}: sqrt(25/4) = 2.5 exactly; block {5,5,5,5} -> 5.0
    val px = Array(3.0, 4.0, 5.0, 5.0,
                   0.0, 0.0, 5.0, 5.0,
                   1.0, 1.0, 0.0, 0.0,
                   1.0, 1.0, 0.0, 2.0)
    val out = graft.core.Resample.downsample2x2Rms(px, 4, 4)
    assert(out.toSeq == Seq(2.5, 5.0, 1.0, 1.0))
  }

  test("A-Res weighted reservoir (q251): salted two-stage top-k equals direct top-k; weight monotonicity") {
    // the q251 law: global per-stratum top-k of the per-salt-bucket
    // top-ks == direct per-stratum top-k (every global winner survives
    // its own bucket's cut) — pinned on the real corpus by re-deriving
    // the direct top-k on the driver from the same keys
    val k = 10
    val keyed = docsTable
      .withColumn("w", expr(
        "CASE WHEN n_chars < 150 THEN 1L WHEN n_chars < 300 THEN 2L WHEN n_chars < 450 THEN 4L ELSE 8L END"))
      .withColumn("um", expr("mix64(doc_id) & 9007199254740991L"))
      .withColumn("u", expr("CAST(um + 1L AS DOUBLE) / 9007199254740992.0D"))
      .withColumn("key", expr(
        "CASE w WHEN 1L THEN u WHEN 2L THEN sqrt(u) WHEN 4L THEN sqrt(sqrt(u)) ELSE sqrt(sqrt(sqrt(u))) END"))
      .select(col("lang"), col("doc_id"), col("w"), col("key"))
    val rows = keyed.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val direct = rows.groupBy(_._1).toSeq.flatMap { case (lang, rs) =>
      rs.sortBy(r => (-r._4, r._2)).take(k).zipWithIndex
        .map { case (r, i) => (lang, (i + 1).toLong, r._2) }.toSeq
    }.toSet
    val engine = SparkEntry.queries("q251_weighted_reservoir")(spark, TestSpark.SfSmall)
      .select("lang", "rnk", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(engine == direct, "two-stage salted top-k diverged from the direct per-stratum top-k")
    // A-Res law: the key is monotone in w for a fixed uniform — a heavier
    // doc with the same u always ranks at least as high (u ∈ (0,1] ⇒
    // each extra sqrt moves the key toward 1)
    val u0 = 0.37
    val ks = Seq(u0, math.sqrt(u0), math.sqrt(math.sqrt(u0)), math.sqrt(math.sqrt(math.sqrt(u0))))
    assert(ks == ks.sorted, "u^(1/w) must increase with w for u < 1")
  }

  test("MMR re-rank (q258): first pick is pure-relevance argmax; picks distinct; penalty active") {
    val emb = spark.read.parquet(s"${TestSpark.SfSmall}/embeddings.parquet")
    val out = Ann.mmrTopK(emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
      emb, "vec_id", "embedding", poolK = 20, outK = 5).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size == 5 && out.length == 25)
    val brute = Ann.bruteTopK(emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    for ((q, rows) <- byQ) {
      val sorted = rows.sortBy(_.getLong(1))
      // first pick = the relevance argmax (max-sim over empty set is 0)
      assert(sorted.head.getLong(2) == brute(q), s"query $q first pick != brute rank-1")
      assert(sorted.head.getLong(3) == sorted.head.getLong(4), "rank-1 obj must equal rel")
      // no repeats
      assert(sorted.map(_.getLong(2)).distinct.length == 5)
    }
    // full driver replay of the greedy (the exact integer law) — the
    // operator's distributed selection must match it row for row.
    // (obj CAN exceed rel: max-sim over selected is negative when the
    // nearest selected vector points away — that's correct MMR.)
    val pool = Ann.bruteTopK(emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 20)
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding")), "neighbor_id")
      .select("query_id", "neighbor_id", "score", "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Float](3).map(v => math.floor(v.toDouble * 1000000.0).toLong).toArray))
    val expect = pool.groupBy(_._1).toSeq.flatMap { case (q, cs0) =>
      val cs = cs0.sortBy(c => (-c._3, c._2)).toBuffer
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Array[Long])]
      (1 to 5).map { step =>
        val scoredCs = cs.map { c =>
          val maxSim = if (sel.isEmpty) 0L
            else sel.map(s => c._4.zip(s._4).map { case (a, b) => a * b }.sum).max
          (c, c._3 - maxSim)
        }
        val (pick, obj) = scoredCs.minBy { case (c, o) => (-o, c._2) }
        cs -= pick; sel += ((pick._1, pick._2, pick._3, pick._4))
        (q, step.toLong, pick._2, pick._3, obj)
      }
    }.toSet
    val got = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSet
    assert(got == expect, "distributed MMR diverged from the driver greedy replay")
  }

  test("network SSSP (q263): distributed relaxation equals driver Dijkstra") {
    import graft.operators.Network
    import spark.implicits._
    // deterministic scraggly graph: 60 nodes, ring + chords + a few
    // unreachable stragglers (nodes 55..59 have no in-edges from 0's
    // component)
    val edges = ((0 until 54).map(i => (i.toLong, ((i + 1) % 55).toLong, 1L + (i * 7) % 9)) ++
      (0 until 54 by 5).map(i => (i.toLong, ((i + 13) % 55).toLong, 2L + i % 3)) ++
      Seq((55L, 56L, 1L), (57L, 58L, 2L))).toDF("src", "dst", "w")
    val got = Network.shortestPaths(edges, 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver Dijkstra
    val adj = edges.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(e => (e._2, e._3)) }
    val dist = scala.collection.mutable.Map(0L -> 0L)
    val pq = scala.collection.mutable.PriorityQueue((0L, 0L))(Ordering.by(-_._1))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (dist(u) == d) adj.getOrElse(u, Array.empty).foreach { case (v, w) =>
        if (dist.get(v).forall(_ > d + w)) { dist(v) = d + w; pq.enqueue((d + w, v)) }
      }
    }
    assert(got == dist.toMap, "distributed SSSP diverged from driver Dijkstra")
    // stragglers unreachable from 0 are absent, not infinite
    assert(!got.contains(56L) && !got.contains(58L))
  }

  test("integer PageRank (q269): no-in-edge floor, mass bound, determinism across partitionings") {
    import graft.operators.Network
    import spark.implicits._
    val nodes = (0L until 30L).toDF("node")
    val edges = ((0 until 29).map(i => (i.toLong, (i + 1).toLong)) ++
      (0 until 30 by 3).map(i => (i.toLong, ((i + 7) % 30).toLong))).toDF("src", "dst")
    val pr = Network.pagerankInt(edges.withColumn("w", lit(1L)), nodes, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a node with no in-edges sits at exactly the base mass
    val hasIn = edges.select("dst").distinct().collect().map(_.getLong(0)).toSet
    for (n <- 0L until 30L if !hasIn.contains(n)) assert(pr(n) == 150000L)
    // floor losses only LEAK mass: total <= n * initial
    assert(pr.values.sum <= 30L * 1000000L)
    // bit-determinism: a different input partitioning yields identical masses
    val pr2 = Network.pagerankInt(
      edges.repartition(7).withColumn("w", lit(1L)), nodes.repartition(3), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr == pr2, "integer PageRank must be partitioning-invariant")
  }

  test("char entropy (q252): closed-form anchors and normalization law") {
    import spark.implicits._
    val df = Seq(
      (1L, "aaaa"),           // single symbol → exactly 0 bits
      (2L, "abab"),           // two equiprobable symbols → exactly 1 bit
      (3L, "abcd"),           // four equiprobable symbols → exactly 2 bits
      (4L, "AB  ab\tAB"),     // normalization: lower + ws collapse → "ab ab ab"
      (5L, "")                // empty → 0 bits, 0 distinct
    ).toDF("doc_id", "text")
    val ent = df
      .withColumn("norm", expr("trim(regexp_replace(lower(text), '\\\\s+', ' '))"))
      .withColumn("n", expr("CAST(length(norm) AS BIGINT)"))
      .withColumn("cs", expr(
        "CASE WHEN n = 0 THEN CAST(array() AS ARRAY<STRING>) " +
          "ELSE transform(sequence(1, CAST(n AS INT)), i -> substring(norm, i, 1)) END"))
      .withColumn("ds", expr("array_sort(array_distinct(cs))"))
      .withColumn("ps", expr(
        "transform(ds, ch -> CAST(size(filter(cs, c -> c = ch)) AS DOUBLE) / CAST(n AS DOUBLE))"))
      .withColumn("ent", expr(
        "-(aggregate(transform(ps, p -> p * ln(p)), 0.0D, (acc, t) -> acc + t)) / ln(2.0D)"))
      .select("doc_id", "ent", "n").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(math.abs(ent(1L)._1) < 1e-12)
    assert(math.abs(ent(2L)._1 - 1.0) < 1e-12)
    assert(math.abs(ent(3L)._1 - 2.0) < 1e-12)
    // "ab ab ab": n=8, p(a)=p(b)=3/8, p(space)=2/8 → H = 1.5613 bits
    val h = -(3.0 / 8 * math.log(3.0 / 8) * 2 + 2.0 / 8 * math.log(2.0 / 8)) / math.log(2.0)
    assert(ent(4L)._2 == 8L && math.abs(ent(4L)._1 - h) < 1e-12)
    assert(ent(5L)._1 == 0.0 || ent(5L)._1.abs < 1e-300) // −0.0 tolerated
  }
}
