package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.F

/** Multimodal-column plumbing: media spans are opaque refs/bytes plus
  * typed metadata; decode is STUBBED deterministically (no image/audio
  * codecs in this container — the Spark-side schema, joins, partitioning
  * and feature extraction are the real, tested part).
  *
  * Mirrors the reference's raster-as-dataset view where a media ref
  * resolves to tiled pixel blocks (reference: gcore/gdaldataset.cpp ::
  * GDALDataset / gcore/gdalrasterband.cpp :: IReadBlock), with
  * `tile://z/tx/ty/band` as the synthetic resolver (FIXTURES.md F3).
  */
object Media {

  /** Explode a docs table's media spans and resolve `tile://z/tx/ty/band`
    * refs against a tile table (zoom,tx,ty,band,pixels) — a broadcast-or-
    * shuffle equi-join on the tile key. */
  def resolveMedia(docs: DataFrame, tiles: DataFrame): DataFrame = {
    val spans = docs
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
      .where(col("span.kind") === "media")
      .select(col("doc_id"), col("span.offset").as("offset"), col("span.media_ref").as("media_ref"))
      .withColumn("zoom", regexp_extract(col("media_ref"), "tile://(\\d+)/(\\d+)/(\\d+)/(\\d+)", 1).cast("int"))
      .withColumn("tx", regexp_extract(col("media_ref"), "tile://(\\d+)/(\\d+)/(\\d+)/(\\d+)", 2).cast("long"))
      .withColumn("ty", regexp_extract(col("media_ref"), "tile://(\\d+)/(\\d+)/(\\d+)/(\\d+)", 3).cast("long"))
      .withColumn("band", regexp_extract(col("media_ref"), "tile://(\\d+)/(\\d+)/(\\d+)/(\\d+)", 4).cast("int"))
    spans.join(tiles, Seq("zoom", "tx", "ty", "band"), "left")
  }

  /** Per-media feature extraction over the pixel array — pure
    * higher-order-function SQL (codegen'd, no UDF): mean/min/max plus an
    * 8×8 stride-sampled thumbnail. */
  def mediaFeatures(resolved: DataFrame): DataFrame =
    resolved
      .withColumn("px_mean", expr(
        "aggregate(pixels, CAST(0.0 AS DOUBLE), (acc, p) -> acc + p) / size(pixels)"))
      .withColumn("px_min", array_min(col("pixels")))
      .withColumn("px_max", array_max(col("pixels")))
      .withColumn("thumb8", expr(
        "transform(sequence(0, 63), i -> pixels[CAST(i / 8 AS INT) * 512 + (i % 8) * 8])"))

  /** DETERMINISTIC DECODE STUB — stands in for image/audio decoders with
    * no in-JVM codec (JPEG-2000, video, audio). Maps opaque bytes to a
    * fixed-shape float array from a seeded hash of the content; the
    * surrounding plumbing (binary column, batch shape, schema) is
    * production-shaped. PNG has a REAL path below. */
  def decodeStub(df: DataFrame, binCol: String, outLen: Int = 16): DataFrame =
    df.withColumn("decoded", expr(
      s"transform(sequence(0, ${outLen - 1}), i -> " +
      s"CAST(pmod(xxhash64($binCol, i), 256) AS DOUBLE))"))

  // ---- REAL format decode (SURVEY §3.1 S3): PNG via the JDK codec ----
  // A compressed bitstream cannot whole-stage-codegen, so these two are
  // deliberate scala UDFs (the documented exception class) — data-parallel
  // per row, no shuffle, no driver involvement.

  // one marshalling path for every container format — a marshalling fix
  // (e.g. rounding policy) applies to PNG and TIFF alike
  private def encGrayUdf(format: String) = udf((px: Seq[Double], w: Int, h: Int) =>
    graft.core.Codec.encodeGray(px.map(_.toInt).toArray, w, h, format))
  private val encUdf = encGrayUdf("png")
  private val decUdf = udf((b: Array[Byte]) => {
    val (_, _, px) = graft.core.Codec.decodePngGray(b)
    px.map(_.toDouble).toSeq
  })

  /** Tile table → real PNG binary column (drops the pixel array). */
  def encodePng(tiles: DataFrame): DataFrame =
    tiles.withColumn("png", encUdf(col("pixels"), col("w"), col("h")))
      .drop("pixels")

  /** Binary PNG column → pixel array; lossless, so downstream operators
    * (checksum, calc, focal, …) see exactly the pre-encode values. */
  def decodePng(media: DataFrame, binCol: String = "png"): DataFrame =
    media.withColumn("pixels", decUdf(col(binCol)))

  // ---- TIFF via the JDK 9+ bundled ImageIO plugin (reference:
  // frmts/gtiff/geotiff.cpp). Same UDF-exception rationale as PNG; the
  // shared decode UDF sniffs the container from magic bytes.

  private val encTiffUdf = encGrayUdf("tiff")

  /** Tile table → real TIFF binary column (drops the pixel array). */
  def encodeTiff(tiles: DataFrame): DataFrame =
    tiles.withColumn("tiff", encTiffUdf(col("pixels"), col("w"), col("h")))
      .drop("pixels")

  /** Binary TIFF column → pixel array; lossless round-trip. */
  def decodeTiff(media: DataFrame, binCol: String = "tiff"): DataFrame =
    media.withColumn("pixels", decUdf(col(binCol)))

  // ---- JPEG via the JDK plugin (reference: frmts/jpeg/jpgdataset.cpp,
  // the top lossy driver). Same UDF-exception rationale; LOSSY, so the
  // downstream contract is property-based (shape + DCT-rounding error
  // bound at quality 1.0), never a pixel checksum.

  private val encJpegUdf = udf((px: Seq[Double], w: Int, h: Int) =>
    graft.core.Codec.encodeJpegGray(px.map(_.toInt).toArray, w, h))

  /** Tile table → real JPEG binary column (drops the pixel array). */
  def encodeJpeg(tiles: DataFrame): DataFrame =
    tiles.withColumn("jpeg", encJpegUdf(col("pixels"), col("w"), col("h")))
      .drop("pixels")

  /** Binary JPEG column → pixel array (magic-byte sniffed, same shared
    * decode UDF as PNG/TIFF). */
  def decodeJpeg(media: DataFrame, binCol: String = "jpeg"): DataFrame =
    media.withColumn("pixels", decUdf(col(binCol)))

  // ---- gdalmanage identify (apps/gdalmanage.cpp): classify a binary
  // column by magic-byte signature. Total — foreign bytes → 'unknown',
  // never an exception (identification precedes any decode attempt).

  private val identifyUdf = udf((b: Array[Byte]) => graft.core.Codec.identify(b))

  def identify(media: DataFrame, binCol: String): DataFrame =
    media.withColumn("fmt", identifyUdf(col(binCol)))

  // ---- image PERCEPTUAL-HASH near-dup (the multimodal counterpart of
  // text SimHash; public dHash/difference-hash recipe): a 64x64 grayscale
  // image reduces to an 8x8 grid of exact block means (floor of the 64-px
  // sum), and each of the 56 hash bits compares two horizontally adjacent
  // grid cells. Every step is exact integer arithmetic over the decoded
  // pixels, so the hash — and therefore the whole pair set — is replayable
  // by a SQL oracle from the pixel law alone.

  /** (tx, ty, pixels 64x64) → (img_id, dhash): 56-bit difference hash.
    * Map-only at any scale — ONE expression, no intermediate columns.
    *
    * Evaluate-once discipline: when `pixels` is itself a computed
    * expression (a decode UDF, a synth transform), CollapseProject will
    * inline it into any lambda body that references it — and an attribute
    * inlined INSIDE a HOF lambda re-evaluates on every lambda call (4096
    * element_at's per row ⇒ 4096 full decodes per row). The single-element
    * `transform(array(e), px -> …)[1]` binding evaluates `e` exactly once
    * per row (it is the HOF's *argument*, not its body) and exposes it as
    * a cheap lambda variable; the block-mean array is bound the same way
    * before the 56-bit fold references it 112 times. */
  def dhash(decoded: DataFrame, gridW: Int = 16): DataFrame =
    decoded
      .withColumn("img_id", (col("ty") * gridW + col("tx")).cast("long"))
      // block b (row-major by*8+bx) = floor mean of its 8x8 pixel block;
      // bit k (k = by*7+bx) set iff block(bx+1,by) > block(bx,by)
      .withColumn("dhash", expr(
        """element_at(transform(array(pixels), px ->
             element_at(transform(array(transform(sequence(0, 63), b ->
                 aggregate(sequence(0, 63), 0L, (acc, j) ->
                   acc + CAST(element_at(px, CAST(
                     (b div 8)*512 + (j div 8)*64 + (b % 8)*8 + (j % 8) + 1
                   AS INT)) AS BIGINT)) div 64)), bs ->
               aggregate(sequence(0, 55), 0L, (acc, k) ->
                 acc + CASE WHEN element_at(bs, CAST((k div 7)*8 + (k % 7) + 2 AS INT))
                                 > element_at(bs, CAST((k div 7)*8 + (k % 7) + 1 AS INT))
                       THEN shiftleft(1L, CAST(k AS INT)) ELSE 0L END)), 1)), 1)"""))
      .select("img_id", "dhash")

  /** ViT-style PATCHIFY (Dosovitskiy et al. 2021 §3.1 — "an image is
    * worth 16x16 words"): a 64x64 image splits into a 4x4 grid of 16x16
    * patches; each patch is flattened (row-major) and summarized by exact
    * integer stats plus its first four WALSH-HADAMARD projections along
    * the flattened index (proj_k = Σ px[j]·(1 − 2·((j >> k) & 1)) — the
    * structured stand-in for the learned linear patch embedding, chosen
    * because it is exact-integer and oracle-replayable).
    *
    * Map-only at any scale: all 16 patches are computed inside ONE bound
    * HOF per image row (the dhash evaluate-once discipline — `pixels` is
    * the HOF's argument, so a decode UDF upstream runs once per row, not
    * once per element_at) and exploded afterwards. */
  def patchify(decoded: DataFrame, gridW: Int = 16): DataFrame =
    decoded
      .withColumn("img_id", (col("ty") * gridW + col("tx")).cast("long"))
      .withColumn("patches", expr(
        """element_at(transform(array(pixels), px ->
             transform(sequence(0, 15), p -> named_struct(
               'psum', aggregate(sequence(0, 255), 0L, (acc, j) ->
                 acc + CAST(element_at(px, CAST(
                   (p div 4)*1024 + (j div 16)*64 + (p % 4)*16 + (j % 16) + 1
                 AS INT)) AS BIGINT)),
               'pmin', aggregate(sequence(0, 255), 255L, (acc, j) ->
                 least(acc, CAST(element_at(px, CAST(
                   (p div 4)*1024 + (j div 16)*64 + (p % 4)*16 + (j % 16) + 1
                 AS INT)) AS BIGINT))),
               'pmax', aggregate(sequence(0, 255), 0L, (acc, j) ->
                 greatest(acc, CAST(element_at(px, CAST(
                   (p div 4)*1024 + (j div 16)*64 + (p % 4)*16 + (j % 16) + 1
                 AS INT)) AS BIGINT))),
               'proj', transform(sequence(0, 3), k ->
                 aggregate(sequence(0, 255), 0L, (acc, j) ->
                   acc + CAST(element_at(px, CAST(
                     (p div 4)*1024 + (j div 16)*64 + (p % 4)*16 + (j % 16) + 1
                   AS INT)) AS BIGINT) * (1L - 2L * ((j div shiftleft(1, k)) % 2))))
             ))), 1)"""))
      .select(col("img_id"), posexplode(col("patches")).as(Seq("patch", "st")))
      .select(col("img_id"), col("patch").cast("long").as("patch"),
        col("st.psum").as("psum"), expr("st.psum div 256").as("pmean"),
        col("st.pmin").as("pmin"), col("st.pmax").as("pmax"),
        element_at(col("st.proj"), 1).as("proj0"),
        element_at(col("st.proj"), 2).as("proj1"),
        element_at(col("st.proj"), 3).as("proj2"),
        element_at(col("st.proj"), 4).as("proj3"))

  /** Near-duplicate image pairs at hamming(dhash) <= maxHamming via the
    * EXACT k+1 pigeonhole (the q25 SimHash law re-aimed at 56 bits): two
    * hashes within hamming m must agree on at least one of m+1 disjoint
    * bit ranges, so the candidate join is an equi-join on (chunk_i, chunk)
    * — never all-pairs — and the verify is a codegen'd popcount. */
  def dhashPairs(decoded: DataFrame, maxHamming: Int = 4,
                 gridW: Int = 16): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 6,
      s"dhashPairs: maxHamming must be in [0,6] (chunks of >=8 bits); got $maxHamming")
    F.ensureRegistered(decoded.sparkSession)
    val nChunks = maxHamming + 1
    val widths = Array.tabulate(nChunks)(i => 56 / nChunks + (if (i < 56 % nChunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).init
    val chunkExpr = (0 until nChunks).map { i =>
      val mask = (1L << widths(i)) - 1
      s"shiftright(dhash, ${offsets(i)}) & $mask"
    }.mkString("array(", ", ", ")")
    val h = dhash(decoded, gridW)
    // both self-join legs read the chunked hash table; caching it keeps
    // the codec (encode/decode UDF) lineage from executing once per leg —
    // (img_id, dhash, chunk) is ~25 B/row × (maxHamming+1), tiny vs pixels
    val chunked = h.select(col("img_id"), col("dhash"),
      posexplode(expr(chunkExpr)).as(Seq("chunk_i", "chunk")))
      .transform(graft.io.Checkpoints.cached)
    val a = chunked.select(col("img_id").as("id_a"), col("dhash").as("h_a"),
      col("chunk_i"), col("chunk"))
    val b = chunked.select(col("img_id").as("id_b"), col("dhash").as("h_b"),
      col("chunk_i"), col("chunk"))
    a.join(b, Seq("chunk_i", "chunk"), "inner")
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "h_a", "h_b").distinct()
      .withColumn("hamming", F.hamming64(col("h_a"), col("h_b")))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
