package graft.operators

import org.apache.spark.sql._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media as opaque `binary` columns with
  * typed metadata, batch decode / feature-extract / frame-sample over
  * `mapPartitions`.
  *
  * The image/audio LIBRARY codecs are not in this container, so the
  * generic decoder is a clearly-marked DETERMINISTIC STUB (see
  * [[stubDecode]]) — but the Spark-side plumbing is real and tested:
  * the binary+metadata schema, the partition-batched decode signature
  * (bytes in, fixed-width features out, no driver involvement), and the
  * parallel execution shape are exactly what a real codec would plug
  * into (swap `stubDecode` for the JNI/library call; everything else
  * stands). For AUDIO there is now a REAL, no-external-library codec
  * path: [[wavAssets]] stages genuine RIFF/WAVE PCM-16 containers and
  * [[graft.functions.WavCodec]] provides native validating
  * decode / sample-extract / decimating-resample expressions,
  * oracle-checked byte-exactly (q_wav_decode / q_wav_resample).
  */
object Multimodal {

  /** Media asset schema: (asset_id, media: binary, meta struct). The
    * harness has no binary fixtures, so assets are staged from the
    * documents table (text encoded as UTF-8 bytes stands in for an
    * image/audio payload).
    */
  def assets(spark: SparkSession, dir: String): DataFrame =
    ColOps.table(spark, dir, "documents").select(
      col("doc_id").as("asset_id"),
      encode(col("text"), "UTF-8").as("media"),
      struct(col("lang").as("container"), col("n_chars").as("declared_size")).as("meta"))

  private val decodedSchema = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("digest", StringType, nullable = false),
    StructField("thumb_digest", StringType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false)))

  /** STUB DECODER — deterministic fake standing in for the real codec.
    * Real implementation would decode `bytes` (image/audio/video) and
    * emit true dimensions / frame samples; the fake derives them from
    * byte length and content hashes so results are verifiable.
    *
    * thumb_digest is BYTE-based (md5 of the lowercase-hex string of the
    * first 16 BYTES — hex because DuckDB's md5 only takes VARCHAR, and a
    * multi-byte character truncated at byte 16 would not round-trip
    * through a string). The oracle mirrors it as
    * `md5(substring(lower(hex(encode(text))), 1, 32))`, which agrees for
    * non-ASCII payloads too (MultimodalSpec pins a non-ASCII row).
    */
  private[graft] def stubDecode(bytes: Array[Byte]): (Long, String, String, Long, Long, Long) = {
    def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
    def md5(b: Array[Byte]): Array[Byte] =
      java.security.MessageDigest.getInstance("MD5").digest(b)
    val digest = hex(md5(bytes))
    val thumb = hex(md5(hex(bytes.take(16))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    val n = bytes.length.toLong
    (n, digest, thumb, n % 640 + 1, n % 480 + 1, n / 100 + 1)
  }

  /** Batch decode: one partition at a time, bytes → features. This is
    * the operator a real pipeline would run over millions of images —
    * fully parallel, no data to the driver, output schema fixed-width.
    */
  def decode(assets: DataFrame): DataFrame = {
    val idIdx = assets.schema.fieldIndex("asset_id")
    val mediaIdx = assets.schema.fieldIndex("media")
    val spark = assets.sparkSession
    val rdd = assets.rdd.mapPartitions { it =>
      it.map { r =>
        val (n, digest, thumb, w, h, f) = stubDecode(r.getAs[Array[Byte]](mediaIdx))
        Row(r.getLong(idIdx), n, digest, thumb, w, h, f)
      }
    }
    spark.createDataFrame(rdd, decodedSchema)
  }

  private val featureSchema = StructType(
    StructField("asset_id", LongType, nullable = false) +:
    StructField("n_bytes", LongType, nullable = false) +:
    StructField("magic", LongType, nullable = false) +:
    (0 until 16).map(b => StructField(f"h$b%02d", LongType, nullable = false)))

  /** REAL binary feature extraction (no stub, no codec needed): per
    * asset, the byte length, the leading ≤4 bytes folded big-endian (the
    * magic-number/format-sniff field), and a 16-bucket histogram of byte
    * HIGH NIBBLES — the cheap content signature used for media
    * triage/clustering before expensive decode. One partition-parallel
    * pass over the payload bytes, integer-only arithmetic, so the DuckDB
    * oracle reproduces it bit-for-bit from the hex encoding.
    */
  def byteFeatures(assets: DataFrame): DataFrame = {
    val idIdx = assets.schema.fieldIndex("asset_id")
    val mediaIdx = assets.schema.fieldIndex("media")
    val spark = assets.sparkSession
    val rdd = assets.rdd.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](mediaIdx)
        val hist = new Array[Long](16)
        var i = 0
        while (i < bytes.length) { hist((bytes(i) & 0xf0) >> 4) += 1; i += 1 }
        var magic = 0L
        var j = 0
        while (j < 4 && j < bytes.length) { magic = magic * 256 + (bytes(j) & 0xff); j += 1 }
        Row.fromSeq(r.getLong(idIdx) +: bytes.length.toLong +: magic +: hist.toSeq)
      }
    }
    spark.createDataFrame(rdd, featureSchema)
  }

  /** DuckDB mirror of [[byteFeatures]] over a hex-of-bytes expression
    * (the high nibble of byte i is hex char 2i+1, 1-based; magic folds
    * the first ≤8 hex chars base-16).
    */
  def byteFeaturesSql(hexExpr: String): Seq[String] = {
    val nBytes = s"CAST(len($hexExpr) // 2 AS BIGINT) AS n_bytes"
    val digit = (c: String) => s"(strpos('0123456789abcdef', $c) - 1)"
    val magic =
      s"""list_reduce(list_prepend(0::BIGINT,
          [${digit(s"$hexExpr[i+1]")}::BIGINT for i in range(0, least(8, len($hexExpr)))]),
          (a, d) -> a * 16 + d) AS magic"""
    val hist = (0 until 16).map { b =>
      val d = "0123456789abcdef".charAt(b)
      f"CAST(len([i for i in range(0, len($hexExpr) // 2) if $hexExpr[2*i+1] = '$d']) AS BIGINT) AS h$b%02d"
    }
    nBytes +: magic +: hist
  }

  /** Frame sampling stub: every `stride`-th BYTE of the media payload as
    * a "frame", with its offset — the partitioning/fan-out shape of real
    * video frame extraction (explode to one row per frame).
    *
    * The digest is md5 of the frame byte's lowercase-HEX string (not of
    * the raw byte): DuckDB's md5 takes VARCHAR only, and a raw
    * multi-byte fragment would not round-trip through a string — same
    * byte-based contract as [[stubDecode]]'s thumb_digest, so the oracle
    * (`md5(substr(lower(hex(encode(text))), 2·offset+1, 2))`) agrees for
    * non-ASCII payloads too (pinned in ColOpsSpec).
    */
  /** STUB RESIZE — deterministic fake of the batch resize / downsample
    * step (image thumbnailing, audio decimation): keep every
    * `stride`-th byte of the payload, emit the new length and the
    * digest of the kept bytes. Same hex-string digest contract as
    * [[stubDecode]]/[[sampleFrames]] so the DuckDB oracle agrees on
    * non-ASCII payloads. Pure column expressions — the whole transform
    * (per-byte slice, hex, concat, md5) runs in whole-stage codegen
    * with zero shuffle, the plumbing shape a real resize kernel slots
    * into (swap the byte-decimation lambda for the codec call).
    * An empty payload resizes to out_len 0 with md5("") — kept, not
    * dropped, so asset counts are preserved through the stage.
    */
  def resizeBytes(assets: DataFrame, stride: Int): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    assets.select(
      col("asset_id"),
      when(length(col("media")) > 0,
        transform(
          sequence(lit(0), ((length(col("media")) - 1) / stride).cast("int")),
          i => lower(hex(substring(col("media"), (i * stride + 1).cast("int"), lit(1))))))
        .otherwise(array().cast("array<string>")).as("parts"))
      .select(col("asset_id"),
        size(col("parts")).cast("long").as("out_len"),
        md5(array_join(col("parts"), "")).as("out_digest"))
  }

  /** DuckDB mirror of [[resizeBytes]] over the documents-backed assets
    * (list comprehension over byte positions; COALESCE because DuckDB's
    * array_to_string([]) is NULL where Spark's array_join is '').
    */
  def resizeBytesSql(stride: Int): String =
    s"""WITH b AS (SELECT doc_id AS asset_id, lower(hex(encode(text))) AS hx
                   FROM documents)
        SELECT asset_id, CAST(len(l) AS BIGINT) AS out_len,
               md5(COALESCE(array_to_string(l, ''), '')) AS out_digest
        FROM (SELECT asset_id,
                     [substring(hx, 2*(p*$stride)+1, 2)
                      for p in range(0, (length(hx)//2 + $stride - 1)//$stride)] AS l
              FROM b) t"""

  // --- media near-dup fingerprinting (byte-level minwise signatures) ---

  /** Fingerprint geometry: `FpHashes` minwise permutations over the
    * byte-4-gram set, banded `FpBands` × `FpBandSize` for candidate
    * generation — the media-payload analog of the text MinHash+LSH
    * pipeline ([[Dedup]]), for the modality where word shingles don't
    * exist (images, audio, video containers). Affine constants are a
    * pure function of the permutation index so the oracle regenerates
    * them from the same formula.
    */
  val FpHashes = 48
  val FpBandSize = 4
  val FpBands: Int = FpHashes / FpBandSize
  private val FpP: Long = graft.functions.ByteGramHashes.P
  private[graft] def fpA(j: Int): Long = 100003L + 17L * j
  private[graft] def fpB(j: Int): Long = 7L + 31L * j

  /** (asset_id, mh: array<long>[FpHashes]) — minwise signatures over
    * the payload's byte-4-gram hashes, via the two native expressions:
    * `byte_gram_hashes` (one loop over the payload) feeding
    * `minwise_hashes` (one loop over the grams, FpHashes running
    * minima) — the gram array is consumed exactly once, so no staging
    * discipline is needed here. Payloads shorter than 4 bytes have no
    * gram and are excluded — they cannot carry near-dup signal.
    */
  def mediaSignatures(assets: DataFrame): DataFrame = {
    val withG = assets
      .filter(length(col("media")) >= Gram4)
      .select(col("asset_id"),
        graft.functions.ByteGramHashes.byte_gram_hashes(col("media")).as("g"))
    // one-pass native expression: 48 running minima in a single loop
    // over the gram array (vs 48 transform+array_min walks)
    withG.select(col("asset_id"),
      graft.functions.MinwiseHashes.minwise_hashes(col("g"),
        (0 until FpHashes).map(fpA), (0 until FpHashes).map(fpB)).as("mh"))
  }
  private val Gram4 = graft.functions.ByteGramHashes.Gram

  /** Media near-duplicate pairs: candidates from banded signature
    * buckets (population-capped, per the [[Dedup.MaxBucket]] viral-
    * bucket argument), verified by signature agreement — `n_agree` of
    * the FpHashes components equal, an unbiased estimate of
    * `J(grams_a, grams_b) ≈ n_agree / FpHashes`. One signature pass,
    * candidate join on the band key only, verify arithmetic on the
    * 48-long signatures (never the payloads) — the exact scale shape
    * of the text pipeline, so the O(docs × bands) analysis carries
    * over. This is the dedup stage a real media pipeline runs on
    * perceptual hashes; the byte-gram signature is the codec-free
    * stand-in with identical plumbing.
    */
  def mediaNearDups(assets: DataFrame, minAgree: Int = 36,
                    cap: Int = Dedup.MaxBucket): DataFrame = {
    val sig = graft.core.Materialize.checkpoint(mediaSignatures(assets))
    val bands = (0 until FpBands).map { k =>
      concat_ws("|", lit(k.toString),
        aggregate(slice(col("mh"), k * FpBandSize + 1, FpBandSize),
          lit(0L), (a, v) => (a * 31 + v) % FpP))
    }
    val bk = ColOps.capBuckets(
      sig.select(col("asset_id"), explode(array(bands: _*)).as("bucket")), cap)
    val a = bk.select(col("bucket"), col("asset_id").as("asset_a"))
    val b = bk.select(col("bucket").as("bucket_b"), col("asset_id").as("asset_b"))
    val cand = a.join(b, col("bucket") === col("bucket_b") && col("asset_a") < col("asset_b"))
      .select(col("asset_a"), col("asset_b")).distinct()
    val sa = sig.select(col("asset_id").as("asset_a"), col("mh").as("mh_a"))
    val sb = sig.select(col("asset_id").as("asset_b"), col("mh").as("mh_b"))
    cand.join(sa, "asset_a").join(sb, "asset_b")
      .select(col("asset_a"), col("asset_b"),
        aggregate(zip_with(col("mh_a"), col("mh_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), _ + _).as("n_agree"))
      .filter(col("n_agree") >= minAgree)
  }

  /** DuckDB mirror of [[mediaNearDups]] over the documents-backed
    * assets. Gram hashes skip the per-step mod (see
    * [[graft.functions.ByteGramHashes.hashGrams]]: with 4-byte grams
    * the fold never reaches P).
    */
  def mediaNearDupsSql(minAgree: Int, cap: Int): String = {
    val mh = s"""[list_min([((${fpAExpr("j")}) * gg + (${fpBExpr("j")})) % $FpP for gg in gs])
                 for j in range(0, $FpHashes)]"""
    s"""WITH b AS (SELECT doc_id AS asset_id, lower(hex(encode(text))) AS hx FROM documents),
        bs AS (SELECT asset_id,
                 [(strpos('0123456789abcdef', hx[2*i+1])-1)*16
                  + (strpos('0123456789abcdef', hx[2*i+2])-1)
                  for i in range(0, len(hx)//2)] AS bts
               FROM b WHERE len(hx) >= 8),
        g AS (SELECT asset_id,
                [((bts[i+1]*31 + bts[i+2])*31 + bts[i+3])*31 + bts[i+4]
                 for i in range(0, len(bts)-3)] AS gs
              FROM bs),
        sig AS (SELECT asset_id, $mh AS mh FROM g),
        bk0 AS (SELECT asset_id,
                  UNNEST([CAST(k AS VARCHAR) || '|' || CAST(
                            list_reduce(list_prepend(0::BIGINT, mh[4*k+1:4*k+4]),
                                        (a,v) -> (a*31 + v) % $FpP) AS VARCHAR)
                          for k in range(0, $FpBands)]) AS bucket
                FROM sig),
        bk AS (SELECT asset_id, bucket FROM bk0
               ${ColOps.capBucketsQualifySql(cap)}),
        pairs AS (SELECT DISTINCT a.asset_id AS asset_a, b.asset_id AS asset_b
                  FROM bk a JOIN bk b ON a.bucket = b.bucket
                                     AND a.asset_id < b.asset_id)
        SELECT p.asset_a, p.asset_b,
               CAST(len([i for i in range(1, ${FpHashes + 1})
                         if sa.mh[i] = sb.mh[i]]) AS BIGINT) AS n_agree
        FROM pairs p
        JOIN sig sa ON sa.asset_id = p.asset_a
        JOIN sig sb ON sb.asset_id = p.asset_b
        WHERE len([i for i in range(1, ${FpHashes + 1})
                   if sa.mh[i] = sb.mh[i]]) >= $minAgree"""
  }
  private def fpAExpr(j: String): String = s"100003 + 17*$j"
  private def fpBExpr(j: String): String = s"7 + 31*$j"

  // --- REAL WAV PCM codec path (graft.functions.WavCodec) ---

  /** WAV assets staged from the documents table: each document's UTF-8
    * bytes become a mono 16-bit PCM signal (`s_i = (b_i − 128)·256`,
    * spans the full s16 range, exact) inside a genuine RIFF/WAVE
    * container at a per-asset sample rate `8000 + (doc_id % 3)·4000` —
    * VARYING per row, so the decoder must actually parse the header (a
    * constant rate could be guessed without reading the container).
    * Built per-partition with no driver involvement. decode∘encode is
    * the identity on samples, which is what lets the DuckDB oracle
    * verify the real parser byte-exactly from the text alone: any
    * mis-parse (offset, endianness, field width) breaks the hash match.
    */
  def wavAssets(spark: SparkSession, dir: String): DataFrame = {
    val assets = ColOps.table(spark, dir, "documents").select(
      col("doc_id").as("asset_id"), encode(col("text"), "UTF-8").as("media"))
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("media", BinaryType, nullable = false)))
    val rdd = assets.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val samples = new Array[Int](bytes.length)
        var i = 0
        while (i < bytes.length) { samples(i) = ((bytes(i) & 0xff) - 128) * 256; i += 1 }
        Row(id, graft.functions.WavCodec.encodePcm16(samples,
          (8000 + (id % 3) * 4000).toInt))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Shared oracle prefix: per-doc expected PCM sample list from the
    * UTF-8 hex (same byte→sample mapping as [[wavAssets]]).
    */
  private def wavSamplesCte: String =
    s"""WITH b AS (SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents),
        s AS (SELECT doc_id,
                [((strpos('0123456789abcdef', hx[2*i+1])-1)*16
                  + (strpos('0123456789abcdef', hx[2*i+2])-1) - 128) * 256
                 for i in range(0, len(hx)//2)] AS sm
              FROM b)"""

  private def wavFeatureSelect(rateExpr: String, from: String): String =
    s"""SELECT doc_id AS asset_id,
               CAST($rateExpr AS INT) AS sample_rate,
               CAST(1 AS INT) AS channels,
               CAST(len(sm) AS BIGINT) AS n_samples,
               CAST(COALESCE(list_min(sm), 0) AS BIGINT) AS min_s,
               CAST(COALESCE(list_max(sm), 0) AS BIGINT) AS max_s,
               CAST(COALESCE(list_sum(list_transform(sm, x -> abs(x))), 0) AS BIGINT) AS sum_abs,
               CAST(COALESCE(list_sum(list_transform(sm, x -> x*x)), 0) AS BIGINT) AS sum_sq
        FROM $from"""

  /** DuckDB mirror of wav_decode over [[wavAssets]]: expected features
    * computed directly from the source signal — the Spark side must
    * recover the SAME numbers through the real container parse.
    */
  def wavDecodeSql: String =
    s"""$wavSamplesCte
        ${wavFeatureSelect("8000 + (doc_id % 3) * 4000", "s")}"""

  /** DuckDB mirror of wav_decode(wav_resample(media, k)): decimation
    * applied directly to the expected signal, rate divided by k (the
    * fixture rates 8000/12000/16000 are all divisible by 4).
    */
  def wavResampleSql(k: Int): String =
    s"""$wavSamplesCte,
        d AS (SELECT doc_id,
                [sm[$k*i+1] for i in range(0, (len(sm) + $k - 1)//$k)] AS sm
              FROM s)
        ${wavFeatureSelect(s"(8000 + (doc_id % 3) * 4000) // $k", "d")}"""

  // --- REAL BMP image codec path (graft.functions.BmpCodec) ---

  /** BMP assets staged from the documents table: each document's UTF-8
    * byte `b_i` becomes LOGICAL top-down pixel i (row-major) with
    * channels `(r, g, b) = (b_i, (7·b_i + 13) mod 256, 255 − b_i)`;
    * width is `4 + (doc_id mod 4)` (4–7 — covers all four row-padding
    * cases 0/1/2/3 bytes), height is ⌈n / width⌉, and trailing pixels
    * of the last row are (0,0,0). The encoder writes genuine bottom-up
    * padded 24-bit BI_RGB; the oracle computes expected features from
    * the text alone, and the RESIZE query's 2-D decimation is
    * orientation-sensitive, so a decoder that forgot the bottom-up flip
    * or mis-stepped the padding breaks the hash match.
    */
  def bmpAssets(spark: SparkSession, dir: String): DataFrame = {
    val docs = ColOps.table(spark, dir, "documents").select(col("doc_id"), col("text"))
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("media", BinaryType, nullable = false)))
    val rdd = docs.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val w = 4 + (id % 4).toInt
        val h = (bytes.length + w - 1) / w
        val px = new Array[Int](w * h)
        var i = 0
        while (i < bytes.length) {
          val b = bytes(i) & 0xff
          px(i) = (b << 16) | (((7 * b + 13) % 256) << 8) | (255 - b)
          i += 1
        }
        Row(id, graft.functions.BmpCodec.encodeRgb24(px, w, h))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Oracle CTE shared by the BMP queries: per-doc byte list + geometry. */
  private def bmpBytesCte: String = bmpBytesCtePrefixed("")

  /** The same chain with PREFIXED cte names — for composed oracles
    * whose outer WITH would otherwise collide with the b/g/geo names a
    * nested subquery re-uses (DuckDB rejects an outer/nested duplicate
    * alias when the outer is in the same main-body scope).
    */
  private def bmpBytesCtePrefixed(p: String): String =
    s"""WITH ${p}b AS (SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents),
        ${p}g AS (SELECT doc_id,
                [(strpos('0123456789abcdef', hx[2*i+1])-1)*16
                 + (strpos('0123456789abcdef', hx[2*i+2])-1)
                 for i in range(0, len(hx)//2)] AS bts,
                4 + (doc_id % 4) AS w
              FROM ${p}b),
        ${p}geo AS (SELECT doc_id, bts, w,
                  (len(bts) + w - 1) // w AS h
                FROM ${p}g)"""

  /** DuckDB mirror of bmp_decode over [[bmpAssets]] (padded trailing
    * pixels are (0,0,0) — they add n_px but nothing to the sums).
    */
  def bmpDecodeSql: String =
    s"""$bmpBytesCte
        SELECT doc_id AS asset_id,
               CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(w * h AS BIGINT) AS n_px,
               CAST(COALESCE(list_sum(bts), 0) AS BIGINT) AS sum_r,
               CAST(COALESCE(list_sum(list_transform(bts, x -> (7*x + 13) % 256)), 0)
                    AS BIGINT) AS sum_g,
               CAST(COALESCE(list_sum(list_transform(bts, x -> 255 - x)), 0)
                    AS BIGINT) AS sum_b
        FROM geo"""

  /** DuckDB mirror of bmp_decode(bmp_resample(media, k)): decimation
    * done in the LOGICAL top-down index space (pixel i kept iff its
    * column i mod w and row i div w are both ≡ 0 mod k) — this is the
    * row-set a bottom-up-confused decoder gets wrong.
    */
  def bmpResampleSql(k: Int): String =
    s"""$bmpBytesCte,
        kept AS (SELECT doc_id, bts, w, h,
                   [i for i in range(0, w * h)
                    if (i % w) % $k = 0 AND (i // w) % $k = 0] AS ks
                 FROM geo)
        SELECT doc_id AS asset_id,
               CAST((w + $k - 1) // $k AS INT) AS width,
               CAST((h + $k - 1) // $k AS INT) AS height,
               CAST(((w + $k - 1) // $k) * ((h + $k - 1) // $k) AS BIGINT) AS n_px,
               CAST(COALESCE(list_sum(list_transform(ks,
                      i -> CASE WHEN i < len(bts) THEN bts[i+1] ELSE 0 END)), 0)
                    AS BIGINT) AS sum_r,
               CAST(COALESCE(list_sum(list_transform(ks,
                      i -> CASE WHEN i < len(bts) THEN (7*bts[i+1] + 13) % 256 ELSE 0 END)), 0)
                    AS BIGINT) AS sum_g,
               CAST(COALESCE(list_sum(list_transform(ks,
                      i -> CASE WHEN i < len(bts) THEN 255 - bts[i+1] ELSE 0 END)), 0)
                    AS BIGINT) AS sum_b
        FROM kept"""

  // --- PNG (the genuinely COMPRESSED container) ---

  /** PNG asset fixture: the SAME deterministic byte→pixel mapping as
    * [[bmpAssets]] (so the two image codecs share their oracle algebra)
    * but encoded through the real compression pipeline — per-scanline
    * filters (row y gets filter y % 5; every doc has h ≥ 5 rows at the
    * fixture text lengths, so all five unfilter paths run on every
    * asset) and a DEFLATE stream with one stored + one fixed-Huffman
    * block. h is floored at 1: a PNG cannot be zero-height (the BMP
    * fixture's h = 0 case has no PNG analogue).
    */
  def pngAssets(spark: SparkSession, dir: String): DataFrame = {
    // staging parallelism: the documents scan is a single partition at
    // fixture scale, which would serialize the per-row container
    // ENCODE (the genuinely priced part since the three-block deflate
    // emit); spread it the way a real media pipeline would
    val docs = ColOps.table(spark, dir, "documents").select(col("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("media", BinaryType, nullable = false)))
    val rdd = docs.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val w = 4 + (id % 4).toInt
        val h = math.max(1, (bytes.length + w - 1) / w)
        val px = new Array[Int](w * h)
        var i = 0
        while (i < bytes.length) {
          val b = bytes(i) & 0xff
          px(i) = (b << 16) | (((7 * b + 13) % 256) << 8) | (255 - b)
          i += 1
        }
        Row(id, graft.functions.PngCodec.encodeRgb8(px, w, h))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** DuckDB mirror of png_decode over [[pngAssets]]: the BMP sum
    * algebra plus the position-sensitive rolling hash over the padded
    * logical RGB byte stream — the moment that breaks on any row-order
    * or filter mistake (channel sums alone are order-invariant).
    */
  def pngDecodeSql: String =
    s"""$bmpBytesCte,
        geo1 AS (SELECT doc_id, bts, w, GREATEST(h, 1) AS h FROM geo),
        flat AS (SELECT doc_id, bts, w, h,
                   flatten([CASE WHEN i < len(bts)
                      THEN [bts[i+1], (7*bts[i+1] + 13) % 256, 255 - bts[i+1]]
                      ELSE [0, 0, 0] END
                    for i in range(0, w * h)]) AS pxb
                 FROM geo1)
        SELECT doc_id AS asset_id,
               CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(w * h AS BIGINT) AS n_px,
               CAST(COALESCE(list_sum(bts), 0) AS BIGINT) AS sum_r,
               CAST(COALESCE(list_sum(list_transform(bts, x -> (7*x + 13) % 256)), 0)
                    AS BIGINT) AS sum_g,
               CAST(COALESCE(list_sum(list_transform(bts, x -> 255 - x)), 0)
                    AS BIGINT) AS sum_b,
               list_reduce(list_prepend(0::BIGINT, pxb),
                 (a, c) -> (a * 31 + c) % ${graft.functions.PngCodec.HashMod}) AS px_hash
        FROM flat"""

  // --- GIF (the palette + LZW container) ---

  /** GIF asset fixture: each document byte `b_i` becomes PALETTE INDEX
    * i over the shared fixture palette (index v → (v, (7v+13) mod 256,
    * 255−v) — the same channel algebra as BMP/PNG, so the oracle
    * algebra is shared), geometry as [[pngAssets]] (w = 4 + id mod 4,
    * h floored at 1), padding pixels index 0 → (0,13,255). Container
    * axes rotate interlace, an ignored second animation frame (with a
    * LOCAL color table the decoder must skip), and a comment extension
    * — all INVISIBLE to the oracle by construction: the decode must
    * make them invisible, which is the test.
    */
  def gifAssets(spark: SparkSession, dir: String): DataFrame = {
    // same staging-parallelism note as [[pngAssets]]
    val docs = ColOps.table(spark, dir, "documents").select(col("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("media", BinaryType, nullable = false)))
    val rdd = docs.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val w = 4 + (id % 4).toInt
        val h = math.max(1, (bytes.length + w - 1) / w)
        val idx = new Array[Int](w * h) // zero-filled: padding = index 0
        var i = 0
        while (i < bytes.length) { idx(i) = bytes(i) & 0xff; i += 1 }
        Row(id, graft.functions.GifCodec.encodeIndexed(idx, w, h,
          interlaced = (id / 2) % 2 == 1,
          secondFrame = (id / 4) % 3 == 0,
          comment = (id / 2) % 3 == 0))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** DuckDB mirror of gif_decode over [[gifAssets]]: the shared sum
    * algebra with the GIF padding color (0,13,255) — padding pixels
    * contribute to sum_g/sum_b and to the position-sensitive px_hash,
    * unlike BMP/PNG's (0,0,0), so a decoder that mis-places padding
    * (or mis-orders interlaced rows) breaks the hash.
    */
  def gifDecodeSql: String =
    s"""$bmpBytesCte,
        geo1 AS (SELECT doc_id, bts, w, GREATEST(h, 1) AS h FROM geo),
        flat AS (SELECT doc_id, bts, w, h,
                   flatten([CASE WHEN i < len(bts)
                      THEN [bts[i+1], (7*bts[i+1] + 13) % 256, 255 - bts[i+1]]
                      ELSE [0, 13, 255] END
                    for i in range(0, w * h)]) AS pxb,
                   w * h - len(bts) AS n_pad
                 FROM geo1)
        SELECT doc_id AS asset_id,
               CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(w * h AS BIGINT) AS n_px,
               CAST(COALESCE(list_sum(bts), 0) AS BIGINT) AS sum_r,
               CAST(COALESCE(list_sum(list_transform(bts, x -> (7*x + 13) % 256)), 0)
                    + 13 * GREATEST(n_pad, 0) AS BIGINT) AS sum_g,
               CAST(COALESCE(list_sum(list_transform(bts, x -> 255 - x)), 0)
                    + 255 * GREATEST(n_pad, 0) AS BIGINT) AS sum_b,
               list_reduce(list_prepend(0::BIGINT, pxb),
                 (a, c) -> (a * 31 + c) % ${graft.functions.PngCodec.HashMod}) AS px_hash
        FROM flat"""

  /** DuckDB mirror of png_decode(png_resample(media, k)) over
    * [[pngAssets]]: decimation in the LOGICAL top-down index space
    * (the bmpResampleSql algebra) plus the position-sensitive px_hash
    * over the kept pixels' RGB stream — through the re-encode, so a
    * filter or row-order mistake in EITHER codec pass breaks it.
    */
  def pngResampleSql(k: Int): String =
    s"""$bmpBytesCte,
        geo2 AS (SELECT doc_id, bts, w, GREATEST(h, 1) AS h FROM geo),
        kept AS (SELECT doc_id, bts, w, h,
                   [i for i in range(0, w * h)
                    if (i % w) % $k = 0 AND (i // w) % $k = 0] AS ks
                 FROM geo2),
        flat AS (SELECT doc_id, bts, w, h, ks,
                   flatten(list_transform(ks, i -> CASE WHEN i < len(bts)
                      THEN [bts[i+1], (7*bts[i+1] + 13) % 256, 255 - bts[i+1]]
                      ELSE [0, 0, 0] END)) AS pxb
                 FROM kept)
        SELECT doc_id AS asset_id,
               CAST((w + $k - 1) // $k AS INT) AS width,
               CAST((h + $k - 1) // $k AS INT) AS height,
               CAST(((w + $k - 1) // $k) * ((h + $k - 1) // $k) AS BIGINT) AS n_px,
               CAST(COALESCE(list_sum(list_transform(ks,
                      i -> CASE WHEN i < len(bts) THEN bts[i+1] ELSE 0 END)), 0)
                    AS BIGINT) AS sum_r,
               CAST(COALESCE(list_sum(list_transform(ks,
                      i -> CASE WHEN i < len(bts) THEN (7*bts[i+1] + 13) % 256 ELSE 0 END)), 0)
                    AS BIGINT) AS sum_g,
               CAST(COALESCE(list_sum(list_transform(ks,
                      i -> CASE WHEN i < len(bts) THEN 255 - bts[i+1] ELSE 0 END)), 0)
                    AS BIGINT) AS sum_b,
               list_reduce(list_prepend(0::BIGINT, pxb),
                 (a, c) -> (a * 31 + c) % ${graft.functions.PngCodec.HashMod}) AS px_hash
        FROM flat"""

  // --- JPEG (lossy tier): constant-cell baseline containers ---------

  /** Cell cap per asset: bounds pixels per doc (a 4:2:0 asset is ≤
    * 64×192 px), so the per-pixel oracle lists stay small while the
    * DC-prediction chain still walks up to 24 × 3 component blocks.
    */
  val JpegMaxCells = 24

  private def jpegGray(id: Long): Boolean = id % 7 == 3
  private def jpegSub(id: Long): Boolean = !jpegGray(id) && id % 2 == 1

  /** Mixed-axis baseline-JPEG containers staged from the documents
    * table: the first [[JpegMaxCells]] text bytes color the constant
    * cells of a [[graft.functions.JpegCodec.encodeCells]] image.
    * Every decode-relevant axis is a pure function of doc_id — 4:4:4 /
    * 4:2:0 / grayscale scans, 2-4 cells per row, right/bottom edge
    * clipping (0-4 px), and restart intervals on doc_id ≡ 4 (mod 11) —
    * so the oracle predicts geometry, channel sums, and the
    * position-sensitive px_hash from the table alone. Constant cells
    * make the lossy codec EXACT (DC-only blocks survive any faithful
    * IDCT bit-for-bit); JpegCodecSpec covers nonzero-AC streams
    * against the JDK codec.
    */
  def jpegAssets(spark: SparkSession, dir: String): DataFrame = {
    // same staging-parallelism note as [[pngAssets]]
    val docs = ColOps.table(spark, dir, "documents").select(col("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("media", BinaryType, nullable = false)))
    val rdd = docs.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.min(bytes.length, JpegMaxCells)
        val cells = Array.tabulate(n)(i => bytes(i) & 0xff)
        val c = if (jpegSub(id)) 16 else 8
        val cpr = 2 + (id % 3).toInt
        val rows = math.max(1, (n + cpr - 1) / cpr)
        val w = cpr * c - (id % 5).toInt
        val h = rows * c - ((id + 3) % 5).toInt
        val rst = if (id % 11 == 4) 2 else 0
        Row(id, graft.functions.JpegCodec.encodeCells(
          cells, w, h, jpegSub(id), jpegGray(id), rst))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Shared oracle CTE chain for the JPEG fixture: per doc the decoded
    * geometry, per-pixel RGB triples (px3) and flattened byte stream
    * (pxb). The YCbCr→RGB mirror uses the decoder's fixed-point
    * constants with a +2^26 bias before `//` — SQL integer division
    * truncates toward zero where Java's >>16 floors, and the bias makes
    * the operand positive so the two agree.
    */
  private def jpegChainCtes: String = {
    def fx(bv: String): (String, String, String) = {
      val cb = s"((7*$bv + 13) % 256 - 128)"
      val cr = s"(127 - $bv)"
      def cl(e: String) = s"LEAST(255, GREATEST(0, $e))"
      (cl(s"$bv + ((91881*$cr + 32768 + 67108864) // 65536) - 1024"),
        cl(s"$bv + ((-22554*$cb - 46802*$cr + 32768 + 67108864) // 65536) - 1024"),
        cl(s"$bv + ((116131*$cb + 32768 + 67108864) // 65536) - 1024"))
    }
    val (rr, gg, bb) = fx("bv")
    s"""jb AS (SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents),
        jg AS (SELECT doc_id,
                 [(strpos('0123456789abcdef', hx[2*i+1])-1)*16
                  + (strpos('0123456789abcdef', hx[2*i+2])-1)
                  for i in range(0, len(hx)//2)] AS bts
               FROM jb),
        jgeo AS (SELECT doc_id, bts,
                   LEAST(len(bts), $JpegMaxCells) AS nc,
                   CASE WHEN doc_id % 7 = 3 OR doc_id % 2 = 0 THEN 8 ELSE 16 END AS c,
                   CAST(2 + doc_id % 3 AS BIGINT) AS cpr,
                   (doc_id % 7 = 3) AS gray
                 FROM jg),
        jdims AS (SELECT doc_id, bts, nc, c, cpr, gray,
                    GREATEST((nc + cpr - 1) // cpr, 1) AS nrows,
                    cpr * c - (doc_id % 5) AS w,
                    GREATEST((nc + cpr - 1) // cpr, 1) * c - ((doc_id + 3) % 5) AS h
                  FROM jgeo),
        jcell AS (SELECT doc_id, c, cpr, w, h,
                    list_transform(
                      list_transform(range(0, cpr * nrows),
                        j -> CASE WHEN j < nc THEN bts[CAST(j AS INT) + 1] ELSE 0 END),
                      bv -> CASE WHEN gray THEN [bv, bv, bv]
                                 ELSE [$rr, $gg, $bb] END) AS crgb
                  FROM jdims),
        jflat AS (SELECT doc_id, w, h,
                    list_transform(range(0, w * h), i ->
                      crgb[CAST(((i // w) // c) * cpr + ((i % w) // c) AS INT) + 1]) AS px3
                  FROM jcell)"""
  }

  /** DuckDB mirror of jpeg_decode over [[jpegAssets]]: geometry +
    * channel sums + the position-sensitive px_hash (the PNG moment
    * discipline — breaks on any MCU-order, upsample, or edge-clip
    * mistake the order-invariant sums would miss).
    */
  def jpegDecodeSql: String =
    s"""WITH $jpegChainCtes
        SELECT doc_id AS asset_id,
               CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(w * h AS BIGINT) AS n_px,
               CAST(COALESCE(list_sum(list_transform(px3, t -> t[1])), 0) AS BIGINT) AS sum_r,
               CAST(COALESCE(list_sum(list_transform(px3, t -> t[2])), 0) AS BIGINT) AS sum_g,
               CAST(COALESCE(list_sum(list_transform(px3, t -> t[3])), 0) AS BIGINT) AS sum_b,
               list_reduce(list_prepend(0::BIGINT, flatten(px3)),
                 (a, x) -> (a * 31 + x) % ${graft.functions.PngCodec.HashMod}) AS px_hash
        FROM jflat"""

  // --- canonical-container transcode (media normalization) ----------

  /** Normalize the mixed corpus's IMAGES to the canonical container:
    * try-decode each payload (BMP/PNG/JPEG — strict NULLs are the
    * sniffer), re-encode as PNG, and re-decode IN-PLAN so the oracle
    * checks the full composition: the transcoded container must
    * reproduce the source's geometry, channel sums, and
    * position-sensitive px_hash. Non-image payloads (wav, raw text)
    * drop out on the transcode NULL. One map pass, zero shuffle.
    */
  def transcodeNormalize(assets: DataFrame): DataFrame =
    pngFeaturesOf(assets,
      graft.functions.ImageToPng.image_to_png(col("media")))

  /** Shared tail of the transcode-family queries: re-decode the
    * produced canonical container in-plan and flatten the feature
    * struct (ONE definition so the transcode and thumbnail shapes
    * cannot drift).
    */
  private def pngFeaturesOf(assets: DataFrame, container: Column): DataFrame =
    assets.select(col("asset_id"),
        graft.functions.PngDecode.png_decode(container).as("d"))
      .filter(col("d").isNotNull)
      .select(col("asset_id"),
        col("d.width").as("width"), col("d.height").as("height"),
        col("d.n_px").as("n_px"), col("d.sum_r").as("sum_r"),
        col("d.sum_g").as("sum_g"), col("d.sum_b").as("sum_b"),
        col("d.px_hash").as("px_hash"))

  /** DuckDB mirror of [[transcodeNormalize]] over [[mixedAssets]]:
    * three source-format branches predicting the POST-transcode PNG
    * decode from the documents table — bmp geometry (no height floor;
    * zero-height sources are untranscodable and drop), png geometry,
    * and the jpeg cell chain. Values identical to each source's own
    * decode: the transcode must be pixel-transparent.
    */
  def transcodeSql: String =
    s"""${bmpBytesCtePrefixed("t")},
        bflat AS (SELECT doc_id, bts, w, h,
                    flatten([CASE WHEN i < len(bts)
                       THEN [bts[i+1], (7*bts[i+1] + 13) % 256, 255 - bts[i+1]]
                       ELSE [0, 0, 0] END
                     for i in range(0, w * h)]) AS pxb
                  FROM tgeo WHERE doc_id % 6 = 1 AND h > 0)
        SELECT doc_id AS asset_id,
               CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(w * h AS BIGINT) AS n_px,
               CAST(COALESCE(list_sum(bts), 0) AS BIGINT) AS sum_r,
               CAST(COALESCE(list_sum(list_transform(bts,
                 x -> (7*x + 13) % 256)), 0) AS BIGINT) AS sum_g,
               CAST(COALESCE(list_sum(list_transform(bts,
                 x -> 255 - x)), 0) AS BIGINT) AS sum_b,
               list_reduce(list_prepend(0::BIGINT, pxb),
                 (a, c) -> (a * 31 + c) % ${graft.functions.PngCodec.HashMod}) AS px_hash
        FROM bflat
        UNION ALL
        SELECT * FROM ($pngDecodeSql) p WHERE p.asset_id % 6 = 2
        UNION ALL
        SELECT * FROM ($jpegDecodeSql) j WHERE j.asset_id % 6 = 3
        UNION ALL
        SELECT * FROM ($gifDecodeSql) gf WHERE gf.asset_id % 6 = 4"""

  /** Format-agnostic THUMBNAILS over the mixed corpus: decode any
    * image container, k-decimate in logical orientation, land in the
    * canonical container, re-decode in-plan — the thumbnail/preview
    * generation step of a media pipeline, now independent of what the
    * crawl delivered. Same map-only, fail-closed shape as
    * [[transcodeNormalize]].
    */
  def thumbnails(assets: DataFrame, k: Int): DataFrame =
    pngFeaturesOf(assets,
      graft.functions.ImageThumbnail.image_thumbnail(col("media"), k))

  /** DuckDB mirror of [[thumbnails]] over [[mixedAssets]]: the
    * [[transcodeSql]] branches with the Bmp/PngResample decimation
    * algebra applied per source geometry.
    */
  def thumbnailSql(k: Int): String =
    s"""${bmpBytesCtePrefixed("t")},
        $jpegChainCtes,
        tkept AS (SELECT doc_id, bts, w, h,
                    [i for i in range(0, w * h)
                     if (i % w) % $k = 0 AND (i // w) % $k = 0] AS ks
                  FROM tgeo WHERE doc_id % 6 = 1 AND h > 0),
        gkept AS (SELECT doc_id, bts, w, GREATEST(h, 1) AS gh,
                    [i for i in range(0, w * GREATEST(h, 1))
                     if (i % w) % $k = 0 AND (i // w) % $k = 0] AS ks
                  FROM tgeo WHERE doc_id % 6 = 4),
        gflat AS (SELECT doc_id, w, gh, ks,
                    list_transform(ks, i -> CASE WHEN i < len(bts)
                       THEN [bts[i+1], (7*bts[i+1] + 13) % 256, 255 - bts[i+1]]
                       ELSE [0, 13, 255] END) AS gpx3
                  FROM gkept),
        tflat AS (SELECT doc_id, w, h, ks,
                    flatten(list_transform(ks, i -> CASE WHEN i < len(bts)
                       THEN [bts[i+1], (7*bts[i+1] + 13) % 256, 255 - bts[i+1]]
                       ELSE [0, 0, 0] END)) AS pxb,
                    list_transform(ks, i -> CASE WHEN i < len(bts)
                       THEN bts[i+1] ELSE NULL END) AS kb
                  FROM tkept),
        jkept AS (SELECT doc_id, w, h,
                    list_transform([i for i in range(0, w * h)
                       if (i % w) % $k = 0 AND (i // w) % $k = 0],
                      i -> px3[CAST(i AS INT) + 1]) AS px3k
                  FROM jflat WHERE doc_id % 6 = 3)
        SELECT doc_id AS asset_id,
               CAST((w + $k - 1) // $k AS INT) AS width,
               CAST((h + $k - 1) // $k AS INT) AS height,
               CAST(((w + $k - 1) // $k) * ((h + $k - 1) // $k) AS BIGINT) AS n_px,
               CAST(COALESCE(list_sum(kb), 0) AS BIGINT) AS sum_r,
               CAST(COALESCE(list_sum(list_transform(kb,
                 x -> (7*x + 13) % 256)), 0) AS BIGINT) AS sum_g,
               CAST(COALESCE(list_sum(list_transform(kb,
                 x -> 255 - x)), 0) AS BIGINT) AS sum_b,
               list_reduce(list_prepend(0::BIGINT, pxb),
                 (a, c) -> (a * 31 + c) % ${graft.functions.PngCodec.HashMod}) AS px_hash
        FROM tflat
        UNION ALL
        SELECT * FROM (${pngResampleSql(k)}) p WHERE p.asset_id % 6 = 2
        UNION ALL
        SELECT doc_id AS asset_id,
               CAST((w + $k - 1) // $k AS INT) AS width,
               CAST((h + $k - 1) // $k AS INT) AS height,
               CAST(((w + $k - 1) // $k) * ((h + $k - 1) // $k) AS BIGINT) AS n_px,
               CAST(COALESCE(list_sum(list_transform(px3k, t -> t[1])), 0) AS BIGINT) AS sum_r,
               CAST(COALESCE(list_sum(list_transform(px3k, t -> t[2])), 0) AS BIGINT) AS sum_g,
               CAST(COALESCE(list_sum(list_transform(px3k, t -> t[3])), 0) AS BIGINT) AS sum_b,
               list_reduce(list_prepend(0::BIGINT, flatten(px3k)),
                 (a, c) -> (a * 31 + c) % ${graft.functions.PngCodec.HashMod}) AS px_hash
        FROM jkept
        UNION ALL
        SELECT doc_id AS asset_id,
               CAST((w + $k - 1) // $k AS INT) AS width,
               CAST((gh + $k - 1) // $k AS INT) AS height,
               CAST(((w + $k - 1) // $k) * ((gh + $k - 1) // $k) AS BIGINT) AS n_px,
               CAST(COALESCE(list_sum(list_transform(gpx3, t -> t[1])), 0) AS BIGINT) AS sum_r,
               CAST(COALESCE(list_sum(list_transform(gpx3, t -> t[2])), 0) AS BIGINT) AS sum_g,
               CAST(COALESCE(list_sum(list_transform(gpx3, t -> t[3])), 0) AS BIGINT) AS sum_b,
               list_reduce(list_prepend(0::BIGINT, flatten(gpx3)),
                 (a, c) -> (a * 31 + c) % ${graft.functions.PngCodec.HashMod}) AS px_hash
        FROM gflat"""

  // --- multi-format dispatch (mixed-modality corpus routing) ---

  /** Mixed-modality corpus staged from the documents table: WAV
    * containers for doc_id ≡ 0 (mod 6), BMP for ≡ 1, PNG for ≡ 2,
    * JPEG for ≡ 3, GIF for ≡ 4, raw UTF-8 bytes for ≡ 5 — the
    * realistic input of a crawl-scale media pipeline where format is
    * only knowable from the bytes.
    */
  def mixedAssets(spark: SparkSession, dir: String): DataFrame = {
    val wav = wavAssets(spark, dir).filter(col("asset_id") % 6 === 0)
    val bmp = bmpAssets(spark, dir).filter(col("asset_id") % 6 === 1)
    val png = pngAssets(spark, dir).filter(col("asset_id") % 6 === 2)
    val jpg = jpegAssets(spark, dir).filter(col("asset_id") % 6 === 3)
    val gif = gifAssets(spark, dir).filter(col("asset_id") % 6 === 4)
    val raw = ColOps.table(spark, dir, "documents")
      .filter(col("doc_id") % 6 === 5)
      .select(col("doc_id").as("asset_id"), encode(col("text"), "UTF-8").as("media"))
    wav.unionByName(bmp).unionByName(png).unionByName(jpg).unionByName(gif)
      .unionByName(raw)
  }

  /** Format DISPATCH by try-decode: route each payload to the codec
    * that accepts it (the strict parsers return NULL on foreign or
    * corrupt bytes, so `coalesce` over the decode structs IS the
    * sniffer), falling through to raw-byte accounting. One row per
    * asset: (kind, n_units, checksum) — units are samples / pixels /
    * bytes, checksum the codec's integer moment (sum|s| / Σrgb / Σb).
    * A corrupt container deliberately lands in `raw`, counted for
    * triage rather than dropped or mis-featured — DISPATCH IS
    * FAIL-OPEN where each codec alone is fail-closed (spec-pinned).
    * All three decodes run inside one whole-stage-codegen project;
    * zero shuffle, zero driver involvement.
    */
  def decodeDispatch(assets: DataFrame): DataFrame = {
    val w = graft.functions.WavDecode.wav_decode(col("media"))
    val b = graft.functions.BmpDecode.bmp_decode(col("media"))
    val p = graft.functions.PngDecode.png_decode(col("media"))
    val j = graft.functions.JpegDecode.jpeg_decode(col("media"))
    val g = graft.functions.GifDecode.gif_decode(col("media"))
    assets.select(col("asset_id"), w.as("w"), b.as("b"), p.as("p"), j.as("j"),
        g.as("g"), col("media"))
      .select(col("asset_id"),
        when(col("w").isNotNull, lit("wav"))
          .when(col("b").isNotNull, lit("bmp"))
          .when(col("p").isNotNull, lit("png"))
          .when(col("j").isNotNull, lit("jpeg"))
          .when(col("g").isNotNull, lit("gif"))
          .otherwise(lit("raw")).as("kind"),
        coalesce(col("w.n_samples"), col("b.n_px"), col("p.n_px"), col("j.n_px"),
          col("g.n_px"), length(col("media")).cast("long")).as("n_units"),
        coalesce(col("w.sum_abs"),
          col("b.sum_r") + col("b.sum_g") + col("b.sum_b"),
          col("p.sum_r") + col("p.sum_g") + col("p.sum_b"),
          col("j.sum_r") + col("j.sum_g") + col("j.sum_b"),
          col("g.sum_r") + col("g.sum_g") + col("g.sum_b"),
          graft.functions.ByteSum.byte_sum(col("media")))
          .as("checksum"))
  }

  /** DuckDB mirror of [[decodeDispatch]] over [[mixedAssets]]: expected
    * kind/units/checksum computed from the text by the doc_id route.
    */
  def decodeDispatchSql: String =
    s"""WITH b AS (SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents),
        g AS (SELECT doc_id,
                [(strpos('0123456789abcdef', hx[2*i+1])-1)*16
                 + (strpos('0123456789abcdef', hx[2*i+2])-1)
                 for i in range(0, len(hx)//2)] AS bts
              FROM b),
        $jpegChainCtes
        SELECT doc_id AS asset_id,
               CASE doc_id % 6 WHEN 0 THEN 'wav' WHEN 1 THEN 'bmp'
                 WHEN 2 THEN 'png' WHEN 4 THEN 'gif' ELSE 'raw' END AS kind,
               CAST(CASE doc_id % 6
                 WHEN 0 THEN len(bts)
                 WHEN 1 THEN (4 + doc_id % 4) *
                   ((len(bts) + (4 + doc_id % 4) - 1) // (4 + doc_id % 4))
                 WHEN 2 THEN (4 + doc_id % 4) *
                   GREATEST((len(bts) + (4 + doc_id % 4) - 1) // (4 + doc_id % 4), 1)
                 WHEN 4 THEN (4 + doc_id % 4) *
                   GREATEST((len(bts) + (4 + doc_id % 4) - 1) // (4 + doc_id % 4), 1)
                 ELSE len(bts) END AS BIGINT) AS n_units,
               CAST(CASE doc_id % 6
                 WHEN 0 THEN COALESCE(list_sum(list_transform(bts,
                   x -> abs((x - 128) * 256))), 0)
                 WHEN 1 THEN COALESCE(list_sum(list_transform(bts,
                   x -> x + (7*x + 13) % 256 + 255 - x)), 0)
                 WHEN 2 THEN COALESCE(list_sum(list_transform(bts,
                   x -> x + (7*x + 13) % 256 + 255 - x)), 0)
                 WHEN 4 THEN COALESCE(list_sum(list_transform(bts,
                   x -> x + (7*x + 13) % 256 + 255 - x)), 0)
                   -- GIF padding pixels are palette index 0 → (0,13,255)
                   + 268 * ((4 + doc_id % 4) *
                       GREATEST((len(bts) + (4 + doc_id % 4) - 1) // (4 + doc_id % 4), 1)
                       - len(bts))
                 ELSE COALESCE(list_sum(bts), 0) END AS BIGINT) AS checksum
        FROM g WHERE doc_id % 6 != 3
        UNION ALL
        SELECT doc_id AS asset_id, 'jpeg' AS kind,
               CAST(w * h AS BIGINT) AS n_units,
               CAST(COALESCE(list_sum(list_transform(px3,
                 t -> t[1] + t[2] + t[3])), 0) AS BIGINT) AS checksum
        FROM jflat WHERE doc_id % 6 = 3"""

  def sampleFrames(assets: DataFrame, stride: Int): DataFrame =
    assets.select(
      col("asset_id"),
      // an EMPTY payload yields no frames (the oracle's floor division
      // agrees; the truncating (-1)/stride would instead emit one frame
      // of md5 of nothing)
      posexplode(when(length(col("media")) > 0,
        transform(
          sequence(lit(0), ((length(col("media")) - 1) / stride).cast("int")),
          i => lower(hex(substring(col("media"), (i * stride + 1).cast("int"), lit(1))))))
        .otherwise(array().cast("array<string>")))
        .as(Seq("frame_no", "frame_hex")))
      .select(col("asset_id"), col("frame_no").cast("long").as("frame_no"),
        md5(col("frame_hex")).as("frame_digest"))
}
