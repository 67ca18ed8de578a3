package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Session hygiene + fail-loud guards on the columnar operators. */
class ColOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("events read leaves the session conf untouched; repeated reads work") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    assert(!before.contains("true"), "precondition: flag not set by anything else")
    val ev = ColOps.table(spark, dir, "events")
    assert(ev.selectExpr("max(ts)").head().getLong(0) > 0L) // nanos read as Long
    assert(spark.conf.getOption(key) == before)             // untouched
    assert(ColOps.table(spark, dir, "events").count() > 0)  // later read fine
  }

  test("table infers a file's schema once per mtime") {
    import spark.implicits._
    val base = graft.core.Scratch.fresh("table_schema_")
    val path = base.resolve("t.parquet")
    Seq((1L, "a")).toDF("k", "v").write.parquet(path.toString)
    val (first, inferred) = counted(ColOps.table(spark, base.toString, "t"))
    val (again, memoized) = counted(ColOps.table(spark, base.toString, "t"))
    assert(inferred == 1 && memoized == 0, s"jobs: first $inferred, again $memoized")
    assert(again.schema == first.schema && again.as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    // rewritten with a new column and a later mtime: inferred again
    val mtime = java.nio.file.Files.getLastModifiedTime(path).toMillis
    Seq((2L, "b", 3.0)).toDF("k", "v", "w").write.mode("overwrite").parquet(path.toString)
    java.nio.file.Files.setLastModifiedTime(path,
      java.nio.file.attribute.FileTime.fromMillis(mtime + 5000))
    val (fresh, reinferred) = counted(ColOps.table(spark, base.toString, "t"))
    assert(reinferred == 1 && fresh.columns.toSeq == Seq("k", "v", "w"))
  }

  test("kAnonymityAudit: flags exactly the groups below k, with their sizes") {
    import spark.implicits._
    val df = Seq(
      ("US", "A"), ("US", "A"), ("US", "A"),          // size 3
      ("US", "B"),                                     // size 1 — at risk
      ("DE", "A"), ("DE", "A")).toDF("nation", "seg")  // size 2 — at risk
    val got = ColOps.kAnonymityAudit(df, Seq("nation", "seg"), 3L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("group_size"))
      .toMap
    assert(got == Map(("US", "B") -> 1L, ("DE", "A") -> 2L), s"got $got")
  }

  test("zipBySeq assumeDense: dense keys pass, sparse keys fail loudly") {
    import spark.implicits._
    val a = Seq((0L, "x"), (1L, "y"), (2L, "z")).toDF("seq", "va")
    val bDense = Seq((0L, 1.0), (1L, 2.0)).toDF("seq", "vb")
    assert(ColOps.zipBySeq(a, bDense, "b_", assumeDense = true).count() == 2)
    val bSparse = Seq((0L, 1.0), (5L, 2.0)).toDF("seq", "vb")
    val ex = intercept[Throwable] {
      ColOps.zipBySeq(a, bSparse, "b_", assumeDense = true).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("not dense")))
  }

  test("asofJoin: latest right row at-or-before each left row, tie-broken, null when none") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, 100L, "a"), (1L, 20L, 101L, "b"), (2L, 5L, 102L, "c"))
      .toDF("k", "t", "event_id", "lv")
    val right = Seq(
      (1L, 10L, 200L, "r1"), (1L, 10L, 201L, "r2"), // tie at t=10 → 201 wins
      (1L, 15L, 202L, "r3"),
      (2L, 50L, 203L, "r4"))                        // after every left row of k=2
      .toDF("k", "t", "event_id", "rv0")
      .select(col("k"), col("t"), col("event_id"),
        col("event_id").as("r_id"), col("rv0").as("rv"))
    val got = ColOps.asofJoin(left, right, "k", "t", "event_id")
      .select(col("event_id"), col("asof_r_id"), col("asof_rv"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
      .sortBy(_._1).toList
    assert(got == List(
      (100L, Some(201L), Some("r2")),  // same-time right rows visible, max tie
      (101L, Some(202L), Some("r3")),
      (102L, None, None)))             // no predecessor → null
  }

  test("zipBySeq assumeDense: duplicate-plus-gap seq multiset is rejected (not just min/max)") {
    import spark.implicits._
    val a = Seq((0L, "w"), (1L, "x"), (2L, "y"), (3L, "z")).toDF("seq", "va")
    // {0,1,1,3}: count=4, min=0, max=3 — passes a min/max-only check
    val bDupGap = Seq((0L, 1.0), (1L, 2.0), (1L, 3.0), (3L, 4.0)).toDF("seq", "vb")
    val ex = intercept[Throwable] {
      ColOps.zipBySeq(a, bDupGap, "b_", assumeDense = true).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("not dense")))
  }

  test("asofJoin attaches ONE whole right row — a null payload field is not patched from older rows") {
    import spark.implicits._
    val left = Seq((1L, 20L, 100L, "a")).toDF("k", "t", "event_id", "lv")
    val right = Seq(
      (1L, 5L, 200L, Some(200L), Some("x")),
      (1L, 8L, 201L, Some(201L), None: Option[String])) // latest row has a null field
      .toDF("k", "t", "event_id", "r_id", "rv")
    val got = ColOps.asofJoin(left, right, "k", "t", "event_id").head()
    assert(got.getAs[Long]("asof_r_id") == 201L)
    assert(got.isNullAt(got.fieldIndex("asof_rv"))) // NOT "x" from the older row
  }

  test("asofJoin edge cases: empty right keeps all left rows with nulls; empty left is empty") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L, "a")).toDF("k", "t", "event_id", "lv")
    val right0 = Seq.empty[(Long, Long, Long, Long, String)]
      .toDF("k", "t", "event_id", "r_id", "rv")
    val got = ColOps.asofJoin(left, right0, "k", "t", "event_id").collect()
    assert(got.length == 1 && got(0).isNullAt(got(0).fieldIndex("asof_r_id")))
    val left0 = Seq.empty[(Long, Long, Long, String)].toDF("k", "t", "event_id", "lv")
    val right = Seq((1L, 5L, 200L, 201L, "x")).toDF("k", "t", "event_id", "r_id", "rv")
    assert(ColOps.asofJoin(left0, right, "k", "t", "event_id").count() == 0)
  }

  test("bandJoin == naive inequality join, each pair exactly once (incl. bin-boundary values)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // mix random values with exact bin-boundary multiples of 2*tol
    val vals = Seq.tabulate(300)(i =>
      if (i % 10 == 0) (i / 10) * 0.1 else rnd.nextDouble() * 3)
    val a = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("seq_a", "v_a")
    val b = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("seq_b", "v_b")
    val got = ColOps.bandJoin(a, b, "v_a", "v_b", 0.05)
      .filter(col("seq_a") < col("seq_b"))
      .collect().map(r => (r.getAs[Long]("seq_a"), r.getAs[Long]("seq_b"))).toList
    val expect = (for {
      i <- vals.indices; j <- vals.indices
      if i < j && math.abs(vals(i) - vals(j)) <= 0.05
    } yield (i.toLong, j.toLong)).toList
    assert(got.sorted == expect.sorted)
    assert(got.size == got.distinct.size, "pair emitted more than once")
  }

  test("multimodal thumb digest is byte-based: non-ASCII row agrees with the oracle formula") {
    val s = "héllo wörld exträ pädding"
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
    def md5hex(b: Array[Byte]) =
      hex(java.security.MessageDigest.getInstance("MD5").digest(b))
    // the oracle computes md5(substring(lower(hex(encode(text))), 1, 32)):
    // md5 of the lowercase-hex STRING of the first 16 bytes
    val expectedThumb = md5hex(hex(bytes.take(16))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (n, digest, thumb, _, _, _) = Multimodal.stubDecode(bytes)
    assert(n == bytes.length.toLong)
    assert(digest == md5hex(bytes))
    assert(thumb == expectedThumb)
    // and through the distributed decode plumbing
    import spark.implicits._
    val assets = Seq((1L, s)).toDF("asset_id", "text")
      .select(col("asset_id"), encode(col("text"), "UTF-8").as("media"),
        struct(lit("x").as("container"), lit(1L).as("declared_size")).as("meta"))
    val out = Multimodal.decode(assets).head()
    assert(out.getAs[String]("thumb_digest") == expectedThumb)
    assert(out.getAs[Long]("n_bytes") == bytes.length.toLong)
  }

  test("sampleFrames digests BYTES: multibyte payload agrees with the hex-pair oracle formula") {
    import spark.implicits._
    val s = "é" * 40 // 80 UTF-8 bytes (0xc3 0xa9 …): char- and byte-indexing diverge
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val assets = Seq((1L, s)).toDF("asset_id", "text")
      .select(col("asset_id"), encode(col("text"), "UTF-8").as("media"))
    val got = Multimodal.sampleFrames(assets, 64).collect()
      .map(r => (r.getAs[Long]("frame_no"), r.getAs[String]("frame_digest"))).sortBy(_._1)
    // oracle formula: frame j = md5 of hex chars [2*64*j+1, +2] of the bytes
    def md5hex(x: String) =
      java.security.MessageDigest.getInstance("MD5").digest(x.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val hx = bytes.map("%02x".format(_)).mkString
    val expected = (0 until (bytes.length - 1) / 64 + 1)
      .map(j => (j.toLong, md5hex(hx.substring(j * 128, j * 128 + 2))))
    assert(got.toSeq == expected, s"got ${got.toList}")
  }

  test("byteFeatures: magic fold and nibble histogram match a hand computation (non-ASCII)") {
    import spark.implicits._
    val s = "Aé!" // bytes: 0x41, 0xc3, 0xa9, 0x21 — exercises high nibbles
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val assets = Seq((7L, s)).toDF("asset_id", "text")
      .select(col("asset_id"), encode(col("text"), "UTF-8").as("media"))
    val r = Multimodal.byteFeatures(assets).head()
    assert(r.getAs[Long]("n_bytes") == bytes.length.toLong)
    val expMagic = bytes.take(4).foldLeft(0L)((a, b) => a * 256 + (b & 0xff))
    assert(r.getAs[Long]("magic") == expMagic)
    val expHist = new Array[Long](16)
    bytes.foreach(b => expHist((b & 0xf0) >> 4) += 1)
    (0 until 16).foreach(b => assert(r.getAs[Long](f"h$b%02d") == expHist(b)))
  }

  test("resizeBytes: every stride-th byte kept (non-ASCII), empty payload kept at length 0") {
    import spark.implicits._
    val s = "é" * 10 + "x" // 21 UTF-8 bytes — stride 4 keeps bytes 0,4,8,12,16,20
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val assets = Seq((1L, s), (2L, "")).toDF("asset_id", "text")
      .select(col("asset_id"), encode(col("text"), "UTF-8").as("media"))
    val rows = Multimodal.resizeBytes(assets, 4).collect()
      .map(r => r.getAs[Long]("asset_id") ->
        (r.getAs[Long]("out_len"), r.getAs[String]("out_digest"))).toMap
    def md5hex(x: String) =
      java.security.MessageDigest.getInstance("MD5").digest(x.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val keptHex = bytes.indices.by(4).map(i => f"${bytes(i) & 0xff}%02x").mkString
    assert(rows(1L) == ((bytes.length + 3) / 4, md5hex(keptHex)), s"got ${rows(1L)}")
    // empty payload: row preserved, md5 of the empty string
    assert(rows(2L) == (0L, md5hex("")), s"got ${rows(2L)}")
  }

  test("WAV codec: encode-decode identity, fail-closed parse, real decimation round-trip") {
    import spark.implicits._
    import graft.functions.{WavCodec, WavDecode, WavSamples, WavResample}
    // hand-built signal spanning the s16 range including both extremes
    val sig = Array(0, 1, -1, 32512, -32768, 123, -4096, 257)
    val wav = WavCodec.encodePcm16(sig, 12000)
    assert(wav.length == 44 + 2 * sig.length)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF" &&
      new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val df = Seq((1L, wav)).toDF("asset_id", "media")
    // decode recovers the PARSED header fields + exact integer moments
    val d = df.select(WavDecode.wav_decode(col("media")).as("d"))
      .select(col("d.*")).head()
    assert(d.getInt(0) == 12000 && d.getInt(1) == 1 && d.getLong(2) == sig.length)
    assert(d.getLong(3) == -32768 && d.getLong(4) == 32512)
    assert(d.getLong(5) == sig.map(s => math.abs(s).toLong).sum)
    assert(d.getLong(6) == sig.map(s => s.toLong * s).sum)
    // PCM samples round-trip byte-exactly through the container
    assert(df.select(WavSamples.wav_samples(col("media"))).head()
      .getSeq[Int](0) == sig.toSeq)
    // resample: every 4th sample kept, declared rate divided, and the
    // re-encoded output is itself a VALID container (parses again)
    assert(df.select(WavSamples.wav_samples(
      WavResample.wav_resample(col("media"), 4))).head()
      .getSeq[Int](0) == Seq(sig(0), sig(4)))
    assert(df.select(WavDecode.wav_decode(
      WavResample.wav_resample(col("media"), 4)).as("d"))
      .select(col("d.sample_rate")).head().getInt(0) == 3000)
    // decimating past the sample rate would re-encode a rate-0 (invalid)
    // container — defined NULL, preserving "output is a fully valid WAV"
    assert(df.select(WavResample.wav_resample(col("media"), 20000)).head().isNullAt(0))
    // fail-closed: bad magic, truncation, lying data-size field → NULL,
    // never garbage features
    val badMagic = wav.clone(); badMagic(0) = 'X'.toByte
    val lyingSize = wav.clone(); lyingSize(40) = (lyingSize(40) + 2).toByte
    val bads = Seq((1L, badMagic), (2L, wav.dropRight(1)), (3L, lyingSize))
      .toDF("asset_id", "media")
      .select(WavDecode.wav_decode(col("media")).as("d"))
    assert(bads.collect().forall(_.isNullAt(0)), "malformed container decoded non-null")
    // empty (valid) container: zero samples, all moments defined 0
    val empty = Seq((1L, WavCodec.encodePcm16(Array.empty[Int], 8000)))
      .toDF("asset_id", "media")
      .select(WavDecode.wav_decode(col("media")).as("d")).select(col("d.*")).head()
    assert(empty.getInt(0) == 8000 && empty.getLong(2) == 0L &&
      empty.getLong(3) == 0L && empty.getLong(6) == 0L)
  }

  test("WAV codec: stereo container parses (channels from the header); resample is mono-only") {
    import spark.implicits._
    import graft.functions.{WavCodec, WavDecode, WavResample}
    // hand-patch a mono container to stereo: channels=2, blockAlign=4,
    // byteRate=rate*4 — the same 8 data bytes are now 2 frames x 2 ch,
    // and the parser must accept the cross-checked field combination
    val st = WavCodec.encodePcm16(Array(5, -7, 9, -11), 8000).clone()
    st(22) = 2                                  // channels (u16le lo)
    st(32) = 4                                  // blockAlign
    st(28) = 0x00; st(29) = 0x7d.toByte         // byteRate 32000 (u32le)
    st(30) = 0; st(31) = 0
    val df = Seq((1L, st)).toDF("asset_id", "media")
    val d = df.select(WavDecode.wav_decode(col("media")).as("d"))
      .select(col("d.*")).head()
    assert(d.getInt(0) == 8000 && d.getInt(1) == 2 && d.getLong(2) == 4L)
    assert(d.getLong(5) == 5L + 7 + 9 + 11) // moments span all channels
    // decimating interleaved channels naively would scramble frames —
    // resample is documented mono-only and must return NULL, not garbage
    assert(df.select(WavResample.wav_resample(col("media"), 2)).head().isNullAt(0))
  }

  test("BMP codec: bottom-up+padding round-trip, orientation-true decimation, fail-closed") {
    import spark.implicits._
    import graft.functions.{BmpCodec, BmpDecode, BmpResample}
    // 3x3 logical image with DISTINCT per-row values: any bottom-up
    // confusion shows up as a different kept-row set under decimation.
    // Width 3 -> row stride 12 (3 bytes padding), exercising the pad path.
    val px = Array(
      0x010203, 0x040506, 0x070809,  // row 0
      0x111213, 0x141516, 0x171819,  // row 1
      0x212223, 0x242526, 0x272829)  // row 2
    val bmp = BmpCodec.encodeRgb24(px, 3, 3)
    assert(bmp.length == 54 + 12 * 3) // header + 3 padded rows
    assert(bmp(0) == 'B'.toByte && bmp(1) == 'M'.toByte)
    val df = Seq((1L, bmp)).toDF("asset_id", "media")
    val d = df.select(BmpDecode.bmp_decode(col("media")).as("d"))
      .select(col("d.*")).head()
    assert(d.getInt(0) == 3 && d.getInt(1) == 3 && d.getLong(2) == 9L)
    assert(d.getLong(3) == px.map(p => ((p >> 16) & 0xff).toLong).sum)
    assert(d.getLong(4) == px.map(p => ((p >> 8) & 0xff).toLong).sum)
    assert(d.getLong(5) == px.map(p => (p & 0xff).toLong).sum)
    // decimation k=2 keeps LOGICAL (x,y) in {0,2}x{0,2}: pixels
    // 0x010203, 0x070809, 0x212223, 0x272829 — sums differ from ANY
    // bottom-up-confused row pick, which is the orientation proof
    val kept = Seq(px(0), px(2), px(6), px(8))
    val r = df.select(BmpDecode.bmp_decode(
        BmpResample.bmp_resample(col("media"), 2)).as("d"))
      .select(col("d.*")).head()
    assert(r.getInt(0) == 2 && r.getInt(1) == 2 && r.getLong(2) == 4L)
    assert(r.getLong(3) == kept.map(p => ((p >> 16) & 0xff).toLong).sum)
    assert(r.getLong(5) == kept.map(p => (p & 0xff).toLong).sum)
    // fail-closed: bad magic, truncation, lying width. Width 3 -> 5
    // changes the row stride (12 -> 16), so the pixel-data length check
    // must reject it (3 -> 4 would share stride 12 — that lie is
    // structurally invisible in BMP, an inherent padding ambiguity)
    val badMagic = bmp.clone(); badMagic(0) = 'X'.toByte
    val lyingW = bmp.clone(); lyingW(18) = (lyingW(18) + 2).toByte
    val bads = Seq((1L, badMagic), (2L, bmp.dropRight(1)), (3L, lyingW))
      .toDF("asset_id", "media")
      .select(BmpDecode.bmp_decode(col("media")).as("d"))
    assert(bads.collect().forall(_.isNullAt(0)), "malformed BMP decoded non-null")
    // zero-height (valid) image: geometry parsed, all sums 0
    val empty = Seq((1L, BmpCodec.encodeRgb24(Array.empty[Int], 5, 0)))
      .toDF("asset_id", "media")
      .select(BmpDecode.bmp_decode(col("media")).as("d")).select(col("d.*")).head()
    assert(empty.getInt(0) == 5 && empty.getInt(1) == 0 && empty.getLong(3) == 0L)
  }

  test("format dispatch: try-decode routes WAV/BMP/PNG/raw; corrupt containers land fail-OPEN in raw") {
    import spark.implicits._
    import graft.functions.{BmpCodec, PngCodec, WavCodec}
    import graft.operators.Multimodal
    val wav = WavCodec.encodePcm16(Array(1000, -2000), 8000)
    val bmp = BmpCodec.encodeRgb24(Array(0x0a0b0c), 1, 1)
    val png = PngCodec.encodeRgb8(Array(0x0a0b0c, 0x010101), 1, 2)
    val corrupt = wav.clone(); corrupt(0) = 'X'.toByte // dead container
    val raw = "hi".getBytes("UTF-8")
    val assets = Seq((0L, wav), (1L, bmp), (2L, raw), (3L, corrupt), (4L, png))
      .toDF("asset_id", "media")
    val got = Multimodal.decodeDispatch(assets).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == (("wav", 2L, 3000L)))
    assert(got(1L) == (("bmp", 1L, 0x0a + 0x0b + 0x0c)))
    assert(got(2L) == (("raw", 2L, 'h'.toLong + 'i'.toLong)))
    assert(got(4L) == (("png", 2L, 0x0a + 0x0b + 0x0c + 3L)))
    // each codec alone is fail-CLOSED (NULL); the dispatcher is
    // fail-OPEN: the corrupt payload is counted as raw bytes for triage
    assert(got(3L)._1 == "raw" && got(3L)._2 == wav.length.toLong)
  }

  test("PNG codec: all-five-filter round-trip, position-sensitive px_hash, fail-closed battery") {
    import spark.implicits._
    import graft.functions.{PngCodec, PngDecode}
    // 3x6 logical image, distinct per-row values: rows 0..4 get filters
    // None/Sub/Up/Average/Paeth, row 5 wraps to None — every unfilter
    // path runs in one container
    val px = (0 until 18).map(i => ((i * 37 + 11) % 256 << 16) |
      ((i * 53 + 5) % 256 << 8) | ((i * 71 + 3) % 256)).toArray
    val png = PngCodec.encodeRgb8(px, 3, 6)
    val df = Seq((1L, png)).toDF("asset_id", "media")
    val d = df.select(PngDecode.png_decode(col("media")).as("d"))
      .select(col("d.*")).head()
    assert(d.getInt(0) == 3 && d.getInt(1) == 6 && d.getLong(2) == 18L)
    assert(d.getLong(3) == px.map(p => ((p >> 16) & 0xff).toLong).sum)
    assert(d.getLong(4) == px.map(p => ((p >> 8) & 0xff).toLong).sum)
    assert(d.getLong(5) == px.map(p => (p & 0xff).toLong).sum)
    // px_hash replica: rolling poly hash over logical RGB byte stream
    def pxHash(ps: Array[Int]): Long = ps.foldLeft(0L) { (h0, p) =>
      Seq((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
        .foldLeft(h0)((h, c) => (h * 31 + c) % PngCodec.HashMod)
    }
    assert(d.getLong(6) == pxHash(px))
    // decimation k=2 keeps LOGICAL (x,y) in {0,2}x{0,2,4}: the kept-row
    // set is the orientation proof, and px_hash must equal the replica
    // over exactly those pixels IN ORDER — through the full re-encode
    val keptPx = Array(px(0), px(2), px(6), px(8), px(12), px(14))
    val rs = df.select(graft.functions.PngDecode.png_decode(
        graft.functions.PngResample.png_resample(col("media"), 2)).as("d"))
      .select(col("d.*")).head()
    assert(rs.getInt(0) == 2 && rs.getInt(1) == 3 && rs.getLong(2) == 6L)
    assert(rs.getLong(3) == keptPx.map(p => ((p >> 16) & 0xff).toLong).sum)
    assert(rs.getLong(6) == pxHash(keptPx), "resample px_hash diverged from kept-pixel replica")
    // position sensitivity: swapping two ROWS preserves every channel
    // sum but must change px_hash — the orientation pin channel sums
    // cannot provide
    val swapped = px.clone()
    for (x <- 0 until 3) {
      val t = swapped(x); swapped(x) = swapped(3 + x); swapped(3 + x) = t
    }
    val d2 = Seq((1L, PngCodec.encodeRgb8(swapped, 3, 6)))
      .toDF("asset_id", "media")
      .select(PngDecode.png_decode(col("media")).as("d")).select(col("d.*")).head()
    assert(d2.getLong(3) == d.getLong(3) && d2.getLong(4) == d.getLong(4))
    assert(d2.getLong(6) != d.getLong(6), "px_hash blind to row order")
    assert(d2.getLong(6) == pxHash(swapped))
    // fail-closed battery: each corruption attributable to one check
    val badSig = png.clone(); badSig(0) = 'X'.toByte
    // flipping any payload byte is caught by the enclosing chunk's
    // CRC-32 first (the adler path gets its own targeted test below,
    // planted through the container seam where the CRC stays valid)
    val badCrc = png.clone(); badCrc(badCrc.length - 1) = (badCrc(badCrc.length - 1) ^ 1).toByte
    val truncated = png.dropRight(1)
    // reserved block type: BFINAL=1, BTYPE=11 -> first byte 0b111
    val dynBlock = PngCodec.container(Array[Byte](0x07),
      new Array[Byte](6 * 10), 3, 6)
    // stored block carrying a filter byte of 5 (out of range)
    val filtLen = 6 * 10
    val badFiltStream = new Array[Byte](filtLen); badFiltStream(0) = 5
    val storedBody = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(0x01) // BFINAL=1, BTYPE=00 (bits 1,00 -> byte 0b001)
      b.write(filtLen & 0xff); b.write((filtLen >> 8) & 0xff)
      b.write(~filtLen & 0xff); b.write((~filtLen >> 8) & 0xff)
      b.write(badFiltStream); b.toByteArray
    }
    val badFilter = PngCodec.container(storedBody, badFiltStream, 3, 6)
    val bads = Seq((1L, badSig), (2L, badCrc), (3L, truncated.toArray),
      (4L, dynBlock), (5L, badFilter))
      .toDF("asset_id", "media")
      .select(col("asset_id"), PngDecode.png_decode(col("media")).as("d"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(bads.values.forall(identity),
      s"malformed PNG decoded non-null: ${bads.filterNot(_._2).keys}")
    // splice control: a VALID stored-only body through the same seam
    // decodes fine (proves the seam itself isn't what's failing above)
    val okFilt = new Array[Byte](filtLen) // all filter 0, all-black rows
    val okBody = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(0x01)
      b.write(filtLen & 0xff); b.write((filtLen >> 8) & 0xff)
      b.write(~filtLen & 0xff); b.write((~filtLen >> 8) & 0xff)
      b.write(okFilt); b.toByteArray
    }
    val okPng = Seq((1L, PngCodec.container(okBody, okFilt, 3, 6)))
      .toDF("asset_id", "media")
      .select(PngDecode.png_decode(col("media")).as("d")).select(col("d.*")).head()
    assert(okPng.getInt(0) == 3 && okPng.getInt(1) == 6 && okPng.getLong(3) == 0L)
  }

  test("PNG codec: stored-block split at 64k, dimension-bomb rejection, critical-vs-ancillary chunks") {
    import spark.implicits._
    import graft.functions.{PngCodec, PngDecode}
    // 256x256: filtered stream = 256*(1+768) = 196 864 bytes, stored
    // half 98 432 > 65 535 — the encoder must emit a CHAIN of stored
    // blocks (a single 16-bit LEN would truncate mod 2^16 and corrupt
    // the stream for every image over ~43k pixels)
    val big = Array.tabulate(256 * 256)(i => (i * 2654435761L).toInt & 0xffffff)
    val bigPng = PngCodec.encodeRgb8(big, 256, 256)
    val d = Seq((1L, bigPng)).toDF("asset_id", "media")
      .select(PngDecode.png_decode(col("media")).as("d")).select(col("d.*")).head()
    assert(d.getInt(0) == 256 && d.getInt(1) == 256 && d.getLong(2) == 65536L)
    assert(d.getLong(3) == big.map(p => ((p >> 16) & 0xff).toLong).sum)
    // dimension bomb: per-axis caps pass (1<<20 and 683) but the product
    // overflows the filtered length's Int — must be NULL, and crucially
    // NOT a NegativeArraySizeException escaping the fail-closed parse
    val bomb = PngCodec.container(Array[Byte](0x05), new Array[Byte](4), 1 << 20, 683)
    val rb = Seq((1L, bomb)).toDF("asset_id", "media")
      .select(PngDecode.png_decode(col("media")).as("d")).head()
    assert(rb.isNullAt(0), "dimension bomb decoded non-null")
    // chunk criticality: splice a chunk between IHDR and IDAT — a bogus
    // CRITICAL type (uppercase first letter) is a malformation; an
    // ancillary one (lowercase first letter) passes
    val small = PngCodec.encodeRgb8(Array(0x0a0b0c, 0x010203), 1, 2)
    def withChunk(typ: String): Array[Byte] = {
      val insertAt = 8 + 12 + 13 // signature + IHDR chunk
      val body = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32(); crc.update(body)
      val c = crc.getValue
      val chunk = Array[Byte](0, 0, 0, 0) ++ body ++ Array(
        ((c >>> 24) & 0xff).toByte, ((c >>> 16) & 0xff).toByte,
        ((c >>> 8) & 0xff).toByte, (c & 0xff).toByte)
      small.take(insertAt) ++ chunk ++ small.drop(insertAt)
    }
    val rows = Seq((1L, withChunk("ABCD")), (2L, withChunk("tEXt")))
      .toDF("asset_id", "media")
      .select(col("asset_id"), PngDecode.png_decode(col("media")).as("d"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(rows(1L), "unknown CRITICAL chunk decoded non-null")
    assert(!rows(2L), "ancillary chunk wrongly rejected")
  }

  test("PNG codec: dynamic-Huffman streams from the JDK Deflater inflate correctly") {
    import spark.implicits._
    import graft.functions.{PngCodec, PngDecode}
    // filter-0 rows over text-like bytes — structured enough that the
    // JDK deflater (an INDEPENDENT encoder we did not write) chooses a
    // dynamic-Huffman block; decoding it proves the inflate handles
    // real-world zlib output, not just our own stored/fixed encoder
    val w = 5; val h = 40
    val phrase = "the quick brown fox "
    val px = Array.tabulate(w * h) { i =>
      val b = phrase.charAt(i % phrase.length).toInt
      (b << 16) | (b << 8) | b
    }
    val stride = w * 3
    val filt = new Array[Byte](h * (1 + stride))
    for (y <- 0 until h; i <- 0 until stride) {
      val p = px(y * w + i / 3)
      filt(y * (1 + stride) + 1 + i) =
        ((i % 3) match { case 0 => p >> 16; case 1 => p >> 8; case _ => p }).toByte
    }
    val defl = new java.util.zip.Deflater(
      java.util.zip.Deflater.BEST_COMPRESSION, true) // nowrap: raw DEFLATE
    defl.setInput(filt); defl.finish()
    val buf = new Array[Byte](filt.length * 2 + 64)
    val m = defl.deflate(buf); defl.end()
    val body = buf.take(m)
    // block header bits (LSB-first): bit0 BFINAL, bits1-2 BTYPE — the
    // fixture must actually exercise the dynamic path
    assert(((body(0) >> 1) & 3) == 2,
      s"JDK chose BTYPE ${(body(0) >> 1) & 3}; fixture not dynamic")
    val d = Seq((1L, PngCodec.container(body, filt, w, h)))
      .toDF("asset_id", "media")
      .select(PngDecode.png_decode(col("media")).as("d")).select(col("d.*")).head()
    assert(d.getInt(0) == w && d.getInt(1) == h && d.getLong(2) == (w * h).toLong)
    assert(d.getLong(3) == px.map(p => ((p >> 16) & 0xff).toLong).sum)
    assert(d.getLong(4) == px.map(p => ((p >> 8) & 0xff).toLong).sum)
    assert(d.getLong(5) == px.map(p => (p & 0xff).toLong).sum)
  }

  test("PNG codec: fixed-Huffman LZ77 back-references inflate correctly; adler lie rejected") {
    import spark.implicits._
    import graft.functions.{PngCodec, PngDecode}
    // hand-craft a fixed-Huffman stream with a genuine length/distance
    // pair — our encoder emits literals only, so this is the one path a
    // round-trip cannot reach. Image 2x2, all rows filter 0, every RGB
    // byte = 0x42: filtered stream = [0, 42x6, 0, 42x6] (len 14).
    // Emit literals for the first row (7 bytes), then <len=7, dist=7>
    // to copy the whole second row.
    val filt = Array.tabulate[Byte](14)(i => if (i % 7 == 0) 0 else 0x42)
    var cur = 0; var nBits = 0
    val out = new java.io.ByteArrayOutputStream()
    def putBits(v: Int, n: Int): Unit = (0 until n).foreach { i =>
      cur |= ((v >>> i) & 1) << nBits; nBits += 1
      if (nBits == 8) { out.write(cur); cur = 0; nBits = 0 }
    }
    def putHuff(code: Int, n: Int): Unit = (n - 1 to 0 by -1).foreach { i =>
      cur |= ((code >>> i) & 1) << nBits; nBits += 1
      if (nBits == 8) { out.write(cur); cur = 0; nBits = 0 }
    }
    def lit(sym: Int): Unit =
      if (sym < 144) putHuff(0x30 + sym, 8)
      else if (sym < 256) putHuff(0x190 + (sym - 144), 9)
      else if (sym < 280) putHuff(sym - 256, 7)
      else putHuff(0xc0 + (sym - 280), 8)
    putBits(1, 1); putBits(1, 2)       // BFINAL=1, BTYPE=01
    (0 until 7).foreach(i => lit(filt(i) & 0xff))
    lit(261)                            // length symbol: base 7, no extra
    putHuff(5, 5)                       // distance code 5: base 7, 1 extra
    putBits(0, 1)                       //   extra bit -> dist 7
    lit(256)                            // end of block
    if (nBits > 0) out.write(cur)
    val png = PngCodec.container(out.toByteArray, filt, 2, 2)
    val d = Seq((1L, png)).toDF("asset_id", "media")
      .select(PngDecode.png_decode(col("media")).as("d")).select(col("d.*")).head()
    assert(d.getInt(0) == 2 && d.getInt(1) == 2 && d.getLong(2) == 4L)
    assert(d.getLong(3) == 4L * 0x42 && d.getLong(4) == 4L * 0x42 &&
      d.getLong(5) == 4L * 0x42, "back-reference copy decoded wrong bytes")
    // adler lie through the same seam: container computes adler over
    // the CLAIMED filt — hand it a different one and the inflated
    // stream no longer matches the trailer
    val badAdler = PngCodec.container(out.toByteArray,
      filt.map(b => (b ^ 1).toByte), 2, 2)
    val r = Seq((1L, badAdler)).toDF("asset_id", "media")
      .select(PngDecode.png_decode(col("media")).as("d")).head()
    assert(r.isNullAt(0), "adler mismatch decoded non-null")
  }

  test("byte_gram_hashes: rolling 4-byte polynomial matches a hand fold; short payload empty") {
    import spark.implicits._
    val bytes = Array[Byte](0x41, 0xc3.toByte, 0xa9.toByte, 0x21, 0x00, 0x7f)
    val df = Seq((1L, bytes), (2L, Array[Byte](1, 2, 3))).toDF("asset_id", "media")
    val got = df.select(col("asset_id"),
        graft.functions.ByteGramHashes.byte_gram_hashes(col("media")).as("g"))
      .collect().map(r => r.getAs[Long]("asset_id") -> r.getSeq[Long](1)).toMap
    val P = graft.functions.ByteGramHashes.P
    def gram(i: Int) = (i until i + 4).foldLeft(0L)((a, j) => (a * 31 + (bytes(j) & 0xff)) % P)
    assert(got(1L) == (0 to 2).map(gram), s"got ${got(1L)}")
    assert(got(2L).isEmpty) // 3 bytes: no 4-gram
  }

  test("mediaNearDups: identical payloads agree on all components, distinct payloads surface no pair") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 6
    val near = base.replace("lazy", "hazy") // small in-place edit
    val far = "completely different content with no shared byte grams at all " * 5
    val assets = Seq((1L, base), (2L, base), (3L, near), (4L, far))
      .toDF("asset_id", "text")
      .select(col("asset_id"), encode(col("text"), "UTF-8").as("media"))
    val pairs = Multimodal.mediaNearDups(assets)
      .collect().map(r => (r.getAs[Long]("asset_a"), r.getAs[Long]("asset_b"),
        r.getAs[Long]("n_agree")))
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((1L, 2L)) == Multimodal.FpHashes.toLong, s"exact dup: $pairs")
    // the small edit keeps most byte grams: the near pair must surface
    assert(byPair.contains((1L, 3L)) && byPair((1L, 3L)) >= 36, s"near pair: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"far doc paired: $pairs")
  }

  test("pivotSum == Dataset.pivot semantics, in ONE shuffle instead of two") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", 10L), (1L, "b", 20L), (2L, "a", 5L), (2L, "a", 7L), (3L, "c", 1L))
      .toDF("k", "cat", "v")
    val piv = ColOps.pivotSum(df, col("k"), "k", "cat", Seq("a", "b", "c"), col("v"))
    // ground truth: Spark's own pivot (same values list)
    val expected = df.groupBy(col("k")).pivot("cat", Seq("a", "b", "c")).sum("v")
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    val got = toMap(piv.collect())
    assert(got == toMap(expected.collect()), s"pivot=$got")
    // absent cell is NULL (k=3 has no 'a'), matching SUM..FILTER semantics
    assert(got(3L)._1.isEmpty && got(3L)._3.contains(1L))
    // plan shape: conditional agg = ONE exchange in the final plan;
    // Dataset.pivot plans two (pre-agg on (k,cat) + pivotfirst on k)
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      val fin = p.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).toList
      fin.count(_.contains("Exchange hashpartitioning"))
    }
    assert(exchanges(piv) == 1, "pivotSum must be a single-shuffle aggregate")
    assert(exchanges(expected) == 2, "Dataset.pivot baseline plans two shuffles")
  }

  test("mergeLatest: upsert wins, tombstone hides, later upsert resurrects") {
    import spark.implicits._
    val base = Seq((1L, "a", 0L, false), (2L, "b", 0L, false),
      (3L, "c", 0L, false)).toDF("k", "v", "version", "dead")
    val updates = Seq(
      (1L, "a2", 1L, false),              // plain upsert
      (2L, "",   1L, true),               // tombstone at v1 hides k=2
      (3L, "",   1L, true), (3L, "c3", 2L, false) // delete then resurrect
    ).toDF("k", "v", "version", "dead")
    val got = ColOps.mergeLatest(base, updates, "k", "version", Some("dead"))
      .select("k", "v", "version").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a2", 1L), (3L, "c3", 2L)), s"got $got")
    // no tombstone arg: the raw latest rows, delete flags visible
    val raw = ColOps.mergeLatest(base, updates, "k", "version")
      .select("k", "dead").as[(Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(raw == Seq((1L, false), (2L, true), (3L, false)), s"raw $raw")
  }

  test("zOutliers: integer-exact test agrees with the float z-score definition") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = (0 until 400).map(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b",
        // long-tailed: mostly small, a few large — both groups get outliers
        (if (rng.nextInt(20) == 0) 500L + rng.nextInt(500) else rng.nextInt(100).toLong)))
    val df = rows.toDF("id", "g", "v")
    val got = ColOps.zOutliers(df, "g", "v", 2)
      .select("id").as[Long].collect().toSet
    // float reference: per-group population stddev, |v - mean| > 2*sigma
    val want = rows.groupBy(_._2).flatMap { case (_, rs) =>
      val vs = rs.map(_._3.toDouble)
      val mean = vs.sum / vs.size
      val sigma = math.sqrt(vs.map(v => (v - mean) * (v - mean)).sum / vs.size)
      rs.filter(r => math.abs(r._3 - mean) > 2 * sigma).map(_._1)
    }.toSet
    assert(got == want, s"got ${got.size} want ${want.size}")
    assert(want.nonEmpty, "fixture must actually contain outliers")
    // plan: no window, no sort — stats aggregate broadcast back on the scan
    val plan = ColOps.zOutliers(df, "g", "v", 2).queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && plan.contains("BroadcastHashJoin"), plan)
  }

  test("scd2: [version, next) intervals per key, newest open and current") {
    import spark.implicits._
    val chg = Seq((1L, 0L), (1L, 3L), (1L, 7L), (2L, 5L)).toDF("k", "version")
    val got = ColOps.scd2(chg, "k", "version")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // intervals chain with NO gaps/overlaps: valid_to = next version;
    // exactly one open (current) row per key
    assert(got == Seq((1L, 0L, 3L, false), (1L, 3L, 7L, false),
      (1L, 7L, -1L, true), (2L, 5L, -1L, true)), s"got $got")
  }

  test("intervalJoin: boundary inclusion, bin-spanning intervals, keys, exactly-once; span cap raises") {
    import spark.implicits._
    val pts = Seq(
      ("u1", 1L, 10L),  // == lo of i1 → included
      ("u1", 2L, 25L),  // inside i1, crosses no bin boundary issue
      ("u1", 3L, 30L),  // == hi of i1 → included
      ("u1", 4L, 31L),  // past hi → excluded
      ("u2", 5L, 25L),  // other key → excluded from i1, in i2
      ("u1", 6L, 95L)   // inside multi-bin i3
    ).toDF("k", "pid", "t")
    val ivs = Seq(
      ("u1", 100L, 10L, 30L), // i1: spans bins 1..3 at width 10
      ("u2", 200L, 20L, 26L), // i2
      ("u1", 300L, 60L, 99L)  // i3: bins 6..9
    ).toDF("k", "iid", "lo", "hi")
    val got = ColOps.intervalJoin(pts, ivs, "t", "lo", "hi", 10L, keys = Seq("k"))
      .select("pid", "iid").as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 100L), (2L, 100L), (3L, 100L), (5L, 200L), (6L, 300L)),
      s"got $got")
    // exactly-once: no pair may appear twice even though i1 covers 3 bins
    assert(got.distinct == got)
    val e = intercept[Exception] {
      ColOps.intervalJoin(pts, Seq(("u1", 9L, 0L, 1000L)).toDF("k", "iid", "lo", "hi"),
        "t", "lo", "hi", 10L, keys = Seq("k"), maxBins = 50).collect()
    }
    assert(e.getMessage.contains("spans"))
  }

  test("bloomPrunedSemiJoin == plain left_semi (nulls, misses, dup filter keys, empty filter)") {
    import spark.implicits._
    val fact = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "b"), (3L, "c"), (null, "n"), (2L, "b2"), (9L, "miss"))
      .toDF("k", "payload")
    val keys = Seq(2L, 3L, 3L, 7L).toDF("k")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "payload").as[(Long, String)].collect().sorted.toSeq
    val got = norm(ColOps.bloomPrunedSemiJoin(fact, keys, "k"))
    val want = norm(fact.join(keys.distinct(), Seq("k"), "left_semi"))
    assert(got == want && got == Seq((2L, "b"), (2L, "b2"), (3L, "c")), s"got $got")
    // empty filter side: every fact row pruned, no crash
    assert(ColOps.bloomPrunedSemiJoin(fact, keys.limit(0), "k").count() == 0L)
  }
}
