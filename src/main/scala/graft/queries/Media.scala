package graft
package queries

import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._
import Shared._

/** Media queries: the WAV/BMP/PNG/JPEG/GIF codecs, resize, transcode,
  * dispatch and near-dup, plus the stub multimodal tier, each with its
  * DuckDB oracle.
  */
object Media {

  def queries: Seq[QueryDef] = Seq(
    // multimodal: binary columns + batch decode stub (real plumbing)
    QueryDef("q_multimodal_decode", (s, dir) =>
      Multimodal.decode(Multimodal.assets(s, dir)),
      // thumb_digest is byte-based on both sides: md5 of the lowercase-hex
      // string of the first 16 BYTES (32 hex chars) — agrees with the Spark
      // stub for non-ASCII payloads (see Multimodal.stubDecode)
      // nb = BYTE length (octet_length of the UTF-8 encoding), matching the
      // engine's bytes.length — strlen (chars) would diverge on multibyte
      // text; md5(text) is already byte-based (DuckDB hashes the UTF-8)
      """SELECT doc_id AS asset_id,
         nb AS n_bytes,
         md5(text) AS digest,
         md5(substring(lower(hex(encode(text))), 1, 32)) AS thumb_digest,
         (nb % 640 + 1)::BIGINT AS width,
         (nb % 480 + 1)::BIGINT AS height,
         (nb // 100 + 1)::BIGINT AS n_frames
         FROM (SELECT doc_id, text, octet_length(encode(text))::BIGINT AS nb
               FROM documents)"""),

    // multimodal: frame sampling fan-out
    QueryDef("q_frame_sample", (s, dir) =>
      Multimodal.sampleFrames(Multimodal.assets(s, dir), 64),
      // BYTE-based on both sides (hx = hex of the UTF-8 bytes): frame j is
      // hex chars [2·64·j+1, +2]; frame count from the BYTE length — agrees
      // with the engine for multibyte text, not just the ASCII fixture
      """SELECT doc_id AS asset_id, x.u.i::BIGINT AS frame_no,
                md5(substr(x.hx, x.u.i * 128 + 1, 2)) AS frame_digest
         FROM (SELECT doc_id, hx,
                 UNNEST([{'i': j} for j in range(0, (len(hx) // 2 - 1) // 64 + 1)]) AS u
               FROM (SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents)) x"""),

    // multimodal: REAL feature extraction over the binary payload (no
    // codec: byte length, magic fold, high-nibble histogram) — the
    // pre-decode triage signature, integer-only so the oracle matches
    QueryDef("q_media_features", (s, dir) =>
      Multimodal.byteFeatures(Multimodal.assets(s, dir)),
      s"""SELECT doc_id AS asset_id,
          ${Multimodal.byteFeaturesSql("lower(hex(encode(text)))").mkString(",\n          ")}
          FROM documents"""),

    // multimodal: stub resize/downsample (every 7th byte) — the batch
    // thumbnailing/decimation stage; zero shuffle, codegen'd end-to-end
    QueryDef("q_media_resize", (s, dir) =>
      Multimodal.resizeBytes(Multimodal.assets(s, dir), 7),
      Multimodal.resizeBytesSql(7)),

    // multimodal: REAL audio codec decode — genuine RIFF/WAVE PCM-16
    // containers (per-asset sample rate, so the header must be parsed),
    // native wav_decode expression → header fields + integer signal
    // moments; the oracle computes the expected features from the source
    // signal, so any mis-parse breaks the hash match
    QueryDef("q_wav_decode", (s, dir) =>
      Multimodal.wavAssets(s, dir)
        .select(col("asset_id"),
          graft.functions.WavDecode.wav_decode(col("media")).as("d"))
        .select(col("asset_id"),
          col("d.sample_rate").as("sample_rate"), col("d.channels").as("channels"),
          col("d.n_samples").as("n_samples"), col("d.min_s").as("min_s"),
          col("d.max_s").as("max_s"), col("d.sum_abs").as("sum_abs"),
          col("d.sum_sq").as("sum_sq")),
      Multimodal.wavDecodeSql),

    // multimodal: REAL audio downsample — wav_resample decodes, keeps
    // every 4th sample, divides the declared rate by 4 and RE-ENCODES a
    // valid container; wav_decode round-trips the result (the encoder
    // and parser each run twice in-plan, both verified by the oracle)
    QueryDef("q_wav_resample", (s, dir) =>
      Multimodal.wavAssets(s, dir)
        .select(col("asset_id"),
          graft.functions.WavDecode.wav_decode(
            graft.functions.WavResample.wav_resample(col("media"), 4)).as("d"))
        .select(col("asset_id"),
          col("d.sample_rate").as("sample_rate"), col("d.channels").as("channels"),
          col("d.n_samples").as("n_samples"), col("d.min_s").as("min_s"),
          col("d.max_s").as("max_s"), col("d.sum_abs").as("sum_abs"),
          col("d.sum_sq").as("sum_sq")),
      Multimodal.wavResampleSql(4)),

    // multimodal: REAL image codec decode — genuine bottom-up padded
    // 24-bit BI_RGB BMP containers (widths 4-7 cover every row-padding
    // case); native bmp_decode parses geometry + exact channel sums
    QueryDef("q_bmp_decode", (s, dir) =>
      Multimodal.bmpAssets(s, dir)
        .select(col("asset_id"),
          graft.functions.BmpDecode.bmp_decode(col("media")).as("d"))
        .select(col("asset_id"),
          col("d.width").as("width"), col("d.height").as("height"),
          col("d.n_px").as("n_px"), col("d.sum_r").as("sum_r"),
          col("d.sum_g").as("sum_g"), col("d.sum_b").as("sum_b")),
      Multimodal.bmpDecodeSql),

    // multimodal: REAL compressed image codec — PNG containers staged
    // through per-row filters (y % 5: all five) + stored/fixed-Huffman
    // DEFLATE, decoded by the hand-rolled validating inflate; px_hash
    // is the position-sensitive moment (breaks on any row-order or
    // unfilter mistake the order-invariant sums would miss)
    QueryDef("q_png_decode", (s, dir) =>
      Multimodal.pngAssets(s, dir)
        .select(col("asset_id"),
          graft.functions.PngDecode.png_decode(col("media")).as("d"))
        .select(col("asset_id"),
          col("d.width").as("width"), col("d.height").as("height"),
          col("d.n_px").as("n_px"), col("d.sum_r").as("sum_r"),
          col("d.sum_g").as("sum_g"), col("d.sum_b").as("sum_b"),
          col("d.px_hash").as("px_hash")),
      Multimodal.pngDecodeSql),

    // multimodal: REAL lossy-tier image codec — baseline JPEG
    // containers staged across sampling (4:4:4 / 4:2:0 / grayscale),
    // edge-clip, and restart-interval axes; constant DC-only cells
    // make the lossy decode exact, so geometry + channel sums + the
    // orientation-sensitive px_hash face a hash-exact oracle
    QueryDef("q_jpeg_decode", (s, dir) =>
      Multimodal.jpegAssets(s, dir)
        .select(col("asset_id"),
          graft.functions.JpegDecode.jpeg_decode(col("media")).as("d"))
        .select(col("asset_id"),
          col("d.width").as("width"), col("d.height").as("height"),
          col("d.n_px").as("n_px"), col("d.sum_r").as("sum_r"),
          col("d.sum_g").as("sum_g"), col("d.sum_b").as("sum_b"),
          col("d.px_hash").as("px_hash")),
      Multimodal.jpegDecodeSql),

    // multimodal: REAL palette+LZW image codec — GIF87a/89a containers
    // staged across interlace / ignored-second-frame (with local color
    // table) / comment-extension axes, all of which the decode must
    // make INVISIBLE (the oracle never sees them); padding pixels are
    // palette index 0 → (0,13,255), so they land in the sums AND the
    // position-sensitive px_hash
    QueryDef("q_gif_decode", (s, dir) =>
      Multimodal.gifAssets(s, dir)
        .select(col("asset_id"),
          graft.functions.GifDecode.gif_decode(col("media")).as("d"))
        .select(col("asset_id"),
          col("d.width").as("width"), col("d.height").as("height"),
          col("d.n_px").as("n_px"), col("d.sum_r").as("sum_r"),
          col("d.sum_g").as("sum_g"), col("d.sum_b").as("sum_b"),
          col("d.px_hash").as("px_hash")),
      Multimodal.gifDecodeSql),

    // multimodal: compressed-container downsample — the FULL pipeline
    // twice per asset (inflate+unfilter in, re-filter+deflate+
    // re-checksum out), then re-decoded in-plan; px_hash rides through
    // the re-encode so a mistake in either pass breaks the oracle
    QueryDef("q_png_resize", (s, dir) =>
      Multimodal.pngAssets(s, dir)
        .select(col("asset_id"),
          graft.functions.PngDecode.png_decode(
            graft.functions.PngResample.png_resample(col("media"), 2)).as("d"))
        .select(col("asset_id"),
          col("d.width").as("width"), col("d.height").as("height"),
          col("d.n_px").as("n_px"), col("d.sum_r").as("sum_r"),
          col("d.sum_g").as("sum_g"), col("d.sum_b").as("sum_b"),
          col("d.px_hash").as("px_hash")),
      Multimodal.pngResampleSql(2)),

    // multimodal: REAL image downsample — 2-D decimation (every 2nd
    // column of every 2nd LOGICAL row) re-encoded with new
    // width/height/padding, then re-decoded; orientation-sensitive, so
    // the oracle catches a forgotten bottom-up flip the channel sums
    // alone cannot
    QueryDef("q_bmp_resize", (s, dir) =>
      Multimodal.bmpAssets(s, dir)
        .select(col("asset_id"),
          graft.functions.BmpDecode.bmp_decode(
            graft.functions.BmpResample.bmp_resample(col("media"), 2)).as("d"))
        .select(col("asset_id"),
          col("d.width").as("width"), col("d.height").as("height"),
          col("d.n_px").as("n_px"), col("d.sum_r").as("sum_r"),
          col("d.sum_g").as("sum_g"), col("d.sum_b").as("sum_b")),
      Multimodal.bmpResampleSql(2)),

    // multimodal: FORMAT DISPATCH over a mixed WAV/BMP/raw corpus —
    // try-decode routing (the strict parsers' NULL on foreign bytes IS
    // the sniffer), fail-open fall-through to raw-byte accounting; all
    // three decodes in one codegen project, zero shuffle
    QueryDef("q_media_dispatch", (s, dir) =>
      Multimodal.decodeDispatch(Multimodal.mixedAssets(s, dir)),
      Multimodal.decodeDispatchSql),

    // canonical-container TRANSCODE (media normalization): every image
    // in the mixed corpus — BMP, PNG, or JPEG — re-encoded as PNG and
    // re-decoded in-plan; geometry, channel sums, and the
    // position-sensitive px_hash must ride through the cross-codec
    // composition untouched (non-images drop on the transcode NULL)
    QueryDef("q_media_transcode", (s, dir) =>
      Multimodal.transcodeNormalize(Multimodal.mixedAssets(s, dir)),
      Multimodal.transcodeSql),

    // format-agnostic THUMBNAILS: decode any image container,
    // 2-decimate in logical orientation, land in the canonical
    // container, re-decode in-plan — preview generation independent
    // of what the crawl delivered; px_hash pins orientation through
    // the decode→decimate→encode→decode chain per source format
    QueryDef("q_media_thumb", (s, dir) =>
      Multimodal.thumbnails(Multimodal.mixedAssets(s, dir), 2),
      Multimodal.thumbnailSql(2)),

    // multimodal: near-dup pairs by byte-level minwise fingerprint
    // (native byte_gram_hashes expression → 48 minwise components →
    // banded capped buckets → signature-agreement verify) — the
    // perceptual-hash dedup stage for the modality without word shingles
    QueryDef("q_media_neardup", (s, dir) =>
      Multimodal.mediaNearDups(Multimodal.assets(s, dir)),
      Multimodal.mediaNearDupsSql(36, Dedup.MaxBucket)),
  )
}
