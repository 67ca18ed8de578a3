package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Scratch
import graft.operators._

/** Every fixture the harness queries read from disk, staged once per
  * JVM per data dir through [[Scratch.once]] (so all of them live under
  * the one [[Scratch.root]] and go away with the JVM). The format
  * SOURCES under test (text/CSV/JSONL/ORC scans, binaryFile archive
  * reads, file-source streams) read these; the staging itself is
  * fixture plumbing, charged once. File names and bytes are part of
  * each query's contract with its oracle.
  */
object Fixtures {

  /** Stage `content` as a single driver-side fixture file, once per JVM
    * per (data dir, kind). The file name keys the sanitized full dir
    * string PLUS its hashCode (sanitizing alone maps 'a/b' and 'a_b' to
    * the same name).
    */
  private def stageOnce(dir: String, kind: String)(content: => String): Path = {
    val name = s"graft_${kind}_" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
      "_" + Integer.toHexString(dir.hashCode) + ".txt"
    Scratch.once(kind, dir)(d => Files.write(d.resolve(name), content.getBytes(UTF_8)))
      .resolve(name)
  }

  /** q_corpus_build_warc's archive re-staged as TIME-ORDERED shards
    * (shard i = the i-th quarter of doc_ids in ascending order — crawl
    * segments arrive in crawl order), the precondition for
    * [[SparkEntry.corpusBuildStreamAt]]'s first-arrival dedup ≡ batch
    * keep-min. Page bytes are
    * byte-identical to [[stagedWarcShards]]'s; only the split axis
    * differs, which extraction (and therefore the shared oracle) never
    * sees.
    */
  private[graft] def stagedRangeWarcShards(s: SparkSession, dir: String): Path =
    Scratch.once("warcranged", dir) { tmp =>
      val rows = ColOps.table(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      val per = math.max(1, (rows.size + Warc.NumShards - 1) / Warc.NumShards)
      val t0 = System.currentTimeMillis()
      rows.grouped(per).zipWithIndex.foreach { case (docs, i) =>
        val f = tmp.resolve(f"shard-$i%02d.warc.gz")
        Files.write(f, Warc.renderShard(i, docs))
        // the file SOURCE orders arrivals by modification time — make
        // the crawl order explicit instead of trusting that sequential
        // writes never land in the same clock tick (first-arrival
        // dedup ≡ batch keep-min depends on this order)
        Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis(t0 + i * 2000L))
      }
    }

  /** The documents table as a one-doc-per-line text file for
    * q_text_lines. Newline-in-text would split one doc into two lines
    * and an empty LAST doc's line would be eaten by the trailing-newline
    * convention — sanitize newlines (mirrored in the oracle) and
    * terminate an empty final line explicitly.
    */
  private[graft] def stagedTextLines(s: SparkSession, dir: String): Path =
    stageOnce(dir, "textlines") {
      val texts = ColOps.table(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id")).collect().map(_.getString(1).replace('\n', ' '))
      texts.mkString("\n") +
        (if (texts.nonEmpty && texts.last.isEmpty) "\n" else "")
    }

  /** The documents table as one-doc-per-line NCR-ENCODED text: every
    * non-ASCII char of (sanitized doc text + the doc's [[Charsets]]
    * SLOT text) becomes a numeric character reference — decimal or hex
    * alternating by code-point parity — plus the raw
    * [[NcrBatteryRaw]]; the q_html_entities fixture. Real multilingual
    * pages serve exactly this shape (non-ASCII text NCR-encoded inside
    * ASCII bytes); the oracle predicts the DECODED line from
    * `documents` + the slot constants, so one mis-decoded reference
    * breaks the hash.
    */
  private[graft] def stagedNcrLines(s: SparkSession, dir: String): Path =
    stageOnce(dir, "ncrlines") {
      ColOps.table(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id")).collect()
        .map { r =>
          val id = r.getLong(0)
          val slotText = Charsets.Slots(Charsets.slotOf(id))._3
          val payload = r.getString(1).replace('\n', ' ') + " " + slotText
          s"$id\t" + graft.functions.HtmlEntities.ncrEncode(payload) + SparkEntry.NcrBatteryRaw
        }.mkString("\n")
    }

  /** The documents table wrapped as one-doc-per-line RAW HTML — the
    * fixture for the markup-extraction queries. Each line is rendered
    * by [[Html.wrapLine]] (the SAME template the oracle rebuilds in
    * SQL), so the operator's regexp strip chain and DuckDB's face
    * byte-identical input; doc_id travels INSIDE the markup
    * (`data-doc="N"`) and is recovered by the extraction query itself,
    * the way a crawl pipeline recovers ids from page metadata.
    */
  private[graft] def stagedHtml(s: SparkSession, dir: String): Path =
    stageOnce(dir, "html") {
      ColOps.table(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id")).collect()
        .map(r => Html.wrapLine(r.getLong(0), r.getString(1)))
        .mkString("\n")
    }

  /** The raw-HTML corpus as 4 shard FILES (one page per line, the
    * [[stagedHtml]] rendering split by doc_id % 4) — the arrival
    * directory for the crawl-ingest streaming query: new pages land as
    * text shards, the stream discovers one file per micro-batch.
    */
  private[graft] def stagedHtmlShards(s: SparkSession, dir: String): Path =
    stagedShards("htmlshards", "pages-%02d.txt", s, dir) { (_, docs) =>
      docs.map { case (id, text) => Html.wrapLine(id, text) }
        .mkString("\n").getBytes(UTF_8)
    }

  /** Shared staging for the shard-directory fixtures (WARC/WET/WAT
    * archives, html/text arrival shards): the documents table split
    * doc_id % NumShards into 4 shard files named by the `name` format,
    * each rendered by `render`. ONE definition of the split/order so the
    * sibling formats can never diverge (the CDX oracle's per-shard
    * position math depends on exactly this split).
    */
  private def stagedShards(kind: String, name: String, s: SparkSession, dir: String)(
      render: (Int, Seq[(Long, String)]) => Array[Byte]): Path =
    Scratch.once(kind, dir) { tmp =>
      val rows = ColOps.table(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id")).collect()
      (0 until Warc.NumShards).foreach { i =>
        val docs = rows.iterator
          .filter(_.getLong(0) % Warc.NumShards == i)
          .map(r => (r.getLong(0), r.getString(1))).toSeq
        Files.write(tmp.resolve(name.format(i)), render(i, docs))
      }
    }

  /** The crawl corpus as 4 `.warc.gz` shard FILES (Common Crawl
    * layout: one gzip member per WARC record — warcinfo + per-doc
    * request/response — page HTML rendered by the SAME
    * [[Html.wrapLine]] template the extraction oracle rebuilds in SQL;
    * split by doc_id % 4). The fixture for the warc front-door queries
    * and the arrival directory for their streaming twin.
    */
  private[graft] def stagedWarcShards(s: SparkSession, dir: String): Path =
    stagedShards("warcshards", "shard-%02d.warc.gz", s, dir)(
      Warc.renderShard)

  /** The CHARSET crawl archive: 4 `.warc.gz` shards whose responses
    * rotate eight legacy encodings × four declaration channels
    * (header / meta-only / BOM-with-lying-header / undeclared-mojibake)
    * — the WHATWG-sniff fixture (q_charset_decode, q_charset_audit).
    * Same discipline as [[stagedWarcShards]].
    */
  private[graft] def stagedCharsetShards(s: SparkSession, dir: String): Path =
    stagedShards("charsetshards", "shard-%02d.warc.gz", s, dir)(
      Charsets.renderShard)

  /** The REVISIT-bearing crawl archive: [[stagedWarcShards]]'s exact
    * record stream plus one `revisit` member after each re-fetched
    * doc's response (q_warc_revisit / q_corpus_build_revisit fixture).
    */
  private[graft] def stagedRevisitShards(s: SparkSession, dir: String): Path =
    stagedShards("warcrevisit", "shard-%02d.warc.gz", s, dir)(
      Warc.renderRevisitShard)

  /** Per-site sitemap XML files (`sitemap-site<n>.xml`, one per site
    * index present in the corpus) — the REP discovery-channel fixture
    * (q_sitemap_seeds). Rendered once from the documents table's
    * fixture URLs.
    */
  private[graft] def stagedSitemaps(s: SparkSession, dir: String): Path =
    Scratch.once("sitemaps", dir) { tmp =>
      val ids = ColOps.table(s, dir, "documents")
        .select(col("doc_id")).orderBy(col("doc_id")).collect().map(_.getLong(0))
      ids.groupBy(id => ((id % 150) % 23).toInt).foreach { case (n, siteIds) =>
        Files.write(tmp.resolve(s"sitemap-site$n.xml"),
          Urls.renderSitemap(siteIds.toSeq.map(Urls.urlOf))
            .getBytes(UTF_8))
      }
    }

  /** The PDF crawl archive: 4 shards of application/pdf responses
    * (q_pdf_extract fixture). Same discipline as [[stagedWarcShards]].
    */
  private[graft] def stagedPdfShards(s: SparkSession, dir: String): Path =
    stagedShards("pdfshards", "shard-%02d.warc.gz", s, dir)(
      Warc.renderPdfShard)

  /** The CID/Type0 (CJK) PDF archive: 4 shards whose page text is the
    * [[Charsets]] slot texts carried as 2-byte-CID hex strings behind
    * a /ToUnicode CMap (q_pdf_cjk fixture). Same discipline as
    * [[stagedPdfShards]].
    */
  private[graft] def stagedPdfCjkShards(s: SparkSession, dir: String): Path =
    stagedShards("pdfcjkshards", "shard-%02d.warc.gz", s, dir)(
      Warc.renderPdfCjkShard)

  /** The NESTED sitemap layout (q_sitemap_index fixture): per site a
    * `sitemapindex` XML naming two GZIPPED leaf sitemaps
    * (`leaf-site<n>-p<0|1>.xml.gz`, split by doc parity), plus one
    * ORPHAN leaf no index references (site 0's part-0 content again) —
    * the by-reference fetch join must exclude it or site 0's counts
    * double.
    */
  private[graft] def stagedSitemapIndex(s: SparkSession, dir: String): Path =
    Scratch.once("sitemapidx", dir) { tmp =>
      def gz(text: String): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(text.getBytes(UTF_8))
        g.close()
        bos.toByteArray
      }
      val ids = ColOps.table(s, dir, "documents")
        .select(col("doc_id")).orderBy(col("doc_id")).collect().map(_.getLong(0))
      var orphanSource: String = null
      ids.groupBy(id => ((id % 150) % 23).toInt).foreach { case (n, siteIds) =>
        val parts = siteIds.groupBy(id => (id % 2).toInt)
        parts.toSeq.sortBy(_._1).foreach { case (p, pIds) =>
          val xml = Urls.renderSitemap(pIds.toSeq.sorted.map(Urls.urlOf))
          Files.write(tmp.resolve(s"leaf-site$n-p$p.xml.gz"), gz(xml))
          if (n == 0 && p == 0) orphanSource = xml
        }
        Files.write(tmp.resolve(s"index-site$n.xml"),
          Urls.renderSitemapIndex(parts.keySet.toSeq.sorted.map(p =>
            s"https://site$n.example/leaf-site$n-p$p.xml.gz"))
            .getBytes(UTF_8))
      }
      if (orphanSource != null)
        Files.write(
          tmp.resolve("leaf-site0-orphan.xml.gz"), gz(orphanSource))
    }

  /** The TRUNCATED crawl archive: every Warc.TruncEvery-th doc's
    * response payload is cut at half its wire length and marked
    * `WARC-Truncated: length` (the Common Crawl size-limit behavior) —
    * the q_warc_truncated / q_warc_extract_trunc fixture.
    */
  private[graft] def stagedTruncatedShards(s: SparkSession, dir: String): Path =
    stagedShards("warctrunc", "shard-%02d.warc.gz", s, dir)(
      Warc.renderTruncatedShard)

  /** Per-site robots.txt FILES (`robots-site<n>.txt`) — the text layer
    * above the in-plan REP rule fixtures: same groups, wire realism
    * (case/CRLF/comments/empty-Disallow/unknown fields), plus the
    * `Sitemap:` directives naming [[stagedSitemapIndex]]'s gzipped
    * leaves.
    */
  private[graft] def stagedRobotsTxt(s: SparkSession, dir: String): Path =
    Scratch.once("robotstxt", dir) { tmp =>
      (0 until Robots.NumSites).foreach { n =>
        Files.write(tmp.resolve(s"robots-site$n.txt"),
          Robots.renderRobotsTxt(n)
            .getBytes(UTF_8))
      }
    }

  private[graft] def robotsTxtFiles(s: SparkSession, dir: String): DataFrame =
    s.read.option("wholetext", "true")
      .text(stagedRobotsTxt(s, dir).toString)
      .select(input_file_name().as("path"), col("value").as("content"))

  /** The REDIRECT crawl archive: 4 shards whose doc_id ≡ 1 (mod 3)
    * responses are 3xx captures with Location headers (q_warc_redirects
    * fixture). Same discipline as [[stagedWarcShards]].
    */
  private[graft] def stagedRedirectShards(s: SparkSession, dir: String): Path =
    stagedShards("warcredir", "shard-%02d.warc.gz", s, dir)(
      Warc.renderRedirectShard)

  /** The DAMAGED crawl archive: same 4 shards, but every
    * Warc.DamageEvery-th doc's response record carries a corrupted
    * magic — the recovery-mode fixture (q_warc_recover). Same
    * discipline as [[stagedWarcShards]].
    */
  private[graft] def stagedDamagedWarcShards(s: SparkSession, dir: String): Path =
    stagedShards("warcdamaged", "shard-%02d.warc.gz", s, dir)(
      Warc.renderDamagedShard)

  /** The corpus as 4 `.wet.gz` shard FILES (Common Crawl's
    * extracted-text sibling: warcinfo + one `conversion` record per
    * doc, payload = plain text). Same discipline as [[stagedWarcShards]].
    */
  private[graft] def stagedWetShards(s: SparkSession, dir: String): Path =
    stagedShards("wetshards", "shard-%02d.wet.gz", s, dir)(
      Warc.renderWetShard)

  /** The corpus as 4 `.wat.gz` shard FILES (Common Crawl's metadata
    * sibling: warcinfo + one `metadata` record per doc, payload = a
    * JSON envelope). Same discipline as [[stagedWarcShards]].
    */
  private[graft] def stagedWatShards(s: SparkSession, dir: String): Path =
    stagedShards("watshards", "shard-%02d.wat.gz", s, dir)(
      Warc.renderWatShard)

  /** documents metadata as CSV with header (doc_id,lang,n_chars) — the
    * fixture for the CSV-source query. Values are numeric or 2-letter
    * codes: no quoting needed.
    */
  private[graft] def stagedCsv(s: SparkSession, dir: String): Path =
    stageOnce(dir, "csv") {
      val rows = ColOps.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id")).collect()
        .map(r => s"${r.getLong(0)},${r.getString(1)},${r.get(2)}")
      "doc_id,lang,n_chars\n" + rows.mkString("\n")
    }

  /** documents written as lang-partitioned parquet — the SINK under test
    * for q_partitioned_write (the read-back proves partition pruning).
    * Written once per JVM per dir, distributed write (no driver collect).
    */
  private[graft] def stagedPartitionedParquet(s: SparkSession, dir: String): Path =
    Scratch.once("partwrite", dir) { tmp =>
      ColOps.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.partitionBy("lang").mode("overwrite").parquet(tmp.toString)
    }

  /** documents metadata as an ORC directory — the fixture for the
    * ORC-source query.
    */
  private[graft] def stagedOrc(s: SparkSession, dir: String): Path =
    Scratch.once("orc", dir) { tmp =>
      ColOps.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").orc(tmp.toString)
    }

  /** The mixed-format media corpus ([[Multimodal.mixedAssets]]) staged
    * as 4 parquet shard FILES of (asset_id, media) — the arrival
    * directory for the multimodal file-SOURCE streaming query (new
    * assets land as parquet batches; the stream discovers each file as
    * its own micro-batch via maxFilesPerTrigger). Distributed write;
    * shard count stays 4 at ANY sf, so the streaming floor doesn't
    * scale with rows.
    */
  private[graft] def stagedMediaShards(s: SparkSession, dir: String): Path =
    Scratch.once("mediashards", dir) { tmp =>
      Multimodal.mixedAssets(s, dir)
        .repartition(4, pmod(col("asset_id"), lit(4)))
        .write.mode("overwrite").parquet(tmp.toString)
    }

  /** Parse one [[stagedTextShards]] line (`doc_id<TAB>text`) — the ONE
    * definition both streaming consumers (q_file_stream,
    * q_quality_stream) use, so the staging convention cannot be parsed
    * two different ways (review finding).
    */
  private[graft] def parseStagedTextLine(lines: DataFrame): DataFrame =
    lines.select(
      expr("CAST(substring(value, 1, instr(value, '\t') - 1) AS BIGINT)")
        .as("doc_id"),
      expr("substring(value, instr(value, '\t') + 1)").as("text"))

  /** documents staged as a shard DIRECTORY for the file-SOURCE streaming
    * query: 4 text files, each line `doc_id<TAB>text` with newlines
    * sanitized (the q_text_lines convention — mirrored in the oracle),
    * doc_id % 4 picking the shard. This is a real ingestion directory:
    * the streaming reader discovers the files itself (one per
    * micro-batch via maxFilesPerTrigger), so NO driver-fed rows enter
    * the query.
    */
  private[graft] def stagedTextShards(s: SparkSession, dir: String): Path =
    stagedShards("textshards", "shard-%02d.txt", s, dir) { (_, docs) =>
      docs.map { case (id, text) => s"$id\t${text.replace('\n', ' ')}" }
        .mkString("\n").getBytes(UTF_8)
    }

  /** events rewritten as 64 deliberately tiny parquet files, then
    * size-targeted compacted ([[Layout.compactParquet]]) — the fixture
    * for q_compact. The query reads the COMPACTED directory; content
    * identity with the raw table is exactly what the oracle checks.
    * LayoutSpec separately asserts the file count collapsed.
    */
  private[graft] def stagedCompacted(s: SparkSession, dir: String): Path =
    Scratch.once("compact", dir) { base =>
      val small = base.resolve("small").toString
      ColOps.table(s, dir, "events")
        .select(col("event_id"), SparkEntry.ivalCol.as("cents"))
        .repartition(64)
        .write.mode("overwrite").parquet(small)
      // quarter of the input bytes per file → ~4 compacted files
      Layout.compactParquet(s, small, base.resolve("compacted").toString,
        targetBytes = math.max(1L, Layout.dataBytes(s, small) / 4))
    }

  /** documents range-laid-out by n_chars ([[Layout.rangeLayout]]): 8
    * parquet files with disjoint n_chars ranges — the fixture for
    * q_range_layout (content identity under a range predicate; the
    * disjointness itself is LayoutSpec's assertion).
    */
  private[graft] def stagedRangeLayout(s: SparkSession, dir: String): Path =
    Scratch.once("rangelayout", dir) { tmp =>
      Layout.rangeLayout(
        ColOps.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars")),
        tmp.toString, 8, "n_chars", "doc_id")
    }

  /** Staged Hive-partitioned rewrite of the documents table on `lang` —
    * built once per sf dir for q_hive_layout (per-partition manifest
    * with content-identity oracle; directory-pruning is LayoutSpec's
    * assertion).
    */
  private[graft] def stagedHiveLayout(s: SparkSession, dir: String): Path =
    Scratch.once("hivelayout", dir) { tmp =>
      Layout.partitionedLayout(
        ColOps.table(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"), col("lang")),
        tmp.toString, "lang")
    }

  /** Staged Z-order rewrite of the events table clustered on
    * (user_id, day) — built once per sf dir, shared by q_zorder_layout
    * (content identity + in-plan morton recomputation; per-file
    * z-range disjointness and locality are LayoutSpec's assertions).
    */
  private[graft] def stagedZorderLayout(s: SparkSession, dir: String): Path =
    Scratch.once("zorder", dir) { tmp =>
      Layout.zorderLayout(
        ColOps.table(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            expr(s"(ts div 1000) div ${86400L * 1000000L}L").as("day")),
        tmp.toString, 8, "user_id", "day")
    }

  /** documents metadata as JSONL — the fixture for the JSONL-source
    * query (lang codes are [a-z]{2}: no JSON escaping needed).
    */
  private[graft] def stagedJsonl(s: SparkSession, dir: String): Path =
    stageOnce(dir, "jsonl") {
      ColOps.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id")).collect()
        .map(r => s"""{"doc_id":${r.getLong(0)},"lang":"${r.getString(1)}","n_chars":${r.get(2)}}""")
        .mkString("\n")
    }
}
