package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._
import graft.Fixtures._
import Shared._

/** Crawl queries: WARC/WET/WAT framing, HTTP and charset decoding, HTML
  * and PDF extraction, CDX, URLs, robots and sitemaps, each with its
  * DuckDB oracle.
  */
object Crawl {

  /** Raw character references appended VERBATIM (unencoded) to every
    * q_html_entities line: named Latin-1/punctuation forms, the
    * no-rescan pin (`&amp;#38;` must stay literal `&#38;`), a C1-remap
    * numeric, and the three U+FFFD classes. [[NcrBatteryDecoded]] is
    * the hand-written expected decode embedded in the oracle
    * (independence from the decoder under test; equality spec-pinned
    * in HtmlEntitiesSpec).
    */
  private[graft] val NcrBatteryRaw =
    " &eacute;&mdash;&hellip;&euro;&frac12;&copy; &amp;#38; &#150;&#0;&#x110000; end"
  private[graft] val NcrBatteryDecoded =
    " é—…€½© &#38; –�� end"

  /** Shared by q_robots_filter (in-plan rule fixture) and
    * q_robots_filter_txt (rules parsed from robots.txt).
    */
  private def robotsFilterOracleSql: String =
    s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte}, ${Robots.fixtureRulesSqlCte}
          ${Robots.filterSql}"""

  def queries: Seq[QueryDef] = Seq(
    // raw-HTML → clean text: read the staged one-page-per-line crawl
    // fixture, recover doc_id from the page's data attribute, strip
    // markup + decode entities + apply the C4 line rules — a map-only
    // codegen pass, no shuffle (the first stage of a curation pipeline)
    QueryDef("q_html_extract", (s, dir) => {
      val pages = Sources.textLines(s, stagedHtml(s, dir).toString).ds.toDF()
        .select(regexp_extract(col("value"), "data-doc=\"([0-9]+)\"", 1)
          .cast("long").as("doc_id"), col("value").as("html"))
      Html.extract(pages, "doc_id", "html")
    },
      // the oracle REBUILDS the staged raw HTML from documents via the
      // shared wrapper template, then strips it with its own regexp chain
      // — both engines parse byte-identical markup
      Html.extractOracleSql),

    // CHARACTER-REFERENCE decode — the WHATWG layer real multilingual
    // pages need: the fixture NCR-encodes every non-ASCII char of
    // (doc text + the doc's Charsets slot text) into decimal/hex
    // references plus a raw named/edge-case battery; the engine's
    // single-pass decoder (numeric + C1 remap + U+FFFD classes + named
    // set, one codegen'd map pass) must reproduce the plain text the
    // oracle predicts from documents + constants — one mis-decoded
    // reference anywhere breaks the hash
    QueryDef("q_html_entities", (s, dir) => {
      val parts = split(col("value"), "\t", 2)
      s.read.text(stagedNcrLines(s, dir).toString).select(
        parts.getItem(0).cast("long").as("doc_id"),
        graft.functions.HtmlEntityDecode.html_entity_decode(parts.getItem(1))
          .as("text"))
    },
      s"""SELECT doc_id,
            replace(text, chr(10), ' ') || ' ' ||
            list_extract(${Charsets.slotTextsSql}, ${Charsets.slotIndexSql}) ||
            '$NcrBatteryDecoded' AS text
          FROM documents"""),

    // corpus-level extraction HEALTH audit — the over-stripping guard
    // (empty-extraction spike + exact ppm drop rate): the signal that
    // makes stripBlocks' documented comment-ordering tradeoff
    // detectable on real data instead of silent
    QueryDef("q_html_audit", (s, dir) => {
      val pages = Sources.textLines(s, stagedHtml(s, dir).toString).ds.toDF()
        .select(regexp_extract(col("value"), "data-doc=\"([0-9]+)\"", 1)
          .cast("long").as("doc_id"), col("value").as("html"))
      Html.extractAudit(pages, "doc_id", "html")
    },
      Html.extractAuditOracleSql),

    // the FULL crawl front door: .warc.gz shards (Common Crawl layout,
    // one gzip member per WARC record) → hand-rolled multi-member
    // gunzip → Content-Length-framed record parse → response filter →
    // HTTP header strip → markup extraction; the two framing layers
    // built-ins can't express are custom codegen expressions, the rest
    // is the existing built-in chain — one map-only pass, zero shuffle,
    // and the oracle is q_html_extract's VERBATIM (any mistake in any
    // decode layer breaks the hash)
    QueryDef("q_warc_extract", (s, dir) =>
      Warc.extract(s.read.format("binaryFile")
        .load(stagedWarcShards(s, dir).toString)),
      // the warc front door lands on the SAME output as the html
      // extraction — the gzip/WARC/HTTP layers must strip to
      // byte-identical pages, so the oracle is shared verbatim
      Html.extractOracleSql),

    // ingest audit for the same shards: per record TYPE, count + total
    // payload bytes — proves the framing parser sees every record
    // (warcinfo/request/response), not just the responses extraction
    // keeps; oracle PREDICTS each payload length from documents + the
    // rendering constants
    QueryDef("q_warc_records", (s, dir) =>
      Warc.recordAudit(s.read.format("binaryFile")
        .load(stagedWarcShards(s, dir).toString)),
      Warc.auditOracleSql),

    // RECOVERY-mode ingest over a DAMAGED archive: every 10th doc's
    // response record has a corrupted magic; the lenient parser skips
    // exactly that record (to the next magic) and counts it — per
    // shard, survivors + malformed count + the EXACT bytes skipped
    // (closed-form record length), so a drop is observable, never
    // silent. The strict parser remains the dispatch/audit contract
    QueryDef("q_warc_recover", (s, dir) =>
      Warc.recoveryAudit(s.read.format("binaryFile")
        .load(stagedDamagedWarcShards(s, dir).toString)),
      Warc.recoveryAuditOracleSql),

    // REDIRECT capture handling: 3xx responses (301/302 with Location
    // headers — what real crawls archive in volume) decode into the
    // frontier-update edge set (canonical source → canonical target →
    // status); both canonicals predicted from doc_id, the 200s in the
    // same shards prove the status filter binds
    QueryDef("q_warc_redirects", (s, dir) =>
      Warc.redirectEdges(Warc.records(s.read.format("binaryFile")
        .load(stagedRedirectShards(s, dir).toString))),
      Warc.redirectEdgesOracleSql),

    // SITEMAP seeds — the REP discovery channel beside robots.txt:
    // per-site XML parsed (loc extraction + entity unescape) into
    // canonicalized frontier seeds, profiled per site (loc count vs
    // distinct canonical pages — the re-crawl variance a seeded
    // frontier immediately collapses)
    QueryDef("q_sitemap_seeds", (s, dir) =>
      Urls.sitemapSeeds(
        s.read.option("wholetext", "true")
          .text(stagedSitemaps(s, dir).toString)
          .select(input_file_name().as("path"), col("value").as("xml"))),
      Urls.sitemapSeedsOracleSql),

    // PDF TEXT TIER — the non-HTML document fraction of a real crawl:
    // application/pdf responses mime-route to the hand-rolled PDF
    // extractor (classic xref, obj/stream framing, FlateDecode via the
    // hand-rolled inflate, BT/ET + Tj/TJ text ops with full
    // literal-string escapes); every second doc's content stream is
    // real zlib; the doc text must round-trip EXACTLY (escapes, the
    // kerned TJ split, inflation) — the oracle is the documents table
    QueryDef("q_pdf_extract", (s, dir) =>
      Warc.extractPdf(s.read.format("binaryFile")
        .load(stagedPdfShards(s, dir).toString)),
      Warc.extractPdfOracleSql),

    // CID/Type0 (CJK) PDF text — the documents the plain-literal tier
    // used to drop wholesale: 2-byte-CID hex strings decoded through
    // the font's /ToUnicode CMap (bfchar + bfrange); each doc's page
    // text is its Charsets SLOT text, so one mis-mapped code point
    // breaks the oracle hash
    QueryDef("q_pdf_cjk", (s, dir) =>
      Warc.extractPdf(s.read.format("binaryFile")
        .load(stagedPdfCjkShards(s, dir).toString)),
      Warc.extractPdfCjkOracleSql),

    // NESTED sitemap discovery — the full sitemaps.org shape: per-site
    // sitemapindex files name GZIPPED leaf sitemaps, leaves are fetched
    // BY REFERENCE (broadcast name join; an orphan leaf the indexes
    // never name must contribute nothing), gunzipped by the engine
    // inflate and parsed into the q_sitemap_seeds profile — whose
    // oracle is shared VERBATIM (index + gzip + orphan layers must be
    // exactly transparent)
    QueryDef("q_sitemap_index", (s, dir) => {
      val p = stagedSitemapIndex(s, dir).toString
      Urls.sitemapIndexSeeds(
        s.read.option("wholetext", "true")
          .option("pathGlobFilter", "index-*.xml").text(p)
          .select(input_file_name().as("path"), col("value").as("xml")),
        s.read.format("binaryFile")
          .option("pathGlobFilter", "leaf-*.xml.gz").load(p))
    },
      // index→leaf composition: the nesting must be exactly transparent
      Urls.sitemapSeedsOracleSql),

    // redirect-AWARE frontier: 301 captures adopt their Location
    // target's canonical identity BEFORE frontier dedup (the old and
    // new URL are the same page — dedup on the source canonical would
    // re-fetch both forever); 302s keep the source identity
    QueryDef("q_frontier_redirect", (s, dir) =>
      Warc.frontierWithRedirects(
        Warc.records(s.read.format("binaryFile")
          .load(stagedRedirectShards(s, dir).toString)),
        // keeper id: the fixture's record ids end in the doc id — the
        // id scheme is archive-specific, so the extraction lives at
        // the call site, not inside the operator
        idOf = regexp_extract(col("record_id"), "graft-redirect-([0-9]+)>$", 1)
          .cast("long")),
      Warc.frontierWithRedirectsOracleSql),

    // CHARSET-REALISM decode: the same front door over an archive whose
    // responses rotate eight legacy encodings (shift_jis, euc-jp,
    // euc-kr, gbk, big5, windows-1251, iso-8859-2, windows-1253) and
    // four declaration channels — header param, meta-only, BOM with a
    // LYING header the sniff must overrule, and undeclared mojibake
    // whose U+FFFD replacements are counted, not silent. Oracle
    // predicts every column (decoded CJK/Cyrillic text included) from
    // documents + the fixture constants
    QueryDef("q_charset_decode", (s, dir) =>
      Charsets.decode(Warc.records(s.read.format("binaryFile")
        .load(stagedCharsetShards(s, dir).toString))),
      Charsets.decodeOracleSql),

    // the mojibake fix COMPOSED into the token tier — the very failure
    // the charset work exists to prevent: Unicode vocab statistics over
    // the legacy-encoded archive's DECODED page bodies (shift_jis /
    // euc / gbk / big5 / cp1251 / latin-2 / greek pages all survive
    // into the token inventory; under the old utf-8 fallback every one
    // of them would have been U+FFFD soup and this hash would break)
    QueryDef("q_charset_vocab", (s, dir) => {
      val decoded = Charsets.decode(Warc.records(s.read.format("binaryFile")
        .load(stagedCharsetShards(s, dir).toString)))
      TextOps.vocabSummaryUnicode(
        decoded.filter(col("charset_source") =!= "default")
          .select(col("doc_id"),
            regexp_extract(col("text"), "<p>(.*)</p>", 1).as("text")),
        "text", 50L)
    },
      TextOps.vocabSummaryUnicodeSql(50L,
        s"""(SELECT doc_id, regexp_extract(text, '<p>(.*)</p>', 1) AS text
           FROM (${Charsets.fixtureSql}) fx WHERE doc_id % 4 <> 3) pt""")),

    // and into the LANGUAGE tier: lang-ID over the decoded legacy
    // pages — each slot's script must identify as its language
    // (shift_jis/euc-jp→ja, euc-kr→ko, gbk/big5→zh, cp1251→ru,
    // latin-2→de, greek→el); under the old fallback every CJK/Cyrillic
    // page was U+FFFD soup and identified as nothing
    QueryDef("q_charset_langid", (s, dir) =>
      Charsets.decode(Warc.records(s.read.format("binaryFile")
          .load(stagedCharsetShards(s, dir).toString)))
        .filter(col("charset_source") =!= "default")
        .select(col("doc_id"),
          TextOps.langIdUnicode(
            regexp_extract(col("text"), "<p>(.*)</p>", 1)).as("lang_pred")),
      Charsets.langIdOracleSql),

    // corpus-level mojibake audit over the same archive: per sniff tier
    // (bom/header/meta/default), docs seen, docs with replacements,
    // total U+FFFD count and the replacement ppm — the q_html_audit
    // sibling that makes silent charset damage observable
    QueryDef("q_charset_audit", (s, dir) =>
      Charsets.audit(Warc.records(s.read.format("binaryFile")
        .load(stagedCharsetShards(s, dir).toString))),
      Charsets.auditOracleSql),

    // the recovery mode COMPOSED into the front door: extraction over
    // the damaged archive — a corrupted record costs exactly its own
    // page (oracle = the extraction oracle minus the damaged docs),
    // everything around it decodes and extracts untouched
    QueryDef("q_warc_extract_recover", (s, dir) =>
      Warc.extractLenient(s.read.format("binaryFile")
        .load(stagedDamagedWarcShards(s, dir).toString)),
      s"""SELECT * FROM (${Html.extractOracleSql}) e
          WHERE e.doc_id % ${Warc.DamageEvery} <> ${Warc.DamagePhase}"""),

    // host-level LINK GRAPH off the raw archive (the Common Crawl
    // webgraph product): response pages → absolute outlinks (href
    // extraction + attribute unescape) → (source domain from the
    // record's target URI, destination domain from the link) → edge
    // weights; one map pass then one hash aggregate on the edge key
    QueryDef("q_link_graph", (s, dir) =>
      Warc.linkDomainEdges(Warc.records(s.read.format("binaryFile")
          .load(stagedWarcShards(s, dir).toString)))
        .groupBy(col("src_domain"), col("dst_domain"))
        .agg(count(lit(1)).as("n_links")),
      s"""SELECT ${Urls.domainOfIdSql("doc_id")} AS src_domain,
            ${Urls.domainOfIdSql(Html.OutlinkTargetSql)} AS dst_domain,
            COUNT(*) AS n_links
          FROM documents GROUP BY 1, 2"""),

    // PageRank over the domain link graph (the webgraph ranking product
    // — link centrality as a crawl-quality prior, computed straight off
    // the archive): the q_link_graph edge derivation feeds the existing
    // damped PageRank. Node ids are derived from the domain STRING
    // (site index × 5 + tld index) so the oracle can predict them; at
    // real scale you'd dense-rank or hash the domain strings instead
    QueryDef("q_domain_rank", (s, dir) => {
      def nodeId(domain: Column): Column =
        regexp_extract(domain, "^site([0-9]+)", 1).cast("long") * 7 +
          when(domain.endsWith(".github.io"), 4L) // before the .io test
            .when(domain.endsWith(".com"), 0L).when(domain.endsWith(".org"), 1L)
            .when(domain.endsWith(".co.uk"), 2L).when(domain.endsWith(".io"), 3L)
            .when(domain.endsWith(".co.jp"), 5L)
            .otherwise(6L)
      val edges = Warc.linkDomainEdges(Warc.records(s.read.format("binaryFile")
          .load(stagedWarcShards(s, dir).toString)))
        .select(nodeId(col("src_domain")).as("src"),
          nodeId(col("dst_domain")).as("dst"))
      Graph.pageRank(edges, iters = 3)
    },
      operators.Graph.pageRankSql(
        s"""SELECT ((doc_id % 150) % 23) * 7 + (doc_id % 150) % 7 AS src,
           (((7 * doc_id + 13) % 150) % 23) * 7 + ((7 * doc_id + 13) % 150) % 7 AS dst
         FROM documents""", iters = 3)),

    // CDX-style crawl index: canonical URL → (shard, in-shard
    // record position, record id) for every response record — the
    // random-access index a crawl archive serves from. Pins that record
    // ORDER survives the gzip-member + framing decode: the oracle
    // PREDICTS every position from doc_id alone (warcinfo at 0, then
    // per doc an optional request before its response)
    QueryDef("q_cdx_index", (s, dir) =>
      Warc.cdxIndex(s.read.format("binaryFile")
        .load(stagedWarcShards(s, dir).toString)),
      cdxIndexOracleSql),

    // TRUNCATED captures (Common Crawl's size limit): records marked
    // WARC-Truncated carry the CUT payload with Content-Length framing
    // the stored bytes; the audit surfaces how many and how much was
    // kept — every count and byte total a closed doc_id formula
    QueryDef("q_warc_truncated", (s, dir) =>
      Warc.truncationAudit(Warc.records(s.read.format("binaryFile")
        .load(stagedTruncatedShards(s, dir).toString))),
      Warc.truncationAuditOracleSql),

    // extraction posture over the same archive: truncated captures are
    // SKIPPED (a half page poisons text statistics; the audit above
    // makes the drop observable) — oracle = extraction minus exactly
    // the truncated docs, the damaged-archive discipline
    QueryDef("q_warc_extract_trunc", (s, dir) =>
      Warc.extractSkippingTruncated(s.read.format("binaryFile")
        .load(stagedTruncatedShards(s, dir).toString)),
      s"""SELECT * FROM (${Html.extractOracleSql}) e
          WHERE e.doc_id % ${Warc.TruncEvery} <> ${Warc.TruncPhase}"""),

    // the CDX over a REVISIT-BEARING archive — the index counts each
    // page ONCE (the response row; revisit records are filtered like
    // any non-response type) while still seeking correctly: revisit
    // members SHIFT later records' in-shard positions, and the oracle
    // re-derives every shifted position from doc_id alone — so a
    // parser that miscounts (or an index that double-lists re-fetched
    // pages) breaks the hash
    QueryDef("q_cdx_revisit", (s, dir) =>
      Warc.cdxIndex(s.read.format("binaryFile")
        .load(stagedRevisitShards(s, dir).toString)),
      // revisit-bearing archive: one row per PAGE, positions shifted by
      // the interleaved revisit members
      cdxOracleSqlWith(withRevisits = true)),

    // payload-integrity audit: per record type, digests present and
    // VERIFIED (sha1 of the received payload == the header) — the
    // end-to-end proof the gzip + framing decode delivered every byte;
    // the oracle predicts all counts from documents + rendering rules
    // (warcinfo carries no digest by the fixture's rendering rule)
    QueryDef("q_warc_digest", (s, dir) =>
      Warc.digestAudit(Warc.records(s.read.format("binaryFile")
        .load(stagedWarcShards(s, dir).toString))),
      s"""WITH req AS (SELECT COUNT(*) AS n FROM documents
                       WHERE doc_id % ${Warc.RequestEvery} = 0),
          resp AS (SELECT COUNT(*) AS n FROM documents)
          SELECT warc_type, n_records, n_with_digest, n_verified FROM (
            SELECT 'response' AS warc_type, n::BIGINT AS n_records,
                   n::BIGINT AS n_with_digest, n::BIGINT AS n_verified FROM resp
            UNION ALL
            SELECT 'request', n::BIGINT, n::BIGINT, n::BIGINT FROM req WHERE n > 0
            UNION ALL
            SELECT 'warcinfo', ${Warc.NumShards}::BIGINT, 0::BIGINT, 0::BIGINT
          ) t"""),

    // WET front door (the extracted-text archive sibling): gunzip →
    // framing → conversion records → payload text; oracle predicts both
    // columns from documents + rendering constants
    QueryDef("q_wet_extract", (s, dir) =>
      Warc.extractWet(s.read.format("binaryFile")
        .load(stagedWetShards(s, dir).toString)),
      """SELECT '<urn:uuid:graft-conversion-' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
           replace(text, chr(10), ' ') AS text
         FROM documents"""),

    // WAT front door (the metadata archive sibling): gunzip → framing →
    // metadata records → explicit-schema from_json (no inference pass
    // over 100 TB) → typed envelope fields; oracle predicts every field
    // from doc_id + the response-length math q_warc_records pinned
    QueryDef("q_wat_meta", (s, dir) =>
      Warc.extractWat(s.read.format("binaryFile")
        .load(stagedWatShards(s, dir).toString)),
      s"""WITH ${Urls.urlBaseSqlCtes},
          raw AS (SELECT doc_id, ${Html.wrapSqlExpr} AS html FROM documents)
          SELECT '<urn:uuid:graft-metadata-' || CAST(b.doc_id AS VARCHAR) || '>' AS record_id,
            b.url AS url,
            ${Warc.responsePayloadLenSql("b.doc_id", "octet_length(encode(r.html))")} AS content_length,
            'Doc ' || CAST(b.doc_id AS VARCHAR) AS title
          FROM base b JOIN raw r USING (doc_id)"""),

    // the ARCHIVE → URL-curation handoff: each response record's
    // WARC-Target-URI (the Urls fixture URL, all nine crawl-noise axes)
    // is parsed/canonicalized/domain-profiled straight off the decoded
    // records — proving the URI survives the gzip + framing layers
    // byte-exact; total_bytes aggregates the PREDICTED payload lengths
    QueryDef("q_warc_urls", (s, dir) =>
      Urls.domainStats(
        Warc.records(s.read.format("binaryFile")
            .load(stagedWarcShards(s, dir).toString))
          .filter(col("warc_type") === "response")
          .select(col("record_id"), col("target_uri").as("url"),
            col("content_length")),
        "record_id", "url", "content_length")
        .withColumnRenamed("total_chars", "total_bytes"),
      s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte},
          raw AS (SELECT doc_id, ${Html.wrapSqlExpr} AS html FROM documents)
          SELECT domain, COUNT(*) AS n_docs,
            COUNT(DISTINCT host_l) AS n_hosts,
            COUNT(DISTINCT canonical) AS n_pages,
            CAST(SUM(bytes) AS BIGINT) AS total_bytes
          FROM (SELECT p.doc_id,
                  ${Warc.responsePayloadLenSql("p.doc_id", "octet_length(encode(r.html))")} AS bytes,
                  ${Urls.domainSql("lower(host)")} AS domain,
                  lower(host) AS host_l,
                  ${Urls.canonicalSql} AS canonical
                FROM parsed p JOIN raw r USING (doc_id)) e
          GROUP BY domain"""),

    // robots-exclusion (REP) compliance over the URL frontier: per-host
    // allow/disallow path-prefix rules broadcast against the URLs; the
    // most SPECIFIC rule wins (longest prefix, allow on ties), default
    // allow — site n%3==0 blocks all articles, n%3==1 blocks /Articles/1
    // but re-allows the more specific /Articles/12, n%3==2 has no rules
    QueryDef("q_robots_filter", (s, dir) =>
      Robots.filter(ColOps.table(s, dir, "documents")
          .select(col("doc_id"), Urls.urlCol(col("doc_id")).as("url")),
        "doc_id", "url", Robots.fixtureRules(s)),
      robotsFilterOracleSql),

    // the robots.txt TEXT layer — the derivation the rule tables were
    // previously assumed to come from: real robots.txt bytes (mixed
    // case, CRLF, comments, empty-Disallow, unknown fields, multi-group
    // files) → RFC 9309 group parse → per-site directive rows; the
    // oracle predicts every row from the site axes
    QueryDef("q_robots_parse", (s, dir) =>
      Robots.directivesFromTxt(robotsTxtFiles(s, dir)),
      Robots.directivesOracleSql),

    // the text layer COMPOSED into the REP gate: parse robots.txt →
    // reconstruct the '*'-group path rules → the same broadcast
    // most-specific-rule filter — sharing q_robots_filter's oracle
    // VERBATIM (the parse must reproduce the in-plan rule fixture
    // exactly, or the hash breaks)
    QueryDef("q_robots_filter_txt", (s, dir) =>
      Robots.filter(ColOps.table(s, dir, "documents")
          .select(col("doc_id"), Urls.urlCol(col("doc_id")).as("url")),
        "doc_id", "url",
        Robots.pathRulesFromTxt(
          Robots.directivesFromTxt(robotsTxtFiles(s, dir)), "*")),
      // text-parsed rules must reproduce the in-plan fixture exactly
      robotsFilterOracleSql),

    // the FULL REP discovery chain: robots.txt `Sitemap:` directives →
    // by-reference fetch of the gzipped leaf sitemaps → canonicalized
    // per-site seed profile — sharing q_sitemap_seeds' oracle VERBATIM
    // (robots parse + reference join + gzip must all be transparent)
    QueryDef("q_robots_discovery", (s, dir) => {
      val refs = Robots.directivesFromTxt(robotsTxtFiles(s, dir))
        .filter(col("kind") === "sitemap")
        .select(regexp_extract(col("value"), "/([^/]+\\.xml\\.gz)$", 1)
          .as("ref_name"))
        .filter(col("ref_name") =!= "").distinct()
      Urls.seedsFromLeafRefs(refs,
        s.read.format("binaryFile")
          .option("pathGlobFilter", "leaf-*.xml.gz")
          .load(stagedSitemapIndex(s, dir).toString))
    },
      // the discovery chain lands on the same per-site seed profile
      Urls.sitemapSeedsOracleSql),

    // frontier POLITENESS schedule: REP user-agent GROUP resolution
    // (sites n%5==0 publish a graftbot group that wins OUTRIGHT —
    // groups never merge, so the generic article blocks stop applying
    // there), path-rule gate, then per-host crawl-delay admission (at
    // most one fetch per host per its own delay window, first by
    // (t, id)) via the generalized per-row-width throttle; arrival
    // times rendered from doc_id so the oracle replays the schedule
    QueryDef("q_frontier_schedule", (s, dir) => {
      val (rules, delays) = Robots.fixtureGroups(s)
      Robots.frontierSchedule(
        ColOps.table(s, dir, "documents")
          .select(col("doc_id"), Urls.urlCol(col("doc_id")).as("url"),
            (col("doc_id") * 333333L).as("t_us")),
        "doc_id", "url", "t_us", rules, delays)
    },
      s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte},
          ${Robots.fixtureRulesSqlCte}, ${Robots.fixtureGroupsSqlCte}
          ${Robots.frontierScheduleSql("doc_id * 333333")}"""),

    // ----- URL curation (the metadata half of the crawl front door) -----
    // the fixture URL is rendered in-plan from doc_id (Urls.urlCol; the
    // oracle rebuilds the identical string in SQL) — page identity keyed
    // by doc_id % 150, crawl noise (scheme/host case, www, default port,
    // utm params, /index.html, trailing slash, fragment) by doc_id

    // RFC-3986-shaped parse + eTLD+1 registered domain: map-only
    QueryDef("q_url_parse", (s, dir) =>
      Urls.parse(ColOps.table(s, dir, "documents")
        .select(col("doc_id"), Urls.urlCol(col("doc_id")).as("url")),
        "doc_id", "url"),
      s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte}
          SELECT doc_id, url, scheme, host,
            (CASE WHEN port_s = '' THEN NULL
                  ELSE CAST(port_s AS BIGINT) END) AS port,
            path, query, fragment,
            ${Urls.domainSql("lower(host)")} AS domain
          FROM parsed"""),

    // canonicalization: the re-crawl variance collapsed per policy
    QueryDef("q_url_normalize", (s, dir) =>
      Urls.normalize(ColOps.table(s, dir, "documents")
        .select(col("doc_id"), Urls.urlCol(col("doc_id")).as("url")),
        "doc_id", "url"),
      s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte}
          SELECT doc_id, url, ${Urls.canonicalSql} AS canonical FROM parsed"""),

    // crawl-frontier dedup on the canonical form: keep-first + group
    // size, ONE hash aggregate — runs before any page bytes are fetched
    QueryDef("q_url_dedup", (s, dir) =>
      Urls.dedupCanonical(ColOps.table(s, dir, "documents")
        .select(col("doc_id"), Urls.urlCol(col("doc_id")).as("url")),
        "doc_id", "url"),
      s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte}
          SELECT canonical, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
          FROM (SELECT doc_id, ${Urls.canonicalSql} AS canonical FROM parsed) c
          GROUP BY canonical"""),

    // per-registered-domain corpus profile: volume, subdomains, distinct
    // canonical pages, text bytes — one shuffle on the domain key
    QueryDef("q_domain_stats", (s, dir) =>
      Urls.domainStats(ColOps.table(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          Urls.urlCol(col("doc_id")).as("url")),
        "doc_id", "url", "n_chars"),
      s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte}
          SELECT domain, COUNT(*) AS n_docs,
            COUNT(DISTINCT host_l) AS n_hosts,
            COUNT(DISTINCT canonical) AS n_pages,
            CAST(SUM(n_chars) AS BIGINT) AS total_chars
          FROM (SELECT p.doc_id, d.n_chars,
                  ${Urls.domainSql("lower(host)")} AS domain,
                  lower(host) AS host_l,
                  ${Urls.canonicalSql} AS canonical
                FROM parsed p JOIN documents d USING (doc_id)) e
          GROUP BY domain"""),

    // per-domain volume cap: top-5 docs by size per registered domain;
    // rank<=k plans as a partial WindowGroupLimit below the exchange
    QueryDef("q_domain_cap", (s, dir) =>
      Urls.domainCap(ColOps.table(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          Urls.urlCol(col("doc_id")).as("url")),
        "doc_id", "url", "n_chars", 5),
      s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte}
          SELECT doc_id, domain, n_chars, rk FROM (
            SELECT p.doc_id, ${Urls.domainSql("lower(host)")} AS domain,
              d.n_chars,
              ROW_NUMBER() OVER (
                PARTITION BY ${Urls.domainSql("lower(host)")}
                ORDER BY d.n_chars DESC, p.doc_id ASC) AS rk
            FROM parsed p JOIN documents d USING (doc_id)) r
          WHERE rk <= 5"""),

    // the text-quality battery consuming the EXTRACTION's output (kept
    // lines re-flattened to single-space text) — proves the extracted
    // corpus feeds the downstream family unchanged
    QueryDef("q_html_quality", (s, dir) => {
      val pages = Sources.textLines(s, stagedHtml(s, dir).toString).ds.toDF()
        .select(regexp_extract(col("value"), "data-doc=\"([0-9]+)\"", 1)
          .cast("long").as("doc_id"), col("value").as("html"))
      val extracted = pages.select(col("doc_id"),
        call_function("replace", Html.extractText(col("html")), lit("\n"), lit(" "))
          .as("text"))
      TextOps.qualityFilter(extracted, "doc_id", "text")
    },
      s"""WITH ${Html.extractedDocsSqlCte}
          ${TextOps.qualityFilterSql(allStopsSql, "extracted")}"""),

    // WARC revisit resolution — Common Crawl's identical-payload-digest
    // profile: re-fetched-unchanged URLs arrive as `revisit` records
    // (WARC-Refers-To + the digest of the payload that was NOT stored);
    // a digest-keyed join resolves each to its stored original, and the
    // output re-extracts the doc id from the RESOLVED page bytes so the
    // join is proven to deliver the right payload, not just a key match
    QueryDef("q_warc_revisit", (s, dir) =>
      Warc.revisitResolve(Warc.records(s.read.format("binaryFile")
        .load(stagedRevisitShards(s, dir).toString))),
      Warc.revisitResolveOracleSql),
  )
}
