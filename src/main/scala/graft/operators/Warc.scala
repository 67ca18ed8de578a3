package graft.operators

import org.apache.spark.sql._
import org.apache.spark.sql.functions._
import graft.functions.{GzipDecode, WarcRecords}

/** The crawl-archive front door: `.warc.gz` shard files → clean text.
  *
  * Layout follows the Common Crawl convention: each shard file is a
  * concatenation of gzip MEMBERS, one WARC record per member (so a
  * reader can seek to any record boundary without inflating the whole
  * shard); records are `warcinfo` (shard metadata), `request`, and
  * `response` (HTTP response bytes whose body is the page HTML). The
  * ingest chain is:
  *
  * {{{ binaryFile scan → gzip_decode → warc_records → explode
  *     → filter(type=response) → HTTP header strip → Html.extract }}}
  *
  * Only the two framing layers that built-ins genuinely cannot express
  * (gzip inflate, Content-Length-driven record framing) are custom
  * codegen expressions; everything after is the existing codegen'd
  * built-in chain, so the whole ingest is a map-only pass — zero
  * shuffle, scan-bound at 100 TB, exactly like [[Html.extract]] it
  * feeds. Reference cell: the chunked byte source `sourceHandle` +
  * line framing (`/root/reference/src/Data/Conduino/Combinators.hs:245-288`);
  * WARC is the length-framed archive sibling.
  *
  * FIXTURE DISCIPLINE (the BMP/WAV/PNG/HTML rule): the shard bytes are
  * rendered ONCE from the `documents` table — the page HTML by the
  * SAME [[Html.wrapLine]] template the extraction oracle rebuilds in
  * SQL — so after Spark strips the gzip + WARC + HTTP layers the
  * extraction faces byte-identical input to the oracle's in-SQL
  * reconstruction, and q_warc_extract shares [[Html.extractOracleSql]]
  * verbatim. Any mistake anywhere in the decode stack breaks the hash.
  */
object Warc {

  // ---------------------------------------------------------------------
  // Record rendering (fixture side; constants mirrored into the oracle)
  // ---------------------------------------------------------------------

  // ---------------------------------------------------------------------
  // HTTP response envelope axes — every axis a pure function of doc_id,
  // so the oracle predicts every payload length from the documents
  // table alone. Encodings chosen to be LENGTH-DETERMINISTIC in SQL:
  // chunked framing uses a fixed chunk size; Content-Encoding: gzip is
  // stored-block DEFLATE (length = closed formula of the input length).
  // The engine-side inflate still faces real dynamic-Huffman zlib
  // output through the OUTER per-record gzip members (JDK-compressed),
  // and HttpCodecSpec pins dynamic-Huffman/deflate/charset bodies the
  // ASCII fixture can't distinguish.
  // ---------------------------------------------------------------------

  /** Fixed chunk size for `Transfer-Encoding: chunked` bodies. */
  val ChunkSize = 256

  /** Body encoding axis: 0 = identity, 1 = chunked, 2 = gzip,
    * 3 = gzip-then-chunked (the real-wire combination).
    */
  def encodingAxis(id: Long): Int =
    if (id % 6 == 5) 3
    else (id % 3) match { case 1 => 1; case 2 => 2; case _ => 0 }

  /** Status-line axis (HTTP/1.0 responses live in real archives; both
    * variants are 15 bytes so the length math is shared).
    */
  def statusLineOf(id: Long): String =
    if (id % 5 == 0) "HTTP/1.0 200 OK" else "HTTP/1.1 200 OK"

  /** Content-Type axis: canonical utf-8, case-mangled (header names
    * and parameter case are both insensitive on the wire), declared
    * ISO-8859-1 (the body is encoded with that charset — byte-equal
    * for the ASCII corpus, but the decoder must SELECT it correctly),
    * and charset-absent (utf-8 default).
    */
  val CtVariants: Array[String] = Array(
    "Content-Type: text/html; charset=utf-8",
    "content-type: Text/HTML; Charset=UTF-8",
    "Content-Type: text/html; charset=ISO-8859-1",
    "Content-Type: text/html")

  private val CeHeader = "Content-Encoding: gzip\r\n"
  private val TeHeader = "Transfer-Encoding: chunked\r\n"

  /** Envelope header block for a doc's response. */
  def envelopeHeader(id: Long): String = {
    val enc = encodingAxis(id)
    statusLineOf(id) + "\r\n" +
      CtVariants((id % 4).toInt) + "\r\n" +
      (if (enc >= 2) CeHeader else "") +
      (if (enc == 1 || enc == 3) TeHeader else "") +
      "\r\n"
  }

  /** Stored-block gzip (RFC 1952 over RFC 1951 BTYPE=00 blocks):
    * deterministic and length-closed — compressed length =
    * 18 + n + 5 * ceil(n/65535) — so the audit oracle can predict the
    * wire size of every compressed body in SQL. (Fixture-side encoder
    * only; the ENGINE decode path is [[graft.functions.GzipCodec]],
    * whose inflate handles all three block types.)
    */
  def gzipStored(data: Array[Byte]): Array[Byte] = {
    val nBlocks = math.max(1, (data.length + 65534) / 65535)
    val out = new Array[Byte](18 + data.length + 5 * nBlocks)
    // header: magic, CM=8, FLG=0, MTIME=0, XFL=0, OS=255
    out(0) = 0x1f; out(1) = 0x8b.toByte; out(2) = 8; out(9) = 0xff.toByte
    var p = 10
    var off = 0
    var bi = 0
    while (bi < nBlocks) {
      val len = math.min(data.length - off, 65535)
      out(p) = if (bi == nBlocks - 1) 1 else 0 // BFINAL
      out(p + 1) = (len & 0xff).toByte
      out(p + 2) = ((len >> 8) & 0xff).toByte
      out(p + 3) = (~len & 0xff).toByte
      out(p + 4) = ((~len >> 8) & 0xff).toByte
      System.arraycopy(data, off, out, p + 5, len)
      p += 5 + len
      off += len
      bi += 1
    }
    val crc = new java.util.zip.CRC32
    crc.update(data)
    val c = crc.getValue
    out(p) = (c & 0xff).toByte; out(p + 1) = ((c >> 8) & 0xff).toByte
    out(p + 2) = ((c >> 16) & 0xff).toByte; out(p + 3) = ((c >> 24) & 0xff).toByte
    val n = data.length.toLong & 0xffffffffL
    out(p + 4) = (n & 0xff).toByte; out(p + 5) = ((n >> 8) & 0xff).toByte
    out(p + 6) = ((n >> 16) & 0xff).toByte; out(p + 7) = ((n >> 24) & 0xff).toByte
    out
  }

  /** Chunked transfer framing at [[ChunkSize]]: per chunk a lowercase
    * hex size line + CRLF + data + CRLF, then the `0` terminator —
    * framed length is a closed formula of the body length (below).
    */
  def chunkedEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + data.length / ChunkSize * 8 + 16)
    val ascii7 = java.nio.charset.StandardCharsets.US_ASCII
    var off = 0
    while (off < data.length) {
      val len = math.min(data.length - off, ChunkSize)
      out.write(java.lang.Integer.toHexString(len).getBytes(ascii7))
      out.write('\r'); out.write('\n')
      out.write(data, off, len)
      out.write('\r'); out.write('\n')
      off += len
    }
    out.write('0'.toInt); out.write('\r'); out.write('\n')
    out.write('\r'); out.write('\n')
    out.toByteArray
  }

  /** Full response payload (envelope header + transfer/content-encoded
    * body) for a doc's html. Self-checks against the closed length
    * formula the oracle uses — a fixture/oracle drift fails staging,
    * not the hash compare.
    */
  def responsePayload(id: Long, html: String): Array[Byte] = {
    val cs =
      if (id % 4 == 2) java.nio.charset.StandardCharsets.ISO_8859_1
      else java.nio.charset.StandardCharsets.UTF_8
    val raw = html.getBytes(cs)
    val body = encodingAxis(id) match {
      case 1 => chunkedEncode(raw)
      case 2 => gzipStored(raw)
      case 3 => chunkedEncode(gzipStored(raw))
      case _ => raw
    }
    val out = ascii(envelopeHeader(id)) ++ body
    val predicted = responsePayloadLen(id, raw.length)
    require(out.length == predicted,
      s"envelope length drift for doc $id: rendered ${out.length}, formula $predicted")
    out
  }

  private def gzipLen(n: Long): Long = 18 + n + 5 * math.max(1, (n + 65534) / 65535)

  private def chunkedLen(n: Long): Long = {
    val full = n / ChunkSize
    val r = n % ChunkSize
    val partial = if (r == 0) 0L else (if (r < 16) 1L else 2L) + 4L
    n + 7 * full + partial + 5
  }

  /** Scala mirror of [[responsePayloadLenSql]] (and the self-check in
    * [[responsePayload]]): total payload bytes for a doc's response
    * given its html byte length.
    */
  def responsePayloadLen(id: Long, htmlBytes: Long): Long = {
    val enc = encodingAxis(id)
    val header = envelopeHeader(id).length.toLong
    val body = enc match {
      case 1 => chunkedLen(htmlBytes)
      case 2 => gzipLen(htmlBytes)
      case 3 => chunkedLen(gzipLen(htmlBytes))
      case _ => htmlBytes
    }
    header + body
  }

  /** DuckDB expression for [[responsePayloadLen]]: payload bytes of
    * doc `$id`'s response given the html byte-length expression `$hb`.
    * (The html is ASCII-or-UTF-8 with the fixture corpus pure ASCII,
    * so the declared-ISO-8859-1 docs have byte-identical bodies.)
    */
  def responsePayloadLenSql(id: String, hb: String): String = {
    val ctLens = CtVariants.map(_.length)
    val headerLen =
      s"""(15 + 2 + (CASE ($id) % 4 WHEN 0 THEN ${ctLens(0)} WHEN 1 THEN ${ctLens(1)}
             WHEN 2 THEN ${ctLens(2)} ELSE ${ctLens(3)} END) + 2
           + (CASE WHEN ($id) % 3 = 2 THEN ${CeHeader.length} ELSE 0 END)
           + (CASE WHEN ($id) % 3 = 1 OR ($id) % 6 = 5 THEN ${TeHeader.length} ELSE 0 END)
           + 2)"""
    def gz(n: String) = s"(18 + ($n) + 5 * GREATEST(1, (($n) + 65534) // 65535))"
    def ch(n: String) =
      s"""(($n) + 7 * (($n) // $ChunkSize)
           + (CASE WHEN ($n) % $ChunkSize = 0 THEN 0
                   WHEN ($n) % $ChunkSize < 16 THEN 5 ELSE 6 END) + 5)"""
    val body =
      s"""(CASE WHEN ($id) % 6 = 5 THEN ${ch(gz(hb))}
               WHEN ($id) % 3 = 1 THEN ${ch(hb)}
               WHEN ($id) % 3 = 2 THEN ${gz(hb)}
               ELSE ($hb) END)"""
    s"CAST(($headerLen + $body) AS BIGINT)"
  }

  /** request-record payload; length = [[RequestBaseBytes]] + digits of
    * the doc id.
    */
  def requestPayload(docId: Long): String =
    s"GET /doc/$docId HTTP/1.1\r\nHost: corpus.example\r\nUser-Agent: graft\r\n\r\n"
  val RequestBaseBytes: Int = requestPayload(0L).length - 1

  /** warcinfo payload (one record at the head of every shard). */
  val WarcinfoPayload: String =
    "software: graft-crawler/1.0\r\nformat: WARC File Format 1.0\r\n"

  /** Every third doc also gets a request record — non-response records
    * must EXIST in the fixture for the type filter to mean anything.
    */
  val RequestEvery = 3

  /** Number of shard files (the `Fixtures.stagedShards` convention:
    * fixed at any sf, so file count never scales with rows).
    */
  val NumShards = 4

  private def ascii(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** sha1 of a payload in the fixture's digest-header form. Hex rather
    * than Common Crawl's base32 — hex is what the engine-side verifier
    * (`sha1()`, a codegen'd built-in) emits, and the scheme prefix
    * makes the encoding explicit.
    */
  def payloadDigestOf(payload: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1").digest(payload)
    "sha1:" + d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** Render one WARC/1.0 record (headers + payload + terminator).
    * Every record except `warcinfo` carries a WARC-Payload-Digest
    * header (the integrity field real crawl archives ship).
    * `digestOverride` is how a `revisit` record carries the digest of
    * the payload it did NOT store (the WARC spec's
    * identical-payload-digest profile); `refersTo` its
    * WARC-Refers-To pointer at the stored original.
    */
  def renderRecord(warcType: String, recordId: String,
                   targetUri: Option[String],
                   payload: Array[Byte],
                   digestOverride: Option[String] = None,
                   refersTo: Option[String] = None,
                   truncated: Option[String] = None): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    sb.append("WARC-Type: ").append(warcType).append("\r\n")
    sb.append("WARC-Record-ID: <urn:uuid:").append(recordId).append(">\r\n")
    targetUri.foreach(u => sb.append("WARC-Target-URI: ").append(u).append("\r\n"))
    refersTo.foreach(r => sb.append("WARC-Refers-To: ").append(r).append("\r\n"))
    truncated.foreach(t => sb.append("WARC-Truncated: ").append(t).append("\r\n"))
    if (warcType != "warcinfo")
      sb.append("WARC-Payload-Digest: ")
        .append(digestOverride.getOrElse(payloadDigestOf(payload))).append("\r\n")
    sb.append("Content-Length: ").append(payload.length).append("\r\n\r\n")
    val head = ascii(sb.toString)
    val out = new Array[Byte](head.length + payload.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(payload, 0, out, head.length, payload.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** One record as its own gzip member. Compressed with the JDK's
    * deflater (dynamic-Huffman output) ON PURPOSE: the fixture then
    * cross-validates the hand-rolled inflate against real zlib streams,
    * not just against our own encoder — the same cross-check discipline
    * the PNG dynamic-Huffman decoder was built under (PngCodecSpec).
    * JDK-side compression is fixture plumbing only; the ENGINE path is
    * [[graft.functions.GzipCodec]].
    */
  def gzipMember(record: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(record)
    gz.close()
    bos.toByteArray
  }

  /** Render one shard: warcinfo member, then per doc (ascending id) an
    * optional request member and the response member.
    */
  def renderShard(shardIdx: Int, docs: Seq[(Long, String)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(gzipMember(renderRecord("warcinfo", s"graft-warcinfo-$shardIdx",
      None, ascii(WarcinfoPayload))))
    docs.foreach { case (id, rawText) =>
      // the Urls fixture URL (all its crawl-noise axes) rides the
      // archive as WARC-Target-URI — the q_warc_urls handoff proves it
      // survives the gzip + framing layers byte-exact
      val uri = Urls.urlOf(id)
      if (id % RequestEvery == 0)
        bos.write(gzipMember(renderRecord("request", s"graft-request-$id",
          Some(uri), ascii(requestPayload(id)))))
      val html = Html.wrapLine(id, rawText)
      bos.write(gzipMember(renderRecord("response", s"graft-response-$id",
        Some(uri), responsePayload(id, html))))
    }
    bos.toByteArray
  }

  // ---------------------------------------------------------------------
  // Revisit records — Common Crawl's identical-payload-digest profile:
  // a URL re-fetched later whose payload did not change is archived as
  // a `revisit` record carrying WARC-Refers-To (the stored original's
  // record id) and the WARC-Payload-Digest of the payload that was NOT
  // stored. Resolution is digest-keyed; the corpus must count the page
  // ONCE while the fetch log still sees the re-fetch.
  // ---------------------------------------------------------------------

  /** Every doc with id ≡ [[RevisitPhase]] (mod [[RevisitEvery]]) was
    * re-fetched unchanged and carries a revisit record.
    */
  val RevisitEvery = 4
  val RevisitPhase = 2
  def hasRevisit(id: Long): Boolean = id % RevisitEvery == RevisitPhase

  /** Render one revisit-bearing shard: byte-identical to
    * [[renderShard]]'s record stream (so every response-path oracle is
    * shared VERBATIM), plus one `revisit` member after each re-fetched
    * doc's response — empty payload, digest pointing at the original.
    */
  def renderRevisitShard(shardIdx: Int, docs: Seq[(Long, String)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(gzipMember(renderRecord("warcinfo", s"graft-warcinfo-$shardIdx",
      None, ascii(WarcinfoPayload))))
    docs.foreach { case (id, rawText) =>
      val uri = Urls.urlOf(id)
      if (id % RequestEvery == 0)
        bos.write(gzipMember(renderRecord("request", s"graft-request-$id",
          Some(uri), ascii(requestPayload(id)))))
      val html = Html.wrapLine(id, rawText)
      val payload = responsePayload(id, html)
      bos.write(gzipMember(renderRecord("response", s"graft-response-$id",
        Some(uri), payload)))
      if (hasRevisit(id))
        bos.write(gzipMember(renderRecord("revisit", s"graft-revisit-$id",
          Some(uri), Array.emptyByteArray,
          digestOverride = Some(payloadDigestOf(payload)),
          refersTo = Some(s"<urn:uuid:graft-response-$id>"))))
    }
    bos.toByteArray
  }

  /** Resolve every revisit to its stored original by payload digest
    * (the join real archives support — WARC-Refers-To record ids are
    * optional in the wild, digests are not): per re-fetch, the
    * refers-to pointer, the ORIGINAL payload's length, and the doc id
    * extracted from the RESOLVED page bytes — so the output proves the
    * join delivered the right payload, not just a matching key. One
    * digest-keyed shuffle join, no driver-side state; at 100 TB both
    * sides partition on the digest and AQE picks the join strategy.
    */
  def revisitResolve(recs: DataFrame): DataFrame = {
    val responses = recs.filter(col("warc_type") === "response")
      .select(col("payload_digest").as("__digest"),
        col("payload").as("__orig_payload"))
    val revisits = recs.filter(col("warc_type") === "revisit")
      .select(
        regexp_extract(col("record_id"), "graft-revisit-([0-9]+)>$", 1)
          .cast("long").as("doc_id"),
        col("refers_to"), col("payload_digest"))
    revisits.join(responses, col("payload_digest") === col("__digest"))
      .withColumn("__env",
        graft.functions.HttpResponse.http_response(col("__orig_payload")))
      .select(col("doc_id"), col("refers_to"),
        length(col("__orig_payload")).cast("long").as("orig_len"),
        regexp_extract(col("__env.text"), "data-doc=\"([0-9]+)\"", 1)
          .cast("long").as("resolved_doc_id"))
  }

  /** DuckDB mirror of [[revisitResolve]] over the revisit fixture:
    * every column a closed function of doc_id (the original payload
    * length is the q_warc_records formula).
    */
  def revisitResolveOracleSql: String =
    s"""WITH raw AS (SELECT doc_id, ${Html.wrapSqlExpr} AS html FROM documents)
        SELECT doc_id,
          '<urn:uuid:graft-response-' || doc_id || '>' AS refers_to,
          ${responsePayloadLenSql("doc_id", "octet_length(encode(html))")} AS orig_len,
          doc_id AS resolved_doc_id
        FROM raw WHERE doc_id % $RevisitEvery = $RevisitPhase"""

  /** Render one PDF-bearing shard: warcinfo + per doc a response whose
    * body is a complete single-page PDF carrying the doc's text
    * (Content-Type: application/pdf — the mime routing a crawl uses to
    * pick the PDF tier); every second doc's content stream is
    * real-zlib FlateDecoded. One-doc-per-line text convention as
    * everywhere.
    */
  def renderPdfShard(shardIdx: Int, docs: Seq[(Long, String)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(gzipMember(renderRecord("warcinfo", s"graft-pdfinfo-$shardIdx",
      None, ascii(WarcinfoPayload))))
    docs.foreach { case (id, rawText) =>
      val text = rawText.replace('\n', ' ')
      // three layout thirds: id%3==2 ships the PDF 1.5+ layout (xref
      // STREAM + object stream); id%3==1 ships a classic base whose
      // content was REPLACED by an appended incremental update (/Prev
      // chain + indirect /Length — the extractor must take the
      // update's text, never the base's decoy); the rest classic 1.4
      val pdf =
        if (id % 3 == 2) graft.functions.PdfCodec.render15(text, flate = id % 2 == 0)
        else if (id % 3 == 1) graft.functions.PdfCodec.renderWithUpdate(text, flate = id % 2 == 0)
        else graft.functions.PdfCodec.render(text, flate = id % 2 == 0)
      val payload = ascii(
        "HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n\r\n") ++ pdf
      bos.write(gzipMember(renderRecord("response", s"graft-pdf-$id",
        Some(Urls.urlOf(id)), payload)))
    }
    bos.toByteArray
  }

  /** PDF text extraction off the archive: response records mime-routed
    * to the PDF tier, body → [[graft.functions.PdfCodec]] — the same
    * map-only zero-shuffle front-door shape as HTML extraction.
    */
  def extractPdf(shards: DataFrame): DataFrame =
    records(shards)
      .filter(col("warc_type") === "response")
      .select(
        regexp_extract(col("record_id"), "graft-pdf-([0-9]+)>$", 1)
          .cast("long").as("doc_id"),
        graft.functions.HttpResponse.http_response(col("payload")).as("env"))
      .filter(col("env.mime") === "application/pdf")
      .select(col("doc_id"),
        graft.functions.PdfText.pdf_text(col("env.body")).as("p"))
      .select(col("doc_id"), col("p.text").as("text"),
        col("p.n_objects").as("n_objects"), col("p.n_streams").as("n_streams"))

  /** DuckDB mirror of [[extractPdf]]: the text must round-trip exactly
    * (escapes, kerned TJ split, FlateDecode, the 1.5 xref-stream +
    * ObjStm layout on every doc_id%3==2, the /Prev incremental-update
    * chain with indirect /Length on every doc_id%3==1 — whose text
    * must come from the UPDATE, proving newest-wins precedence).
    * Classic docs carry 5 live objects, updated docs 6 (4 surviving
    * base + content + length), 1.5 docs 7 (3 direct + 4 compressed),
    * all with exactly one live TEXT stream (metadata streams are never
    * op-scanned; the shadowed base content stream is not live).
    */
  def extractPdfOracleSql: String =
    """SELECT doc_id, replace(text, chr(10), ' ') AS text,
         CAST(CASE doc_id % 3 WHEN 2 THEN 7 WHEN 1 THEN 6 ELSE 5 END AS INT) AS n_objects,
         CAST(1 AS INT) AS n_streams
       FROM documents"""

  /** Render one shard of CID/Type0 (CJK) PDFs: each doc's page text is
    * its [[Charsets]] SLOT text (the multilingual fixture — so the
    * oracle is closed over `documents.doc_id` alone), carried as
    * 2-byte-CID hex strings recoverable ONLY through the font's
    * /ToUnicode CMap ([[graft.functions.PdfCodec.renderCjk]]). This is
    * the documents the plain-literal PDF tier used to drop wholesale:
    * CJK PDFs essentially always use Type0 fonts.
    */
  def renderPdfCjkShard(shardIdx: Int, docs: Seq[(Long, String)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(gzipMember(renderRecord("warcinfo", s"graft-pdfcjkinfo-$shardIdx",
      None, ascii(WarcinfoPayload))))
    docs.foreach { case (id, _) =>
      val text = Charsets.Slots(Charsets.slotOf(id))._3
      val pdf = graft.functions.PdfCodec.renderCjk(text, flate = id % 2 == 0)
      val payload = ascii(
        "HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n\r\n") ++ pdf
      bos.write(gzipMember(renderRecord("response", s"graft-pdf-$id",
        Some(Urls.urlOf(id)), payload)))
    }
    bos.toByteArray
  }

  /** DuckDB mirror of [[extractPdf]] over the CJK shards: the slot
    * text must survive the CID→Unicode round trip exactly — one
    * mis-mapped code point breaks the hash. 6 live objects (catalog,
    * pages, page, content, font, CMap), 1 text stream (the CMap is
    * never op-scanned).
    */
  def extractPdfCjkOracleSql: String =
    s"""SELECT doc_id,
         list_extract(${Charsets.slotTextsSql}, ${Charsets.slotIndexSql}) AS text,
         CAST(6 AS INT) AS n_objects, CAST(1 AS INT) AS n_streams
       FROM documents"""

  // ---------------------------------------------------------------------
  // Truncated captures — Common Crawl cuts payloads at its size limit
  // and marks the record `WARC-Truncated: length`; the stored bytes ARE
  // the truncated payload (no original length survives). A pipeline's
  // posture: skip them at extraction (a half page poisons text
  // statistics), COUNT them in the audit so the loss is observable.
  // ---------------------------------------------------------------------

  val TruncEvery = 9
  val TruncPhase = 7
  def isTruncated(id: Long): Boolean = id % TruncEvery == TruncPhase

  /** Render one shard where every [[TruncEvery]]-th doc's response
    * payload is CUT at half its wire length and marked
    * `WARC-Truncated: length`; all other records byte-identical to
    * [[renderShard]]'s.
    */
  def renderTruncatedShard(shardIdx: Int, docs: Seq[(Long, String)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(gzipMember(renderRecord("warcinfo", s"graft-warcinfo-$shardIdx",
      None, ascii(WarcinfoPayload))))
    docs.foreach { case (id, rawText) =>
      val uri = Urls.urlOf(id)
      if (id % RequestEvery == 0)
        bos.write(gzipMember(renderRecord("request", s"graft-request-$id",
          Some(uri), ascii(requestPayload(id)))))
      val full = responsePayload(id, Html.wrapLine(id, rawText))
      if (isTruncated(id))
        bos.write(gzipMember(renderRecord("response", s"graft-response-$id",
          Some(uri), java.util.Arrays.copyOf(full, full.length / 2),
          truncated = Some("length"))))
      else
        bos.write(gzipMember(renderRecord("response", s"graft-response-$id",
          Some(uri), full)))
    }
    bos.toByteArray
  }

  /** Truncation audit over a decoded record stream: one row —
    * records seen, responses, truncated responses, and the bytes the
    * archive actually STORED for them (all the original-length signal
    * a real WARC retains). One map pass + one scalar aggregate.
    */
  def truncationAudit(recs: DataFrame): DataFrame =
    recs.agg(
      count(lit(1)).as("n_records"),
      sum(when(col("warc_type") === "response", 1L).otherwise(0L))
        .as("n_responses"),
      sum(when(col("truncated").isNotNull, 1L).otherwise(0L))
        .as("n_truncated"),
      coalesce(sum(when(col("truncated").isNotNull, col("content_length"))),
        lit(0L)).as("truncated_stored_bytes"))

  /** DuckDB mirror of [[truncationAudit]] over the truncated fixture:
    * every count and every stored-byte total predicted from documents
    * + the rendering constants (the cut is total div 2, exact).
    */
  def truncationAuditOracleSql: String = {
    val total = responsePayloadLenSql("doc_id", "octet_length(encode(html))")
    s"""WITH raw AS (SELECT doc_id, ${Html.wrapSqlExpr} AS html FROM documents)
        SELECT
          CAST($NumShards + (SELECT COUNT(*) FROM documents)
            + (SELECT COUNT(*) FROM documents WHERE doc_id % $RequestEvery = 0)
            AS BIGINT) AS n_records,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_responses,
          CAST(COUNT(*) AS BIGINT) AS n_truncated,
          CAST(COALESCE(SUM(($total) // 2), 0) AS BIGINT) AS truncated_stored_bytes
        FROM raw WHERE doc_id % $TruncEvery = $TruncPhase"""
  }

  /** Extraction over a truncation-bearing archive: truncated captures
    * are SKIPPED (the drop is the audit's job to surface); everything
    * else extracts untouched — the damaged-archive discipline.
    */
  def extractSkippingTruncated(shards: DataFrame): DataFrame =
    Html.extract(
      responsePages(records(shards).filter(col("truncated").isNull)),
      "doc_id", "html")

  /** Render one WET shard (Common Crawl's extracted-text sibling):
    * warcinfo member, then one `conversion` record per doc whose
    * payload is the doc's plain text (newlines flattened — the
    * one-doc-per-line staging convention), target URI preserved.
    */
  def renderWetShard(shardIdx: Int, docs: Seq[(Long, String)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(gzipMember(renderRecord("warcinfo", s"graft-wetinfo-$shardIdx",
      None, ascii(WarcinfoPayload))))
    docs.foreach { case (id, rawText) =>
      bos.write(gzipMember(renderRecord("conversion", s"graft-conversion-$id",
        Some(Urls.urlOf(id)),
        rawText.replace('\n', ' ')
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))))
    }
    bos.toByteArray
  }

  /** Render one WAT shard (Common Crawl's metadata sibling): warcinfo
    * member, then one `metadata` record per doc whose payload is a
    * JSON envelope — target URI, the RESPONSE record's predicted
    * content length, and a page title. Values are ASCII with no JSON
    * metacharacters, so they embed raw.
    */
  def renderWatShard(shardIdx: Int, docs: Seq[(Long, String)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(gzipMember(renderRecord("warcinfo", s"graft-watinfo-$shardIdx",
      None, ascii(WarcinfoPayload))))
    docs.foreach { case (id, rawText) =>
      val htmlBytes = Html.wrapLine(id, rawText)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      val json =
        s"""{"envelope":{"uri":"${Urls.urlOf(id)}","content_length":${responsePayloadLen(id, htmlBytes)}},""" +
          s""""meta":{"title":"Doc $id"}}"""
      bos.write(gzipMember(renderRecord("metadata", s"graft-metadata-$id",
        Some(Urls.urlOf(id)), ascii(json))))
    }
    bos.toByteArray
  }

  // ---------------------------------------------------------------------
  // Redirect-archive fixture: real crawls capture 3xx responses, and
  // the frontier follows their Location headers. Every doc_id ≡ 1
  // (mod 3) response is a redirect (301 on id ≡ 1 mod 6, 302 on
  // id ≡ 4 mod 6) whose Location is the fixture URL of the OUTLINK
  // target id (7·id + 13 — the webgraph convention), so the redirect
  // edge set is a pure function of doc_id. Other docs respond 200
  // with a minimal body — the status filter must actually bind.
  // ---------------------------------------------------------------------

  def isRedirect(id: Long): Boolean = id % 3 == 1

  /** Status axis covers both permanent (301/308) and temporary
    * (302/307) classes — frontier rewriting must branch on the CLASS,
    * and a fixture with only one member per class couldn't catch a
    * member left out.
    */
  def redirectStatus(id: Long): Int = (id % 12) match {
    case 1 => 301
    case 4 => 302
    case 7 => 308
    case _ => 307
  }

  def redirectTarget(id: Long): Long = 7 * id + 13

  /** Render one redirect-archive shard. */
  def renderRedirectShard(shardIdx: Int, docs: Seq[(Long, String)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(gzipMember(renderRecord("warcinfo", s"graft-redirinfo-$shardIdx",
      None, ascii(WarcinfoPayload))))
    docs.foreach { case (id, _) =>
      val uri = Urls.urlOf(id)
      val payload =
        if (isRedirect(id)) {
          val reason = redirectStatus(id) match {
            case 301 => "Moved Permanently"
            case 302 => "Found"
            case 308 => "Permanent Redirect"
            case _ => "Temporary Redirect"
          }
          ascii(s"HTTP/1.1 ${redirectStatus(id)} $reason\r\n" +
            s"Location: ${Urls.urlOf(redirectTarget(id))}\r\n" +
            "Content-Type: text/html\r\n\r\n")
        } else ascii("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\nok")
      bos.write(gzipMember(renderRecord("response", s"graft-redirect-$id",
        Some(uri), payload)))
    }
    bos.toByteArray
  }

  /** Redirect EDGES off a decoded archive: 3xx responses → (canonical
    * source, canonical Location target, status) — the frontier-update
    * product a crawl consumes (follow targets get enqueued, permanent
    * redirects rewrite the canonical mapping). Map-only off the scan.
    */
  def redirectEdges(recs: DataFrame): DataFrame =
    recs.filter(col("warc_type") === "response")
      .withColumn("h", graft.functions.HttpResponse.http_response(col("payload")))
      .filter(col("h.status").isin(301, 302, 303, 307, 308) &&
        col("h.location").isNotNull)
      .select(Urls.canonical(col("target_uri")).as("src_canonical"),
        Urls.canonical(col("h.location")).as("dst_canonical"),
        col("h.status").as("status"))

  /** DuckDB mirror of [[redirectEdges]] over the redirect fixture:
    * both canonicals predicted from doc_id (source = the doc's own
    * url, target = the outlink-id url).
    */
  /** The fixture status axis as SQL (mirrors [[redirectStatus]]). */
  private def redirectStatusSql(d: String): String =
    s"""CAST(CASE ($d) % 12 WHEN 1 THEN 301 WHEN 4 THEN 302
             WHEN 7 THEN 308 ELSE 307 END AS INT)"""

  def redirectEdgesOracleSql: String =
    s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte},
        b2 AS (SELECT doc_id, ${Urls.urlSqlInline(s"(${redirectTargetSql("doc_id")})")} AS url
               FROM documents),
        ${Urls.parseSqlCteFrom("b2", "p2")}
        SELECT s.c AS src_canonical, d.c AS dst_canonical,
               ${redirectStatusSql("s.doc_id")} AS status
        FROM (SELECT doc_id, ${Urls.canonicalSql} AS c FROM parsed) s
        JOIN (SELECT doc_id, ${Urls.canonicalSql} AS c FROM p2) d USING (doc_id)
        WHERE s.doc_id % 3 = 1"""

  private def redirectTargetSql(d: String): String = s"7 * ($d) + 13"

  /** Redirect-AWARE frontier: PERMANENT redirects (301 and 308)
    * rewrite a capture's canonical identity to its Location target
    * BEFORE frontier dedup — the reason crawls track them at all (the
    * old URL and the new one are the same page; a frontier that
    * deduped on the source canonical would fetch both forever).
    * Temporary redirects (302/303/307) keep the source identity.
    * `idOf` supplies the keeper id for a capture (the record-id
    * scheme is archive-specific — the fixture renders doc-id-bearing
    * ids; a real crawl would rank by capture timestamp or a uuid
    * hash). One decode pass + the same single hash aggregate as url
    * dedup.
    */
  def frontierWithRedirects(recs: DataFrame, idOf: Column): DataFrame = {
    val h = graft.functions.HttpResponse.http_response(col("payload"))
    recs.filter(col("warc_type") === "response")
      .withColumn("h", h)
      .select(
        when(col("h.status").isin(301, 308) && col("h.location").isNotNull,
          Urls.canonical(col("h.location")))
          .otherwise(Urls.canonical(col("target_uri"))).as("canonical"),
        idOf.as("doc_id"))
      .groupBy(col("canonical"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))
  }

  /** DuckDB mirror of [[frontierWithRedirects]] over the redirect
    * fixture: effective canonical = the Location target's for
    * PERMANENT-redirect docs (301 at id ≡ 1, 308 at id ≡ 7, mod 12),
    * the source's otherwise.
    */
  def frontierWithRedirectsOracleSql: String =
    s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte},
        b2 AS (SELECT doc_id, ${Urls.urlSqlInline(s"(${redirectTargetSql("doc_id")})")} AS url
               FROM documents),
        ${Urls.parseSqlCteFrom("b2", "p2")},
        eff AS (SELECT s.doc_id,
                  CASE WHEN s.doc_id % 12 IN (1, 7) THEN d.c ELSE s.c END AS canonical
                FROM (SELECT doc_id, ${Urls.canonicalSql} AS c FROM parsed) s
                JOIN (SELECT doc_id, ${Urls.canonicalSql} AS c FROM p2) d
                  USING (doc_id))
        SELECT canonical, MIN(doc_id) AS keep_id, COUNT(*) AS n
        FROM eff GROUP BY canonical"""

  // ---------------------------------------------------------------------
  // Damaged-archive fixture (the recovery-mode input): same shards,
  // but every DamageEvery-th doc's response record has its magic
  // corrupted — one flipped byte, exactly what a truncated fetch or
  // bit-rot leaves — so the lenient parser must skip PRECISELY that
  // record and keep everything around it.
  // ---------------------------------------------------------------------

  val DamageEvery = 10
  val DamagePhase = 7

  def isDamaged(id: Long): Boolean = id % DamageEvery == DamagePhase

  /** Byte length of a doc's rendered response RECORD (header + payload
    * + terminator) — the skip the lenient parser must account for a
    * damaged record. Mirrored in [[recoveryAuditOracleSql]]; the
    * renderer self-checks against it.
    */
  def responseRecordLen(id: Long, urlLen: Long, payloadLen: Long): Long =
    186 + digits(id) + digits(payloadLen) + urlLen + payloadLen

  private def digits(n: Long): Long = n.toString.length.toLong

  /** Render one shard with damaged responses for [[isDamaged]] docs. */
  def renderDamagedShard(shardIdx: Int, docs: Seq[(Long, String)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(gzipMember(renderRecord("warcinfo", s"graft-warcinfo-$shardIdx",
      None, ascii(WarcinfoPayload))))
    docs.foreach { case (id, rawText) =>
      val uri = Urls.urlOf(id)
      if (id % RequestEvery == 0)
        bos.write(gzipMember(renderRecord("request", s"graft-request-$id",
          Some(uri), ascii(requestPayload(id)))))
      val html = Html.wrapLine(id, rawText)
      val rec = renderRecord("response", s"graft-response-$id",
        Some(uri), responsePayload(id, html))
      if (isDamaged(id)) {
        val htmlBytes = html.getBytes(
          if (id % 4 == 2) java.nio.charset.StandardCharsets.ISO_8859_1
          else java.nio.charset.StandardCharsets.UTF_8).length.toLong
        val predicted = responseRecordLen(id, uri.length.toLong,
          responsePayloadLen(id, htmlBytes))
        require(rec.length.toLong == predicted,
          s"record length drift for doc $id: rendered ${rec.length}, formula $predicted")
        rec(0) = 'X' // corrupt the magic: the parser must skip THIS record only
      }
      bos.write(gzipMember(rec))
    }
    bos.toByteArray
  }

  // ---------------------------------------------------------------------
  // Spark-side ingest chain
  // ---------------------------------------------------------------------

  /** Decoded records of a shard scan (`content` = shard bytes):
    * one row per WARC record.
    */
  def records(shards: DataFrame): DataFrame =
    flattenRecords(shards.select(explode(
      WarcRecords.warc_records(GzipDecode.gzip_decode(col("content")))).as("r")))

  /** The record-struct projection shared by the strict and lenient
    * chains — ONE definition so the two can never return different
    * shapes.
    */
  private def flattenRecords(exploded: DataFrame): DataFrame =
    exploded.select(col("r.warc_type").as("warc_type"),
      col("r.record_id").as("record_id"),
      col("r.target_uri").as("target_uri"),
      col("r.content_length").as("content_length"),
      col("r.payload").as("payload"),
      col("r.payload_digest").as("payload_digest"),
      col("r.refers_to").as("refers_to"),
      col("r.truncated").as("truncated"))

  /** HTTP envelope decode + status gate over a decoded response
    * payload column (crawlers keep 200s only): the ONE definition of
    * the response→body step, shared by every ingest path. The full
    * wire envelope — HTTP/1.0 and 1.1 status lines, case-insensitive
    * headers, `Transfer-Encoding: chunked` framing, `Content-Encoding:
    * gzip`/`deflate` bodies, declared-charset text decoding — is
    * handled by [[graft.functions.HttpCodec]], one codegen'd per-row
    * expression, so the front door stays a map-only zero-shuffle pass.
    */
  private def httpBodies(recs: DataFrame): DataFrame =
    recs.filter(col("warc_type") === "response")
      .withColumn("http", graft.functions.HttpResponse.http_response(col("payload")))
      .filter(col("http.status") === 200)
      .withColumn("html", col("http.text"))

  /** Decoded records → raw pages (doc_id recovered from the page's own
    * metadata). Pure per-row work.
    */
  def responsePages(recs: DataFrame): DataFrame =
    httpBodies(recs).select(
      regexp_extract(col("html"), "data-doc=\"([0-9]+)\"", 1)
        .cast("long").as("doc_id"),
      col("html"))

  /** Decoded records → host-level link edges: (source domain from the
    * record's target URI, destination domain from each absolute
    * outlink the page serves). One map pass; the q_link_graph /
    * q_domain_rank front half.
    */
  def linkDomainEdges(recs: DataFrame): DataFrame =
    Urls.resolveDomain(
      Urls.resolveDomain(
        httpBodies(recs)
          .select(lower(Urls.hostOf(col("target_uri"))).as("__src_host"),
            explode(Html.outlinks(col("html"))).as("href")),
        col("__src_host"), "src_domain"),
      lower(Urls.hostOf(col("href"))), "dst_domain")
      .select(col("src_domain"), col("dst_domain"))

  /** Full front-door extraction: shard bytes → (doc_id, extracted,
    * n_kept, n_dropped) — the q_html_extract output shape, so the
    * oracle is [[Html.extractOracleSql]] verbatim.
    */
  def extract(shards: DataFrame): DataFrame =
    Html.extract(responsePages(records(shards)), "doc_id", "html")

  /** Decoded records WITH their shard file name and in-shard position
    * (the CDX-index axis: position is what lets a reader seek a record
    * without scanning the shard). Same map-only decode chain as
    * [[records]], via posexplode.
    */
  def recordsIndexed(shards: DataFrame): DataFrame =
    shards.select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("shard"),
        posexplode(
          graft.functions.WarcRecords.warc_records(
            GzipDecode.gzip_decode(col("content")))).as(Seq("pos", "r")))
      .select(col("shard"), col("pos").cast("long").as("pos"),
        col("r.warc_type").as("warc_type"),
        col("r.record_id").as("record_id"),
        col("r.target_uri").as("target_uri"))

  /** CDX-style crawl index: one row per response record — canonical
    * target URL → (shard, in-shard record position, record id). The
    * index a crawl serves random access from; building it is a pure
    * map pass, and at 100 TB it would land sorted/bucketed by
    * canonical via the [[Layout]] tier.
    */
  def cdxIndex(shards: DataFrame): DataFrame =
    recordsIndexed(shards)
      .filter(col("warc_type") === "response")
      .select(Urls.canonical(col("target_uri")).as("canonical"),
        col("shard"), col("pos"), col("record_id"))

  /** WET front door: `conversion` records → (record_id, text). Same
    * map-only shape as [[extract]], minus the HTTP/markup layers (WET
    * payloads are already extracted text).
    */
  def extractWet(shards: DataFrame): DataFrame =
    records(shards)
      .filter(col("warc_type") === "conversion")
      .select(col("record_id"), decode(col("payload"), "UTF-8").as("text"))

  /** WAT front door: `metadata` records → typed fields. The JSON
    * envelope is parsed with an explicit schema (from_json — no
    * inference pass over 100 TB), still one map-only chain.
    */
  def extractWat(shards: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("envelope", StructType(Seq(
        StructField("uri", StringType),
        StructField("content_length", LongType)))),
      StructField("meta", StructType(Seq(
        StructField("title", StringType))))))
    records(shards)
      .filter(col("warc_type") === "metadata")
      .select(col("record_id"),
        from_json(decode(col("payload"), "UTF-8"), schema).as("j"))
      .select(col("record_id"),
        col("j.envelope.uri").as("url"),
        col("j.envelope.content_length").as("content_length"),
        col("j.meta.title").as("title"))
  }

  /** Payload-integrity audit: per record type, how many records carry
    * a digest header and how many VERIFY (sha1 of the received payload
    * equals the header — the end-to-end check that the gzip + framing
    * decode delivered every byte intact). sha1 is a codegen'd built-in,
    * so verification is a per-row map over the scan.
    */
  def digestAudit(recs: DataFrame): DataFrame =
    recs.groupBy(col("warc_type"))
      .agg(count(lit(1)).as("n_records"),
        sum(when(col("payload_digest").isNotNull, 1L).otherwise(0L))
          .as("n_with_digest"),
        sum(when(col("payload_digest") ===
            concat(lit("sha1:"), sha1(col("payload"))), 1L).otherwise(0L))
          .as("n_verified"))

  /** Decoded records of a shard scan in RECOVERY mode: damaged records
    * are skipped-and-counted per shard instead of nulling it (the
    * [[graft.functions.WarcRecordsLenient]] posture); survivors flow
    * with the same schema as [[records]], so the whole ingest chain
    * composes on top unchanged.
    */
  def recordsLenient(shards: DataFrame): DataFrame =
    flattenRecords(shards.select(explode(
      graft.functions.WarcRecordsLenient.warc_records_lenient(
        GzipDecode.gzip_decode(col("content"))).getField("records")).as("r")))

  /** Recovery-mode front door: damaged archive → surviving pages →
    * extraction — the proof the lenient parse COMPOSES into the
    * pipeline (a bad capture costs its own page, everything around it
    * still extracts).
    */
  def extractLenient(shards: DataFrame): DataFrame =
    Html.extract(responsePages(recordsLenient(shards)), "doc_id", "html")

  /** Recovery audit over a (possibly damaged) shard scan: per shard,
    * recovered record count, malformed-and-skipped count, and the
    * exact bytes skipped — the observability ADVICE asked for: a bad
    * capture on a real shard costs one record, COUNTED, never the
    * shard silently. Map-only like every other front-door pass.
    */
  def recoveryAudit(shards: DataFrame): DataFrame =
    shards.select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("shard"),
        graft.functions.WarcRecordsLenient.warc_records_lenient(
          GzipDecode.gzip_decode(col("content"))).as("r"))
      .select(col("shard"),
        size(col("r.records")).cast("long").as("n_records"),
        col("r.n_malformed").as("n_malformed"),
        col("r.bytes_skipped").as("bytes_skipped"))

  /** DuckDB mirror of [[recoveryAudit]] over the DAMAGED fixture:
    * per shard, survivors = warcinfo + requests + undamaged responses;
    * every damaged record's byte length predicted in closed form
    * ([[responseRecordLen]]: 186 + digits(id) + digits(payload) +
    * |url| + payload).
    */
  def recoveryAuditOracleSql: String = {
    val p = responsePayloadLenSql("d.doc_id", "octet_length(encode(r.html))")
    s"""WITH ${Urls.urlBaseSqlCtes},
        raw AS (SELECT doc_id, ${Html.wrapSqlExpr} AS html FROM documents),
        per AS (SELECT d.doc_id,
                  d.doc_id % $NumShards AS si,
                  CASE WHEN d.doc_id % $RequestEvery = 0 THEN 1 ELSE 0 END AS isreq,
                  CASE WHEN d.doc_id % $DamageEvery = $DamagePhase THEN 1 ELSE 0 END AS dmg,
                  186 + length(CAST(d.doc_id AS VARCHAR))
                      + length(CAST($p AS VARCHAR))
                      + length(b.url) + $p AS rec_len
                FROM documents d JOIN raw r ON r.doc_id = d.doc_id
                JOIN base b ON b.doc_id = d.doc_id)
        SELECT printf('shard-%02d.warc.gz', CAST(si AS INT)) AS shard,
          CAST(1 + SUM(isreq) + SUM(1 - dmg) AS BIGINT) AS n_records,
          CAST(SUM(dmg) AS BIGINT) AS n_malformed,
          CAST(COALESCE(SUM(CASE WHEN dmg = 1 THEN rec_len END), 0) AS BIGINT)
            AS bytes_skipped
        FROM per GROUP BY si"""
  }

  /** Ingest audit: per record type, record count and total payload
    * bytes — the per-shard-batch accounting a crawl pipeline reports
    * before extraction (and the proof the framing parser sees EVERY
    * record, not just the responses the extraction keeps).
    */
  def recordAudit(shards: DataFrame): DataFrame =
    records(shards)
      .groupBy(col("warc_type"))
      .agg(count(lit(1)).as("n_records"),
        sum(col("content_length")).as("total_bytes"))

  /** DuckDB mirror of [[recordAudit]] over the staged fixture: every
    * payload length is PREDICTED from the documents table + the
    * rendering constants (header bytes + utf-8 html bytes; request
    * base + id digits; fixed warcinfo), so a parser that mis-frames
    * any record breaks the sum.
    */
  def auditOracleSql: String =
    s"""WITH raw AS (SELECT doc_id, ${Html.wrapSqlExpr} AS html FROM documents),
        resp AS (SELECT count(*) AS n,
                   COALESCE(SUM(${responsePayloadLenSql("doc_id", "octet_length(encode(html))")}), 0) AS b
                 FROM raw),
        req AS (SELECT count(*) AS n,
                  COALESCE(SUM($RequestBaseBytes + length(CAST(doc_id AS VARCHAR))), 0) AS b
                FROM documents WHERE doc_id % $RequestEvery = 0)
        SELECT warc_type, n_records, total_bytes FROM (
          SELECT 'response' AS warc_type, n::BIGINT AS n_records,
                 b::BIGINT AS total_bytes FROM resp
          UNION ALL
          SELECT 'request', n::BIGINT, b::BIGINT FROM req WHERE n > 0
          UNION ALL
          SELECT 'warcinfo', $NumShards::BIGINT,
                 (${NumShards * WarcinfoPayload.length})::BIGINT
        )"""
}
