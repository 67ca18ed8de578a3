package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._

/** Helpers and oracle texts used by more than one query family. */
object Shared {

  private[queries] def events(spark: SparkSession, dir: String): DataFrame =
    ColOps.withSeq(ColOps.table(spark, dir, "events"), col("event_id"))

  private[graft] def ivalCol: Column = floor(col("value") * 100 + 0.5).cast("long")

  private[queries] val IvalSql = "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"

  /** Shared by q_scan (batch) and q_scan_stream (Structured Streaming):
    * one oracle text, two engine paths — they must agree bit-for-bit.
    */
  private[queries] val ScanOracleSql =
    s"""SELECT event_id AS seq,
        CAST(SUM($IvalSql) OVER (ORDER BY event_id) AS BIGINT) AS run_sum FROM events"""

  /** Shared by q_map_accum (batch) and q_delta_stream (streaming). */
  private[queries] val MapAccumOracleSql =
    s"""SELECT event_id AS seq,
        $IvalSql - COALESCE(lag($IvalSql) OVER (ORDER BY event_id), 0) AS delta
        FROM events"""

  /** Shared by q_event_window (batch) and q_event_window_stream
    * (Complete-mode Structured Streaming — the final snapshot equals the
    * batch aggregation).
    */
  private[queries] val EventWindowOracleSql =
    s"""SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS w_start_s,
        CAST(SUM($IvalSql) AS BIGINT) AS total, COUNT(*) AS cnt
        FROM events GROUP BY 1"""

  /** Shared by q_event_sliding (batch) and q_event_sliding_stream
    * (Complete-mode Structured Streaming).
    */
  private[queries] val EventSlidingOracleSql =
    s"""SELECT (epoch_ns(ts) // 3600000000000 - u.j) * 3600 AS w_start_s,
        CAST(SUM($IvalSql) AS BIGINT) AS total, COUNT(*) AS cnt
        FROM events, (SELECT UNNEST([0, 1]) AS j) u
        GROUP BY 1"""

  /** Shared by q_event_session (batch, no bound) and
    * q_event_session_stream (append-mode Structured Streaming,
    * sentinel-closed sessions, bounded to [[Streaming.SessionStreamN]]) —
    * gaps-and-islands mirror of session_window (new session at gap ≥ 2h,
    * session end = last event + gap, half-open).
    */
  private[queries] def eventSessionOracleSql(where: String): String =
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS t, $IvalSql AS iv FROM events $where),
            m AS (SELECT user_id, t, iv,
                    CASE WHEN lag(t) OVER w IS NULL
                              OR t - lag(t) OVER w >= 7200000000000
                         THEN 1 ELSE 0 END AS new_s
                  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
            s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
                          ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        SELECT user_id, min(t) // 1000 AS s_start_us,
               max(t) // 1000 + 7200000000 AS s_end_us,
               CAST(SUM(iv) AS BIGINT) AS total, COUNT(*) AS cnt
        FROM s GROUP BY user_id, sid"""

  /** Shared by q_zip_with (batch positional join) and q_zip_stream
    * (stream-stream join on seq with watermark, bounded to ZipStreamN).
    */
  private[queries] val ZipWithOracleSql =
    s"""SELECT a.rn AS seq, a.iv + b.ov AS value
        FROM (SELECT row_number() OVER (ORDER BY event_id) - 1 AS rn, $IvalSql AS iv
              FROM events) a
        JOIN (SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS rn,
                     CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS ov
              FROM orders) b
        USING (rn)"""

  /** Events with the ns timestamp truncated to a µs `ts2` plus `ival` —
    * the shared prep of every event-time window query (the ns→µs
    * truncation is load-bearing for the DuckDB-oracle contract: DuckDB
    * reads the TIMESTAMP_NS parquet micro-truncated).
    */
  private[queries] def eventsWithTs(s: SparkSession, dir: String): DataFrame =
    ColOps.table(s, dir, "events")
      .withColumn("ts2", timestamp_micros(expr("ts div 1000")))
      .withColumn("ival", ivalCol)

  /** The fitted quality model, once per JVM per corpus (the
    * persisted-index discipline: five quality queries CONSUME the
    * model; one training produces it — a rerun in a fresh JVM
    * re-trains, so a regenerated corpus can never serve a stale
    * model). `sanitized` trains on the one-line-per-doc staged text
    * (the streaming-serve convention) — but when ONE CHEAP SCAN shows
    * the corpus is newline-free, the sanitize projection is the
    * identity and the raw model IS the sanitized model, so the second
    * ~5 s fit is shared away (judge finding: q_quality_stream paid a
    * redundant training on a fixture with no newlines); a corpus that
    * does carry newlines still trains its own.
    */
  private val qualityModels =
    new java.util.concurrent.ConcurrentHashMap[String, QualityModel.Fitted]()
  private[queries] def qualityModelFor(s: SparkSession, dir: String,
      sanitized: Boolean = false): QualityModel.Fitted = {
    val key = s"$dir|$sanitized"
    val cached = qualityModels.get(key)
    if (cached != null) return cached
    val base = ColOps.table(s, dir, "documents")
    val fitted =
      if (sanitized) {
        val hasNewline =
          base.filter(col("text").contains("\n")).limit(1).count() > 0
        if (!hasNewline) qualityModelFor(s, dir)
        else QualityModel.fit(base.select(col("doc_id"),
          call_function("replace", col("text"), lit("\n"), lit(" ")).as("text")),
          "doc_id", "text")
      } else QualityModel.fit(base, "doc_id", "text")
    // putIfAbsent (not computeIfAbsent): the sanitized branch may
    // recurse into the raw key, and a recursive computeIfAbsent on the
    // same map is illegal; a benign race re-fits deterministically
    qualityModels.putIfAbsent(key, fitted)
    qualityModels.get(key)
  }

  private[queries] def packCorpus(docs: DataFrame): DataFrame =
    Packing.packTokenIds(
      TextOps.tokenizeIdArrays(docs, "doc_id", "text",
        TextOps.bpeRun(docs, "text", 6)._2), "doc_id", 128L)

  private[queries] def allStopsSql: String =
    TextOps.StopWords.values.flatten.toSeq.distinct.map(w => s"'$w'").mkString(", ")

  /** Shared by q_cdx_index and its streaming-ingest twin: every
    * record's (shard, position) predicted from doc_id alone.
    */
  private[queries] def cdxIndexOracleSql: String = cdxOracleSqlWith(withRevisits = false)

  /** The CDX position oracle, parameterized on whether the archive
    * interleaves `revisit` members (which come AFTER their doc's
    * response, so they shift only LATER docs' positions).
    */
  private[queries] def cdxOracleSqlWith(withRevisits: Boolean): String = {
    val isrev =
      if (withRevisits)
        s" + CASE WHEN doc_id % ${Warc.RevisitEvery} = ${Warc.RevisitPhase} THEN 1 ELSE 0 END"
      else ""
    s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte},
        ord AS (SELECT doc_id, doc_id % ${Warc.NumShards} AS si,
                  (1 + CASE WHEN doc_id % ${Warc.RequestEvery} = 0 THEN 1 ELSE 0 END$isrev) AS nrec,
                  CASE WHEN doc_id % ${Warc.RequestEvery} = 0 THEN 1 ELSE 0 END AS isreq
                FROM documents),
        pos AS (SELECT doc_id, si,
                  CAST(1 + COALESCE(SUM(nrec) OVER (PARTITION BY si ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + isreq
                    AS BIGINT) AS pos
                FROM ord)
        SELECT ${Urls.canonicalSql} AS canonical,
          printf('shard-%02d.warc.gz', CAST(p.si AS INT)) AS shard,
          p.pos AS pos,
          '<urn:uuid:graft-response-' || CAST(p.doc_id AS VARCHAR) || '>' AS record_id
        FROM pos p JOIN parsed USING (doc_id)"""
  }

  /** Shared by q_throttle (batch rank ≤ k) and q_throttle_stream
    * (keyed admission in-stream): first 3 events per (user, day) by
    * (t, id).
    */
  private[queries] val ThrottleOracleSql =
    """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS t_us,
                      (epoch_ns(ts) // 1000) // 86400000000 AS bucket
                    FROM events)
         SELECT event_id, user_id, bucket, CAST(rk AS BIGINT) AS rk FROM (
           SELECT event_id, user_id, bucket,
                  row_number() OVER (PARTITION BY user_id, bucket
                    ORDER BY t_us, event_id) AS rk
           FROM e) WHERE rk <= 3"""

  /** Shared by q_contamination (broadcast semi-join) and
    * q_contamination_stream (stateless per-doc flag): docs sharing any
    * word-3-gram shingle with the doc_id % 50 == 0 benchmark subset.
    */
  private[queries] def contaminationOracleSql: String =
    s"""WITH s AS (SELECT doc_id, UNNEST(${Dedup.shinglesSql}) AS h FROM documents)
          SELECT DISTINCT d.doc_id FROM s d
          JOIN (SELECT DISTINCT h FROM s WHERE doc_id % 50 = 0) b USING (h)
          WHERE d.doc_id % 50 <> 0"""

  /** Shared by the corpus-build flagships (page file, raw archive,
    * revisit-bearing archive) and their streaming twin: the front-door
    * extraction + quality + dedup CTEs prefix the shared encode/pack
    * chain over the canonical kept set. The archive layers and the
    * incremental ingest must all be exactly transparent to it.
    */
  private[queries] def corpusBuildOracleSql: String =
    TextOps.packTokenIdsSql("canon", "doc_id", "text", 6, 128L,
      prefixCtes = s"""${Html.extractedDocsSqlCte},
        qf AS (${TextOps.qualityFilterSql(allStopsSql, "extracted")}),
        kept AS (SELECT e.doc_id, e.text FROM extracted e
                 JOIN qf USING (doc_id) WHERE qf.keep),
        canon AS (SELECT k.doc_id, k.text FROM kept k
                  JOIN (SELECT MIN(doc_id) AS doc_id FROM kept
                        GROUP BY md5(text)) c USING (doc_id))""")
}
