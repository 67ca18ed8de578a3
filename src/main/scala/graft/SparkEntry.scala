package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract (SURVEY.md §7): one harness query per implemented
  * operator of SURVEY.md §2, each with an equivalent DuckDB oracle over
  * the same parquet tables. The queries live by family in
  * `graft.queries`, each beside its oracle as one [[QueryDef]].
  *
  * Conventions shared by the queries and their oracles:
  *  - the events stream: seq = event_id (dense, unique); `ival` = the
  *    event value in integer cents, CAST(FLOOR(value*100+0.5) AS BIGINT) —
  *    integer arithmetic so running sums/folds are exact and
  *    order-independent across engines (doubles are only ever COPIED,
  *    never re-aggregated, to keep hashes bit-stable);
  *  - every aggregate/computed column is aliased identically in the Spark
  *    plan and the SQL text (the driver hash-compares by column name).
  */
object SparkEntry {

  /** Every harness query, family by family. Built on each call: the
    * ~0.75 MB of oracle text in it is needed only by the oracle dump,
    * so the driver heap never holds it.
    */
  def registry: Seq[QueryDef] = {
    val all = CoreAlgebra.queries ++ Warehouse.queries ++ Events.queries ++
      Crawl.queries ++ TextCorpus.queries ++ Embeddings.queries ++
      Media.queries ++ Streaming.queries
    val repeated = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(repeated.isEmpty,
      s"query names registered twice: ${repeated.toSeq.sorted.mkString(", ")}")
    all
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> materializeCtes(q.oracleSql)).toMap

  /** The registry entries named by `names`, in that order; empty means
    * every query. Unknown names throw, listing them, so a mistyped name
    * can never pass for a shorter run.
    */
  def select(names: Seq[String]): Seq[QueryDef] = {
    val unknown = names.filterNot(queries.contains).distinct
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val all = registry
    if (names.isEmpty) all
    else {
      val byName = all.map(q => q.name -> q).toMap
      names.distinct.map(byName)
    }
  }

  /** Flagship: the composed corpus pipeline (quality filter |> exact
    * dedup |> sequence packing) — the reference's `.|` chain as operator
    * composition; oracle-checked as q_pipeline.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_pipeline")(spark, "/root/testdata/sf0.001")

  /** Rewrite every plain CTE definition `name AS (` to
    * `name AS MATERIALIZED (` — DuckDB's optimization fence. Without it
    * DuckDB INLINES each CTE at every reference site, and chained
    * replays where round r reads round r-1 twice (the BPE merge chain:
    * p_r and v_r both read v_{r-1}) re-evaluate the whole prefix
    * 2^rounds times — measured 182 s/query for the corpus-build
    * flagships at sf0.01 (the r11 driver-gate timeout) vs 0.8 s
    * materialized; the full 265-oracle sweep drops ~13.5 min → ~85 s.
    * Semantics are untouched (MATERIALIZED is a pure planner hint).
    *
    * Skips: in WITH RECURSIVE queries only, a CTE whose body
    * references its own name (the recursive member — the hint is
    * illegal there; DuckDB happily materializes the NON-recursive
    * members of a recursive list, which is what rescues the cluster
    * oracles: 17.5 s → 2.2 s measured); and `WINDOW w AS (...)`
    * named-window clauses (not CTEs). The self-reference test is
    * GATED on WITH RECURSIVE because it false-positives on nested
    * same-name shadowing (q_sem_index's subquery-scoped `WITH e0`
    * inside the outer e0's body) — and a half-materialized shadow
    * pair trips DuckDB's duplicate-alias binder check, while the
    * fully-materialized pair binds fine. Idempotent:
    * `AS MATERIALIZED (` no longer matches the identifier-AS-paren
    * shape.
    */
  private[graft] def materializeCtes(sql: String): String = {
    val recursive = java.util.regex.Pattern
      .compile("WITH\\s+RECURSIVE", java.util.regex.Pattern.CASE_INSENSITIVE)
      .matcher(sql).find()
    val m = java.util.regex.Pattern
      .compile("\\b([A-Za-z_][A-Za-z0-9_]*)(\\s+AS\\s*)\\(").matcher(sql)
    val sb = new StringBuffer
    while (m.find()) {
      val pre = sql.substring(math.max(0, m.start() - 20), m.start())
      val rep =
        if (pre.matches("(?is).*\\bWINDOW\\s+")) m.group(0)
        else {
          // body = balanced-paren span from the match's '('
          var i = m.end()
          var depth = 1
          while (depth > 0 && i < sql.length) {
            val c = sql.charAt(i)
            if (c == '(') depth += 1 else if (c == ')') depth -= 1
            i += 1
          }
          val body = sql.substring(m.end(), math.max(m.end(), i - 1))
          val selfRef = recursive && java.util.regex.Pattern
            .compile("\\b" + java.util.regex.Pattern.quote(m.group(1)) + "\\b")
            .matcher(body).find()
          if (selfRef) m.group(0)
          else m.group(1) + m.group(2) + "MATERIALIZED ("
        }
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(rep))
    }
    m.appendTail(sb)
    sb.toString
  }
}
