package graft
package queries

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._
import graft.Fixtures._
import Shared._

/** Core algebra queries: conduino's sources, pipes, sinks, zip/alt/fuse
  * and feedback over the events stream (SURVEY.md §2.1–§2.9), each with
  * its DuckDB oracle.
  */
object CoreAlgebra {

  /** events as a typed stream of cents (for the typed sink operators). */
  private def centsStream(spark: SparkSession, dir: String): SStream[Long] = {
    implicit val enc: Encoder[Elem[Long]] = Elem.enc[Long]
    SStream(events(spark, dir).select(col("seq"), ivalCol.as("value")).as[Elem[Long]])
  }

  private def oneRow(spark: SparkSession, names: Seq[String], values: Seq[Any]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(names.zip(values).map {
      case (n, _: Long)   => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.LongType)
      case (n, _: Double) => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.DoubleType)
      case (n, _: String) => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)
      case (n, _: Seq[_]) => org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))
      case (n, _) => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)
    })
    spark.createDataFrame(
      Seq(org.apache.spark.sql.Row.fromSeq(values)).asJava, schema)
  }

  def queries: Seq[QueryDef] = Seq(
    // §2.1 sourceList — table scan with key-derived ordinals (zero shuffle)
    QueryDef("q_source_list", (s, dir) =>
      events(s, dir).select(col("seq"), col("value")),
      "SELECT event_id AS seq, value FROM events"),

    // §2.3 map — columnar projection
    QueryDef("q_map", (s, dir) =>
      ColOps.mapC(events(s, dir))(
        (col("value") * 2).as("value_x2"), upper(col("event_type")).as("etype")),
      "SELECT event_id AS seq, value * 2 AS value_x2, upper(event_type) AS etype FROM events"),

    // §2.3 filter
    QueryDef("q_filter", (s, dir) =>
      events(s, dir).filter(col("value") > 100 && col("event_type") === "click")
        .select(col("seq"), col("value")),
      "SELECT event_id AS seq, value FROM events WHERE value > 100 AND event_type = 'click'"),

    // §2.3 concatMap — ordered fan-out with packed sub-ordinals
    QueryDef("q_concat_map", (s, dir) =>
      ColOps.explodeOrdered(
        events(s, dir).select(col("seq"), ivalCol.as("ival")),
        array(col("ival"), col("ival") * 2), "v"),
      s"""SELECT event_id * 1048576 + u.i AS seq,
          CASE WHEN u.i = 0 THEN $IvalSql ELSE $IvalSql * 2 END AS v
          FROM events, (SELECT UNNEST([0,1]) AS i) u"""),

    // §2.3 concat — flatten a stream of word lists (documents)
    QueryDef("q_concat", (s, dir) =>
      ColOps.explodeOrdered(
        ColOps.withSeq(ColOps.table(s, dir, "documents"), col("doc_id")),
        split(col("text"), " "), "word"),
      """SELECT doc_id * 1048576 + x.u.i AS seq, x.u.w AS word
         FROM (SELECT doc_id, UNNEST([{'i': j, 'w': string_split(text, ' ')[j+1]}
                 for j in range(0, len(string_split(text, ' ')))]) AS u
               FROM documents) x"""),

    // §2.4 scan — distributed running sum (prefix-combine, no global window)
    QueryDef("q_scan", (s, dir) =>
      RowExec.runningSumLong(
        events(s, dir).select(col("seq"), ivalCol.as("ival")),
        col("ival"), "run_sum").select(col("seq"), col("run_sum")),
      ScanOracleSql),

    // §2.4 mapAccum — stateful delta encoding (boundary exchange, lookback 1)
    QueryDef("q_map_accum", (s, dir) => {
      val src = events(s, dir).select(col("seq"), ivalCol.as("ival"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("delta", org.apache.spark.sql.types.LongType)))
      RowExec.mapWithCarry(src, 1, schema) { (carry, it) =>
        var prev = carry.lastOption.map(_.getLong(1)).getOrElse(0L)
        it.map { r =>
          val v = r.getLong(1); val d = v - prev; prev = v
          org.apache.spark.sql.Row(r.getLong(0), d)
        }
      }
    },
      MapAccumOracleSql),

    // §2.4 pairs — consecutive pairs via boundary exchange
    QueryDef("q_pairs", (s, dir) =>
      RowExec.pairsDf(events(s, dir).select(col("seq"), col("value")), Seq("value"))
        .select(col("seq"), col("prev_value"), col("value")),
      """SELECT event_id AS seq, lag(value) OVER (ORDER BY event_id) AS prev_value, value
         FROM events QUALIFY prev_value IS NOT NULL"""),

    // §2.4 consecutive — previous-≤3 sliding window (note the reference's
    // off-by-one: the window BEFORE each element). The window array is
    // emitted as a comma-joined string: the driver's hash comparator can't
    // sort array-typed cells, so the projection is scalar; the operator
    // itself stays array-valued.
    QueryDef("q_consecutive", (s, dir) =>
      RowExec.consecutiveDf(
        events(s, dir).select(col("seq"), ivalCol.as("ival")), "ival", 3)
        .select(col("seq"),
          array_join(col("window").cast("array<string>"), ",").as("window")),
      // COALESCE to '': DuckDB array_to_string([]) is NULL, Spark array_join
      // of an empty array is ''
      s"""SELECT event_id AS seq,
          COALESCE(array_to_string(list($IvalSql) OVER (ORDER BY event_id
            ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), ','), '') AS window
          FROM events"""),

    // §2.5 take — cut-filter (no TakeOrderedAndProject over payload)
    QueryDef("q_take", (s, dir) =>
      ColOps.takeN(events(s, dir).select(col("seq"), col("value")), 1000),
      "SELECT event_id AS seq, value FROM events ORDER BY event_id LIMIT 1000"),

    // §2.5 drop — suffix after the 9000th element
    QueryDef("q_drop", (s, dir) =>
      ColOps.dropN(events(s, dir).select(col("seq"), col("value")), 9000),
      """SELECT event_id AS seq, value FROM events WHERE event_id >
         (SELECT max(event_id) FROM (SELECT event_id FROM events ORDER BY event_id LIMIT 9000) t)"""),

    // §2.5 takeWhile — prefix before the first value ≥ 400
    QueryDef("q_take_while", (s, dir) =>
      ColOps.takeWhileC(events(s, dir).select(col("seq"), col("value")),
        col("value") < 400),
      """SELECT event_id AS seq, value FROM events WHERE event_id <
         (SELECT COALESCE(min(event_id), 9223372036854775807) FROM events WHERE NOT (value < 400))"""),

    // §2.5 dropWhile — the complementary suffix
    QueryDef("q_drop_while", (s, dir) =>
      ColOps.dropWhileC(events(s, dir).select(col("seq"), col("value")),
        col("value") < 400),
      """SELECT event_id AS seq, value FROM events WHERE event_id >
         (SELECT COALESCE(min(event_id), 9223372036854775807) FROM events WHERE NOT (value < 400))"""),

    // §2.5 head
    QueryDef("q_head", (s, dir) =>
      ColOps.headDf(events(s, dir).select(col("seq"), col("value"), col("event_type"))),
      "SELECT event_id AS seq, value, event_type FROM events ORDER BY event_id LIMIT 1"),

    // §2.5 last
    QueryDef("q_last", (s, dir) =>
      ColOps.lastDf(events(s, dir).select(col("seq"), col("value"), col("event_type"))),
      "SELECT event_id AS seq, value, event_type FROM events ORDER BY event_id DESC LIMIT 1"),

    // §2.6 foldl — typed FoldSink, distributed combine path
    QueryDef("q_foldl", (s, dir) => {
      val total = centsStream(s, dir).into(
        Sinks.foldlCombine(0L)((b: Long, a: Long) => b + a)(_ + _))
      oneRow(s, Seq("total"), Seq(total))
    },
      s"SELECT CAST(SUM($IvalSql) AS BIGINT) AS total FROM events"),

    // §2.6 foldMap — max monoid over a projection
    QueryDef("q_fold_map", (s, dir) => {
      val mx = centsStream(s, dir).into(
        Sinks.foldMap[Long, Long](identity, Long.MinValue)(math.max))
      oneRow(s, Seq("mx"), Seq(mx))
    },
      s"SELECT CAST(MAX($IvalSql) AS BIGINT) AS mx FROM events"),

    // §2.6 foldr — right fold over the stream, DISTRIBUTED via
    // foldrCombine (per-partition right folds over seq-ascending range
    // partitions, O(partitions) partials merged on the driver — the
    // combine for reverse-concat is the flipped concat)
    QueryDef("q_foldr", (s, dir) => {
      implicit val enc: Encoder[Elem[String]] = Elem.enc[String]
      val st = SStream(events(s, dir)
        .select(col("seq"), col("event_type").as("value")).as[Elem[String]])
      val first50 = st |> Pipes.take[String](50)
      val cat = first50.into(
        Sinks.foldrCombine("")((x: String, acc: String) => acc + x)((a, b) => b + a))
      oneRow(s, Seq("cat"), Seq(cat))
    },
      """SELECT string_agg(event_type, '' ORDER BY event_id DESC) AS cat
         FROM (SELECT event_type, event_id FROM events ORDER BY event_id LIMIT 50) t"""),

    // §2.6 sinkList — ordered collect, one array row
    QueryDef("q_sink_list", (s, dir) => {
      val xs = centsStream(s, dir).into(Sinks.sinkList)
      oneRow(s, Seq("xs"), Seq(xs))
    },
      s"SELECT list($IvalSql ORDER BY event_id) AS xs FROM events"),

    // §2.6 sinkNull — drain; observable result = element count
    QueryDef("q_sink_null", (s, dir) => {
      val st = centsStream(s, dir)
      st.into(Sinks.sinkNull)
      oneRow(s, Seq("cnt"), Seq(st.into(Sinks.count)))
    },
      "SELECT COUNT(*) AS cnt FROM events"),

    // §2.7 zipSource — positional join on dense ordinals, ends at shorter
    QueryDef("q_zip_source", (s, dir) => {
      val a = events(s, dir).select(col("seq"), col("value"))
      val b = ColOps.withSeq(ColOps.table(s, dir, "orders"), col("o_orderkey"))
        .select(col("seq"), col("o_totalprice"))
      // both keys are dense surrogate ids from 0 — skip the rank passes;
      // the density claim is verified in-plan (raise_error on sparse keys)
      ColOps.zipBySeq(a, b, "", assumeDense = true)
    },
      """SELECT a.rn AS seq, a.value, b.o_totalprice
         FROM (SELECT row_number() OVER (ORDER BY event_id) - 1 AS rn, value FROM events) a
         JOIN (SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS rn, o_totalprice FROM orders) b
         USING (rn)"""),

    // §2.7 ZipSource <|> — ordered concatenation with seq offset
    QueryDef("q_concat_sources", (s, dir) => {
      val a = events(s, dir).select(col("seq"), col("value"))
      val b = events(s, dir).filter(col("event_type") === "click")
        .select(col("seq"), col("value"))
      ColOps.concatStreams(a, b)
    },
      """SELECT event_id AS seq, value FROM events
         UNION ALL
         SELECT event_id + (SELECT max(event_id) + 1 FROM events), value
         FROM events WHERE event_type = 'click'"""),

    // §2.7 zipSink — two folds, one scan
    QueryDef("q_zip_sink", (s, dir) => {
      val (total, cnt) = centsStream(s, dir).into(Sinks.zip(
        Sinks.foldlCombine(0L)((b: Long, a: Long) => b + a)(_ + _),
        Sinks.foldlCombine(0L)((b: Long, _: Long) => b + 1)(_ + _)))
      oneRow(s, Seq("total", "cnt"), Seq(total, cnt))
    },
      s"SELECT CAST(SUM($IvalSql) AS BIGINT) AS total, COUNT(*) AS cnt FROM events"),

    // §2.7 altSink — first-to-finish race (takeList(1) terminates first)
    QueryDef("q_alt_sink", (s, dir) => {
      implicit val enc: Encoder[Elem[Double]] = Elem.enc[Double]
      val st = SStream(events(s, dir)
        .select(col("seq"), col("value")).as[Elem[Double]])
      val won = st.into(Sinks.alt(Sinks.takeList[Double](1), Sinks.takeList[Double](5)))
      oneRow(s, Seq("v"), Seq(won.head))
    },
      "SELECT value AS v FROM events ORDER BY event_id LIMIT 1"),

    // §2.7 fuseBoth — downstream result AND upstream terminal result
    QueryDef("q_fuse_both", (s, dir) => {
      val (down, up) = Compose.fuseBoth(
        Pipes.map[Long, Long](_ * 2),
        Sinks.count[Long],
        Sinks.foldlCombine(0L)((b: Long, a: Long) => b + a)(_ + _))(centsStream(s, dir))
      oneRow(s, Seq("total_x2", "cnt"), Seq(down, up))
    },
      s"SELECT CAST(SUM($IvalSql * 2) AS BIGINT) AS total_x2, COUNT(*) AS cnt FROM events"),

    // §2.7 feedbackPipe — driver-loop iteration, checked as the per-round
    // multiset of values (order-insensitive form; seq carries the round
    // in its high bits)
    QueryDef("q_feedback", (s, dir) => {
      implicit val enc: Encoder[Elem[Long]] = Elem.enc[Long]
      val start = SStream(events(s, dir).filter(col("seq") < 100)
        .select(col("seq"), ivalCol.as("value")).as[Elem[Long]])
      val p = Pipes.map[Long, Long](_ / 3) |> Pipes.filter[Long](_ > 0)
      val out = Compose.feedbackPipe(p, maxRounds = 64)(start)
      out.ds.toDF()
        .select(shiftrightunsigned(col("seq"), 40).as("round"), col("value").as("v"))
        .groupBy(col("round"), col("v")).agg(count(lit(1)).as("n"))
    },
      s"""WITH RECURSIVE fb(round, v) AS (
            SELECT 1::BIGINT AS round, $IvalSql // 3 AS v FROM events
            WHERE event_id < 100 AND $IvalSql // 3 > 0
            UNION ALL
            SELECT round + 1, v // 3 FROM fb WHERE v // 3 > 0
          )
          SELECT round, v, COUNT(*) AS n FROM fb GROUP BY round, v"""),

    // §2.6 fold — monoidal concat (min/max monoid product), one scan
    QueryDef("q_fold_minmax", (s, dir) => {
      val (mn, mx) = centsStream(s, dir).into(Sinks.zip(
        Sinks.fold(Long.MaxValue)(math.min),
        Sinks.fold(Long.MinValue)(math.max)))
      oneRow(s, Seq("mn", "mx"), Seq(mn, mx))
    },
      s"SELECT CAST(MIN($IvalSql) AS BIGINT) AS mn, CAST(MAX($IvalSql) AS BIGINT) AS mx FROM events"),

    // §2.8 unconsZipSource — pop the head, return the rest
    QueryDef("q_uncons", (s, dir) => {
      implicit val enc: Encoder[Elem[Double]] = Elem.enc[Double]
      val st = SStream(events(s, dir)
        .select(col("seq"), col("value")).as[Elem[Double]])
      val (h, rest) = Compose.uncons(st)
      // Seq[Any]: mixed Double+Long would otherwise numeric-widen to Double
      oneRow(s, Seq("first_v", "rest_cnt"),
        Seq[Any](h.getOrElse(0.0), rest.into(Sinks.count)))
    },
      """SELECT (SELECT value FROM events ORDER BY event_id LIMIT 1) AS first_v,
                (SELECT COUNT(*) - 1 FROM events) AS rest_cnt"""),

    // §2.1 iterate — closed-form distributed generation (iterate succ 0)
    QueryDef("q_iterate", (s, _) =>
      Sources.iterateClosedForm(s, 50, k => k),
      "SELECT CAST(t.i AS BIGINT) AS seq, CAST(t.i + 1 AS BIGINT) AS value FROM range(50) t(i)"),

    // §2.1 iterate, DISTRIBUTED by leapfrog (Sources.iterateJump): an LCG
    // x ↦ (a·x + c) mod m — no closed form handy, but the affine jump
    // f^k is O(log k), so each partition skips ahead and iterates
    // locally; no driver generation at any n. Oracle = the same
    // recurrence as a DuckDB recursive CTE.
    QueryDef("q_iterate_jump", (s, _) => {
      val (a, c, m) = (1103515245L, 12345L, 2147483648L)
      Sources.iterateJump[Long](s, x => (a * x + c) % m, 42L, 10000L,
        Sources.affineJump(a, c, m)).ds.toDF()
    },
      """WITH RECURSIVE t(seq, value) AS (
           SELECT CAST(-1 AS BIGINT), CAST(42 AS BIGINT)
           UNION ALL
           SELECT seq + 1, (1103515245 * value + 12345) % 2147483648 FROM t WHERE seq < 9999)
         SELECT seq, value FROM t WHERE seq >= 0"""),

    // §2.1 unfold, DISTRIBUTED (Sources.unfoldSegmented): Fibonacci mod
    // 1e9+7 — a genuinely 2-dimensional recurrence state, NO leapfrog
    // and no closed form used. Partition i replays the cheap state step
    // past its prefix, then materializes only its own segment; the
    // oracle is the same recurrence as a DuckDB recursive CTE.
    QueryDef("q_unfold_fib", (s, _) =>
      Sources.unfoldSegmented[Long, (Long, Long)](s,
        { case (a, b) => (a, (b, (a + b) % 1000000007L)) },
        (0L, 1L), 5000L).ds.toDF(),
      """WITH RECURSIVE t(seq, a, b) AS (
           SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)
           UNION ALL
           SELECT seq + 1, b, (a + b) % 1000000007 FROM t WHERE seq < 4999)
         SELECT seq, a AS value FROM t"""),

    // §2.1 replicate
    QueryDef("q_replicate", (s, _) => {
      implicit val enc: Encoder[Elem[String]] = Elem.enc[String]
      Sources.replicate(s, 200L, "x").ds.toDF()
    },
      "SELECT CAST(t.i AS BIGINT) AS seq, 'x' AS value FROM range(200) t(i)"),

    // §2.8 passthrough — outputs paired with their provenance input
    QueryDef("q_passthrough", (s, dir) => {
      val outs = Pipes.passthrough[Long, Long](Pipes.map[Long, Long](_ * 2))
        .apply(centsStream(s, dir))
      outs.ds.toDF().select(col("seq"),
        col("value._1").as("input_v"), col("value._2").as("output_v"))
    },
      s"""SELECT event_id AS seq, $IvalSql AS input_v, $IvalSql * 2 AS output_v FROM events"""),

    // §2.3 mapInput — contramap a projection before a pipe (the pipe
    // filters Longs; the stream feeds Doubles)
    QueryDef("q_map_input", (s, dir) => {
      implicit val enc: Encoder[Elem[Double]] = Elem.enc[Double]
      val st = SStream(events(s, dir)
        .select(col("seq"), col("value")).as[Elem[Double]])
      val p = Pipes.mapInput[Double, Long, Long](
        d => math.floor(d * 100 + 0.5).toLong)(Pipes.filter[Long](_ % 2 == 0))
      p(st).ds.toDF()
    },
      s"SELECT event_id AS seq, $IvalSql AS value FROM events WHERE $IvalSql % 2 = 0"),

    // §2.3 mapOutput — post-compose a projection after a pipe
    QueryDef("q_map_output", (s, dir) => {
      val p = Pipes.mapOutput[Long, Long, Long](
        Pipes.filter[Long](_ > 20000))(_ * 3)
      p(centsStream(s, dir)).ds.toDF()
    },
      s"SELECT event_id AS seq, $IvalSql * 3 AS value FROM events WHERE $IvalSql > 20000"),

    // §2.7 fuseUpstream — run the chain, keep the UPSTREAM result only
    QueryDef("q_fuse_upstream", (s, dir) => {
      val up = Compose.fuseUpstream(
        Pipes.map[Long, Long](_ * 2),
        Sinks.foldlCombine(0L)((b: Long, a: Long) => b + a)(_ + _),
        Sinks.count[Long])(centsStream(s, dir))
      oneRow(s, Seq("total"), Seq(up))
    },
      s"SELECT CAST(SUM($IvalSql) AS BIGINT) AS total FROM events"),

    // §2.7 fuseBothMaybe — upstream result Some only when fully drained:
    // take(100) cuts early (None), take(1e6) drains the stream (Some)
    QueryDef("q_fuse_both_maybe", (s, dir) => {
      val st = centsStream(s, dir)
      val sumSink = Sinks.foldlCombine(0L)((b: Long, a: Long) => b + a)(_ + _)
      val (d1, u1) = Compose.fuseBothMaybe(
        Pipes.take[Long](100), Sinks.count[Long], sumSink)(st)
      val (d2, u2) = Compose.fuseBothMaybe(
        Pipes.take[Long](1000000), Sinks.count[Long], sumSink)(st)
      oneRow(s, Seq("sum_100", "u1_cnt", "sum_all", "u2_cnt"),
        Seq(d1, u1.getOrElse(-1L), d2, u2.getOrElse(-1L)))
    },
      s"""SELECT
          (SELECT CAST(SUM(iv) AS BIGINT) FROM
            (SELECT $IvalSql AS iv FROM events ORDER BY event_id LIMIT 100) t) AS sum_100,
          CAST(-1 AS BIGINT) AS u1_cnt,
          (SELECT CAST(SUM($IvalSql) AS BIGINT) FROM events) AS sum_all,
          (SELECT COUNT(*) FROM events) AS u2_cnt"""),

    // §2.7 ZipSource applicative zipWith (liftA2) — positional combine of
    // two sources through an arbitrary function, ends at the shorter
    QueryDef("q_zip_with", (s, dir) => {
      implicit val encL: Encoder[Elem[Long]] = Elem.enc[Long]
      val ev = centsStream(s, dir)
      val ord = SStream(ColOps.withSeq(ColOps.table(s, dir, "orders"), col("o_orderkey"))
        .select(col("seq"), floor(col("o_totalprice") * 100 + 0.5).cast("long").as("value"))
        .as[Elem[Long]])
      Compose.zipSourcesWith(ev, ord)((a, b) => a + b).ds.toDF()
    },
      ZipWithOracleSql),

    // §2.2 sourceHandleLines — one element per text line of a staged file
    // (staged driver-side from the documents table, one doc per line in
    // doc_id order; the OPERATOR under test is the distributed text read
    // with the two-phase (file, offset) ordinal)
    QueryDef("q_text_lines", (s, dir) => {
      Sources.textLines(s, stagedTextLines(s, dir).toString).ds.toDF()
        .select(col("seq"), col("value").as("line"))
    },
      """SELECT row_number() OVER (ORDER BY doc_id) - 1 AS seq,
                replace(text, chr(10), ' ') AS line FROM documents"""),

    // §2.2 sourceHandle in fixed-size chunks: the staged corpus file read
    // as 4096-byte chunks (binaryFile source + columnar fan-out); each
    // chunk identified by md5 of its hex so the oracle (which reconstructs
    // the same bytes from the documents table) can compare byte-exactly
    QueryDef("q_binary_chunks", (s, dir) => {
      Sources.fileChunks(s, stagedTextLines(s, dir).toString, 4096).ds.toDF()
        .select(col("seq"), md5(lower(hex(col("value")))).as("chunk_md5"))
    },
      // hx reconstructs the staged corpus file's bytes (one doc per line,
      // newlines sanitized — the q_text_lines staging convention) as hex;
      // 4096-byte chunks = 8192 hex chars
      """WITH c AS (SELECT lower(hex(encode(
             string_agg(replace(text, chr(10), ' '), chr(10) ORDER BY doc_id)
             || CASE WHEN (SELECT replace(text, chr(10), ' ') FROM documents
                           ORDER BY doc_id DESC LIMIT 1) = ''
                     THEN chr(10) ELSE '' END))) AS hx
          FROM documents)
         SELECT CAST(x.u.j AS BIGINT) AS seq,
                md5(substr(x.hx, x.u.j * 8192 + 1, 8192)) AS chunk_md5
         FROM (SELECT hx, UNNEST([{'j': j} for j in range(0, (len(hx) + 8191) // 8192)]) AS u
               FROM c) x"""),

    // Lift/exceptP: per-element failures → dead-letter side output; the
    // result is the union (good rows + dead rows, tagged). Columnar form
    // (Lift.runExceptC): the parse is try_cast, the domain check a CASE —
    // no JVM closure, stays inside whole-stage codegen.
    QueryDef("q_dead_letter", (s, dir) => {
      val props = events(s, dir).select(col("seq"), col("props"))
      val k = expr("try_cast(regexp_replace(props, '[^0-9]', '') AS BIGINT)")
      val (good, dead) = Lift.runExceptC(props, k)(v =>
        when(v.isNull, lit("unparseable")).when(v % 7 === 0, lit("k_div_7")))
      val g = good.select(col("seq"), col("value").as("k"), lit("ok").as("status"))
      val d = dead.select(col("seq"), lit(null).cast("long").as("k"),
        col("error").as("status"))
      g.unionByName(d)
    },
      // TRY_CAST + three-way CASE, mirroring runExceptC's branches exactly:
      // NULL k (digit-free or >18-digit props) → 'unparseable', k % 7 = 0 →
      // 'k_div_7', else ok (dead rows carry NULL k)
      """SELECT event_id AS seq,
                CASE WHEN k IS NOT NULL AND k % 7 <> 0 THEN k ELSE NULL END AS k,
                CASE WHEN k IS NULL THEN 'unparseable'
                     WHEN k % 7 = 0 THEN 'k_div_7'
                     ELSE 'ok' END AS status
         FROM (SELECT event_id,
                      TRY_CAST(regexp_replace(props, '[^0-9]', '', 'g') AS BIGINT) AS k
               FROM events) t"""),

    // §2.9 writer effect with an EXACT log (Lift.runWriter): the cents
    // stream folds to its total while a second aggregate over the
    // shared cached pass logs the element count — (result, log) as the
    // reference's runWriterP pair
    QueryDef("q_lift_writer", (s, dir) => {
      val (total, nLogged) = Lift.runWriter[Long, Long](s, _ => 1L)(
        Sinks.foldlCombine(0L)((b: Long, a: Long) => b + a)(_ + _))(
        centsStream(s, dir))
      oneRow(s, Seq("total", "n_logged"), Seq(total, nLogged))
    },
      s"""SELECT CAST(SUM($IvalSql) AS BIGINT) AS total,
                 COUNT(*) AS n_logged FROM events"""),

    // §2.9 Reader+Writer+State combined (Lift.runRWS): broadcast
    // threshold env, threaded state = running count of over-threshold
    // events, exact row-count log; outputs carry the state stream, the
    // log and final state ride along as constant columns
    QueryDef("q_lift_rws", (s, dir) => {
      val (outs, nLogged, finalCnt) = Lift.runRWS[Long, Long, Long, Long](
        s, 5000L, _ => 1L, 0L) { (env, a, st) =>
        val st2 = st + (if (a >= env) 1L else 0L); (st2, st2)
      }(centsStream(s, dir))
      outs.ds.toDF().select(col("seq"), col("value").as("run_cnt"))
        .withColumn("n_logged", lit(nLogged))
        .withColumn("final_cnt", lit(finalCnt))
    },
      s"""SELECT event_id AS seq,
            CAST(SUM(CASE WHEN $IvalSql >= 5000 THEN 1 ELSE 0 END)
                 OVER (ORDER BY event_id) AS BIGINT) AS run_cnt,
            COUNT(*) OVER () AS n_logged,
            CAST(SUM(CASE WHEN $IvalSql >= 5000 THEN 1 ELSE 0 END)
                 OVER () AS BIGINT) AS final_cnt
          FROM events"""),
  )
}
