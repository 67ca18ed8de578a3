package graft
package queries

import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._
import Shared._

/** Event-analytics queries over the events log: event-time windows,
  * sessions, funnels, cohorts, OLAP grouping sets, range joins and the
  * co-occurrence graph, each with its DuckDB oracle.
  */
object Events {

  /** The events table's closed category set (generator-fixed), shared by
    * the pivot query and its oracle.
    */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** The co-occurrence projection edge set shared by the graph-motif
    * oracles (mirrors the q_cooccurrence pipeline).
    */
  private val CoOccurEdgesSql: String =
    "SELECT item_a AS src, item_b AS dst FROM (" +
      operators.Behavior.coOccurrenceSql(
        """SELECT user_id, json_extract(props, '$.k')::BIGINT AS item
           FROM events
           WHERE event_type IN ('view', 'purchase')
             AND json_extract(props, '$.k') IS NOT NULL""",
        "user_id", "item", minSupport = 3, capPerUser = 40) + ")"

  def queries: Seq[QueryDef] = Seq(
    // cumulative distinct-user growth via the first-touch trick — see
    // Behavior.userGrowth for why this never runs distinct-over-window.
    // Hour buckets: the fixture's event log spans 30 days, so hours give
    // a real growth curve (weeks would collapse to one bucket)
    QueryDef("q_user_growth", (s, dir) =>
      operators.Behavior.userGrowth(eventsWithTs(s, dir), "user_id", "ts2",
        bucketUs = 3600L * 1000000L),
      operators.Behavior.userGrowthSql("events", "user_id", "ts",
        bucketUs = 3600L * 1000000L)),

    // per-key TIME-RANGE rolling sum: each event's trailing-hour spend.
    // RANGE frame on integer micros — peers at the same timestamp are
    // all included, so the result is set-deterministic; the window is
    // PARTITIONED by user (never global) and integer-summed (cents)
    QueryDef("q_rolling", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = eventsWithTs(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts2")).as("t_us"), col("ival"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"))
        .rangeBetween(-3600L * 1000000L, 0L)
      ev.select(col("event_id"), col("user_id"), col("t_us"),
        sum(col("ival")).over(w).as("roll_c"))
    },
      s"""SELECT event_id, user_id, epoch_ns(ts) // 1000 AS t_us,
                 CAST(SUM($IvalSql) OVER (PARTITION BY user_id
                   ORDER BY epoch_ns(ts) // 1000
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS roll_c
          FROM events"""),

    // per-key rate throttle, batch form: first 3 events per (user, DAY)
    // by (t, id) — see Sampling.throttle (WindowGroupLimit shape, same
    // as q_source_cap). The replayed-log form of ingestion admission
    // control; q_throttle_stream executes the SAME contract in-stream.
    // Day buckets because the fixture peaks at 10 events/user/day — the
    // cap must actually BIND (hour buckets admit everything).
    QueryDef("q_throttle", (s, dir) =>
      Sampling.throttle(
        eventsWithTs(s, dir).select(col("event_id"), col("user_id"),
          unix_micros(col("ts2")).as("t_us")),
        "user_id", "t_us", "event_id", 86400L * 1000000L, 3)
        .select(col("event_id"), col("user_id"), col("bucket"),
          col("rk").cast("long").as("rk")),
      ThrottleOracleSql),

    // event-type transition matrix (first-order Markov counts): each
    // user's events in (time, id) order, consecutive pairs via a
    // PARTITIONED lag — the shuffle is one exchange on user_id and the
    // output is |types|² rows regardless of log size. The session-flow /
    // next-action model every event-log product ships.
    QueryDef("q_transitions", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = eventsWithTs(s, dir).select(col("user_id"), col("event_id"),
        unix_micros(col("ts2")).as("t_us"), col("event_type"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"), col("event_id"))
      ev.withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    },
      """WITH e AS (SELECT user_id, event_type,
                      lag(event_type) OVER (PARTITION BY user_id
                        ORDER BY epoch_ns(ts) // 1000, event_id) AS prev_type
                    FROM events)
         SELECT prev_type, event_type, COUNT(*) AS n
         FROM e WHERE prev_type IS NOT NULL
         GROUP BY 1, 2"""),

    // point-in-interval attribution: events inside the hour BEFORE each
    // purchase by the same user — binned equi-join on (user, hour bin),
    // exact BETWEEN decides; never a nested-loop product
    QueryDef("q_interval_join", (s, dir) => {
      val hourUs = 3600L * 1000000L
      val ev = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000").as("t_us"))
      val pts = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_id"), col("t_us"))
      val ivs = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          (col("t_us") - hourUs).as("lo"), col("t_us").as("hi"))
      ColOps.intervalJoin(pts, ivs, "t_us", "lo", "hi", hourUs,
          keys = Seq("user_id"))
        .groupBy(col("p_id"))
        .agg(count(lit(1)).as("n_before"), min(col("event_id")).as("first_ev"))
    },
      """WITH e AS (SELECT user_id, event_id, event_type,
                           epoch_ns(ts) // 1000 AS t_us
                    FROM events),
          p AS (SELECT user_id, event_id AS p_id,
                       t_us - 3600000000 AS lo, t_us AS hi
                FROM e WHERE event_type = 'purchase')
          SELECT p.p_id, COUNT(*) AS n_before,
                 MIN(e.event_id) AS first_ev
          FROM e JOIN p ON e.user_id = p.user_id
                        AND e.t_us BETWEEN p.lo AND p.hi
          WHERE e.event_type <> 'purchase'
          GROUP BY 1"""),

    // as-of join — for each click, the latest view of the same user at or
    // before it (merge-scan: one shuffle on user_id + window, never a
    // range cross-product). The as-of time is the µs-TRUNCATED ts on BOTH
    // sides of the contract: DuckDB reads the TIMESTAMP(NANOS) column
    // µs-truncated, so the engine orders by the same `ts div 1000` —
    // sub-microsecond fixture data would agree too, not just the current
    // whole-µs rows.
    QueryDef("q_asof_join", (s, dir) => {
      val ev = ColOps.table(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("event_id"),
          col("event_id").as("v_event_id"), col("value").as("v_value"))
      ColOps.asofJoin(clicks, views, "user_id", "ts_us", "event_id")
        .select(col("event_id").as("seq"), col("user_id"),
          col("asof_v_event_id"), col("asof_v_value"))
    },
      // epoch_us = the µs-truncated time the engine mirrors with
      // `ts div 1000`; the fill is ONE whole-row struct (not per-column
      // last_value), matching ColOps.asofJoin — a NULL payload field is
      // never patched from an older right row
      """WITH l AS (SELECT user_id, epoch_us(ts) AS t, event_id, value
                    FROM events WHERE event_type = 'click'),
              r AS (SELECT user_id, epoch_us(ts) AS t, event_id,
                           event_id AS v_event_id, value AS v_value
                    FROM events WHERE event_type = 'view'),
              u AS (SELECT user_id, t, event_id, 1 AS is_l,
                           NULL::STRUCT(e BIGINT, v DOUBLE) AS pay FROM l
                    UNION ALL
                    SELECT user_id, t, event_id, 0,
                           {'e': v_event_id, 'v': v_value} FROM r),
              w AS (SELECT *,
                      last_value(pay IGNORE NULLS) OVER win AS af
                    FROM u
                    WINDOW win AS (PARTITION BY user_id ORDER BY t, is_l, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id AS seq, user_id,
                (af).e AS asof_v_event_id, (af).v AS asof_v_value
         FROM w WHERE is_l = 1"""),

    // fixed-bin value histogram: ≤ bins+2 rows out regardless of input
    // (the distribution sketch member of the family)
    QueryDef("q_histogram", (s, dir) =>
      Sketches.histogram(ColOps.table(s, dir, "events"), "value", 0.0, 500.0, 25),
      Sketches.histogramSql("value", 0.0, 500.0, 25)),

    // event-time tumbling window aggregation (EventTime.tumbling — the
    // streaming windowed-agg operator, run in batch mode here; ts is
    // TIMESTAMP(NANOS) surfaced as Long)
    QueryDef("q_event_window", (s, dir) => {
      graft.streaming.EventTime.tumbling(eventsWithTs(s, dir), "ts2", "5 seconds", "1 hour",
        Seq(sum(col("ival")).as("total"), count(lit(1)).as("cnt")))
        .select(unix_timestamp(col("w_start")).as("w_start_s"),
          col("total").cast("long").as("total"), col("cnt"))
    },
      EventWindowOracleSql),

    // band (range) join — near-value event pairs via the binned
    // equi-join (one shuffle on the bin key; a bare |Δ|≤tol join would
    // plan as an O(n²) nested-loop product)
    QueryDef("q_band_join", (s, dir) => {
      val a = events(s, dir).select(col("seq").as("seq_a"), col("value").as("v_a"))
      val b = events(s, dir).select(col("seq").as("seq_b"), col("value").as("v_b"))
      ColOps.bandJoin(a, b, "v_a", "v_b", 0.05)
        .filter(col("seq_a") < col("seq_b"))
        .select(col("seq_a"), col("seq_b"), col("v_a"), col("v_b"))
    },
      // the BETWEEN slack band (0.0501 > tol) is redundant with the exact
      // abs filter but gives DuckDB a range condition for its IEJoin —
      // without it the oracle degenerates to an O(n²) filtered product
      // (measured 83 s vs 0.3 s at sf0.1). The slack must be strictly
      // wider than tol: an exact-0.05 BETWEEN disagrees with the abs
      // filter on boundary pairs.
      """SELECT a.event_id AS seq_a, b.event_id AS seq_b,
                a.value AS v_a, b.value AS v_b
         FROM events a JOIN events b
           ON b.event_id > a.event_id
          AND b.value BETWEEN a.value - 0.0501 AND a.value + 0.0501
          AND abs(a.value - b.value) <= 0.05"""),

    // keyed running scan — the per-key form of q_scan: a PARTITIONED
    // window (parallel by key, no global order, no boundary exchange);
    // at 100 TB this is the shape keyed running aggregates should take
    QueryDef("q_keyed_scan", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("seq"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir).select(col("seq"), col("user_id"), ivalCol.as("ival"))
        .select(col("seq"), col("user_id"), sum(col("ival")).over(w).as("run_sum"))
    },
      s"""SELECT event_id AS seq, user_id,
          CAST(SUM($IvalSql) OVER (PARTITION BY user_id ORDER BY event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_sum
          FROM events"""),

    // rollup — hierarchical subtotal lattice (event_type, user bucket) →
    // per-pair, per-type, grand total in ONE pass
    QueryDef("q_rollup", (s, dir) =>
      events(s, dir)
        // % not pmod: DuckDB's % is sign-of-dividend; they agree only on
        // non-negative ids, so use the operator with identical semantics
        .select(col("event_type"), (col("user_id") % 10).as("ub"), ivalCol.as("ival"))
        .rollup(col("event_type"), col("ub"))
        .agg(sum(col("ival")).cast("long").as("total"), count(lit(1)).as("cnt")),
      s"""SELECT event_type, user_id % 10 AS ub,
          CAST(SUM($IvalSql) AS BIGINT) AS total, COUNT(*) AS cnt
          FROM events GROUP BY ROLLUP (event_type, ub)"""),

    // cube — the FULL subtotal lattice over (event_type, user bucket):
    // per-pair, per-type, per-bucket, grand total in one pass (Spark
    // expands the grouping sets inside a single hash aggregate — no
    // self-union of four scans, which is the naive form's cost)
    QueryDef("q_cube", (s, dir) =>
      events(s, dir)
        .select(col("event_type"), (col("user_id") % 10).as("ub"), ivalCol.as("ival"))
        .cube(col("event_type"), col("ub"))
        .agg(sum(col("ival")).cast("long").as("total"), count(lit(1)).as("cnt")),
      s"""SELECT event_type, user_id % 10 AS ub,
          CAST(SUM($IvalSql) AS BIGINT) AS total, COUNT(*) AS cnt
          FROM events GROUP BY CUBE (event_type, ub)"""),

    // per-group z-score outliers in EXACT integer arithmetic: flag rows
    // with |cents - mean| > 2·stddev_pop without ever computing a float
    // — the test is squared and multiplied through by n²:
    //   (n·c - S)² > 4·(n·SS - S²)   [S = Σc, SS = Σc², all BIGINT]
    // evaluated in DECIMAL(38,0) (fits: n·SS ≤ ~1e20 at sf0.1; the
    // oracle uses HUGEINT). Group stats are one hash aggregate (5 rows)
    // broadcast back onto the scan — two passes over events, no window.
    QueryDef("q_outliers", (s, dir) =>
      ColOps.zOutliers(
          events(s, dir).select(col("event_id"), col("event_type"), ivalCol.as("c")),
          "event_type", "c", 2)
        .select(col("event_id"), col("event_type"), col("c").as("cents")),
      // exact-integer z-score mirror: HUGEINT is DuckDB's INT128 — same
      // squared-and-scaled test as the engine's DECIMAL(38,0) form
      s"""WITH ev AS (SELECT event_id, event_type, $IvalSql AS c FROM events),
          st AS (SELECT event_type, COUNT(*)::HUGEINT AS n,
                        SUM(c)::HUGEINT AS s, SUM(c*c)::HUGEINT AS ss
                 FROM ev GROUP BY 1)
          SELECT ev.event_id, ev.event_type, ev.c AS cents
          FROM ev JOIN st USING (event_type)
          WHERE (n * ev.c - s) * (n * ev.c - s) > 4 * (n * ss - s * s)"""),

    // schema'd JSON extraction (from_json with an explicit schema — no
    // schema-inference scan) feeding a one-shuffle aggregate; malformed
    // rows parse to NULL and are counted, not dropped silently
    QueryDef("q_json_props", (s, dir) => {
      val k = from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType)))).getField("k")
      ColOps.table(s, dir, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).cast("long").as("k_sum"),
          count(col("k")).as("k_n"),
          count(lit(1)).as("n"))
    },
      """SELECT event_type,
          CAST(SUM(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS k_sum,
          COUNT(json_extract(props, '$.k')) AS k_n,
          COUNT(*) AS n
          FROM events GROUP BY event_type"""),

    // pivot — cross-tabulation (user bucket × event type) as ONE hash
    // aggregate; explicit value list so no distinct-discovery scan
    QueryDef("q_pivot", (s, dir) =>
      ColOps.pivotSum(events(s, dir), col("user_id") % 10, "ub",
        "event_type", EventTypes, ivalCol),
      ColOps.pivotSumSql(
        "user_id % 10", "ub", "event_type", EventTypes, IvalSql, "events")),

    // discrete quantiles per group via order statistics (row_number over
    // a PARTITIONED window — parallel by group; exact and deterministic,
    // unlike interpolated percentile/approx sketches whose float
    // arithmetic is engine-private)
    QueryDef("q_quantiles", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).select(col("event_type"), col("value"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val wn = Window.partitionBy(col("event_type"))
      val ranked = ev.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
      def pick(p: Double) =
        max(when(col("rn") === floor((col("n") - 1) * p) + 1, col("value")))
      ranked.groupBy(col("event_type")).agg(
        pick(0.5).as("p50"), pick(0.9).as("p90"), pick(0.99).as("p99"))
    },
      """WITH r AS (SELECT event_type, value,
                      row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                      count(*) OVER (PARTITION BY event_type) AS n
                    FROM events)
         SELECT event_type,
                max(CASE WHEN rn = floor((n-1) * 0.5) + 1 THEN value END) AS p50,
                max(CASE WHEN rn = floor((n-1) * 0.9) + 1 THEN value END) AS p90,
                max(CASE WHEN rn = floor((n-1) * 0.99) + 1 THEN value END) AS p99
         FROM r GROUP BY event_type"""),

    // robust (trimmed) per-group aggregation: keep ranks inside the
    // [5 %, 95 %] order-statistic band, sum integer cents — outlier-
    // resistant stats with NO floating-point aggregation (the window
    // partitions by group, so ranking is parallel per key; ties at the
    // cut carry equal values, so the sum is tie-invariant)
    QueryDef("q_trimmed_mean", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).select(col("event_type"), ivalCol.as("ival"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("ival"))
      val wn = Window.partitionBy(col("event_type"))
      val lo = floor((col("n") - 1) * 0.05) + 1
      val hi = floor((col("n") - 1) * 0.95) + 1
      ev.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
        .filter(col("rn") >= lo && col("rn") <= hi)
        .groupBy(col("event_type")).agg(
          count(lit(1)).as("kept"),
          sum(col("ival")).cast("long").as("trimmed_sum"))
    },
      s"""WITH r AS (SELECT event_type, $IvalSql AS ival,
                      row_number() OVER (PARTITION BY event_type ORDER BY $IvalSql) AS rn,
                      count(*) OVER (PARTITION BY event_type) AS n
                    FROM events)
         SELECT event_type, COUNT(*) AS kept,
                CAST(SUM(ival) AS BIGINT) AS trimmed_sum
         FROM r
         WHERE rn >= floor((n-1) * 0.05) + 1 AND rn <= floor((n-1) * 0.95) + 1
         GROUP BY event_type"""),

    // ordered funnel conversion (view → click → purchase) per user:
    // stage k = a type-k event STRICTLY after the user's stage-(k-1)
    // time, first-touch attribution — min-chain aggregations over
    // pushed-filter scans, each join side ≤ |users| rows (no per-user
    // sort or event buffering; see Behavior scaladoc for the scale
    // argument)
    QueryDef("q_funnel", (s, dir) =>
      operators.Behavior.funnel(eventsWithTs(s, dir),
        "user_id", "event_type", "ts2", Seq("view", "click", "purchase")),
      operators.Behavior.funnelSql("events",
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))),

    // weekly cohort retention matrix: cohort = first-activity epoch
    // week; the event log collapses to DISTINCT (user, week) in one
    // shuffle before the cohort join — join input bounded by
    // |users|·|weeks| regardless of event volume
    QueryDef("q_retention", (s, dir) =>
      operators.Behavior.retention(eventsWithTs(s, dir), "user_id", "ts2"),
      operators.Behavior.retentionSql("events", "user_id", "ts")),

    // event-time SLIDING windows (2h window, 1h slide — each event in 2
    // windows; the fan-out is inside Spark's window() generator)
    QueryDef("q_event_sliding", (s, dir) => {
      graft.streaming.EventTime.sliding(eventsWithTs(s, dir), "ts2",
        "1 hour", "2 hours", "1 hour",
        Seq(sum(col("ival")).as("total"), count(lit(1)).as("cnt")))
        .select(unix_timestamp(col("w_start")).as("w_start_s"),
          col("total").cast("long").as("total"), col("cnt"))
    },
      EventSlidingOracleSql),

    // event-time SESSION windows per user (2h inactivity gap; session end
    // = last event + gap, half-open — an event exactly at the previous
    // session's end starts a new one)
    QueryDef("q_event_session", (s, dir) => {
      graft.streaming.EventTime.session(eventsWithTs(s, dir), "ts2", "user_id",
        "1 hour", "2 hours",
        Seq(sum(col("ival")).as("total"), count(lit(1)).as("cnt")))
        .select(col("user_id"), unix_micros(col("s_start")).as("s_start_us"),
          unix_micros(col("s_end")).as("s_end_us"),
          col("total").cast("long").as("total"), col("cnt"))
    },
      // gaps-and-islands mirror of session_window: a new session starts
      // when the gap to the previous event is >= 2h (Spark's window is
      // half-open, so an event exactly at prev_last+gap is OUTSIDE)
      eventSessionOracleSql("")),

    // integer-exact PageRank over the bipartite user↔item graph mined
    // from the event log (item = props.k, offset into its own id space);
    // 3 damped iterations, each one edge-join + one dst-shuffle — the
    // Pregel step as plain DataFrames (Graph scaladoc for the scale
    // argument). Link centrality is the classic quality prior for
    // web-corpus sampling.
    QueryDef("q_pagerank", (s, dir) => {
      val k = from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType)))).getField("k")
      val edges = ColOps.table(s, dir, "events")
        .select(col("user_id").as("src"), (lit(1000000L) + k).as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull)
      operators.Graph.pageRank(edges, iters = 3)
    },
      operators.Graph.pageRankSql(
        """SELECT user_id AS src,
           1000000 + json_extract(props, '$.k')::BIGINT AS dst
         FROM events
         WHERE user_id IS NOT NULL
           AND json_extract(props, '$.k') IS NOT NULL""", iters = 3)),

    // per-user lag/gap feature vector (event index, µs since previous,
    // micro-exact value delta) — one user-key shuffle, no global sort
    QueryDef("q_lag_features", (s, dir) =>
      operators.Behavior.lagFeatures(eventsWithTs(s, dir),
        "user_id", "ts2", "event_id", "value"),
      operators.Behavior.lagFeaturesSql(
        "events", "user_id", "ts", "event_id", "value")),

    // market-basket co-occurrence over view/purchase items: per-user
    // sets capped at 40 (deterministic top-by-frequency) BEFORE the
    // pair join, so the blowup is bounded whatever the power users do
    QueryDef("q_cooccurrence", (s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      val ev = ColOps.table(s, dir, "events")
        .where(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), k.as("item"))
        .where(col("item").isNotNull)
      operators.Behavior.coOccurrence(ev, "user_id", "item",
        minSupport = 3, capPerUser = 40)
    },
      operators.Behavior.coOccurrenceSql(
        """SELECT user_id, json_extract(props, '$.k')::BIGINT AS item
         FROM events
         WHERE event_type IN ('view', 'purchase')
           AND json_extract(props, '$.k') IS NOT NULL""",
        "user_id", "item", minSupport = 3, capPerUser = 40)),

    // triangle count on that co-occurrence projection — degree-oriented
    // wedge closure (out-degrees bounded O(√m), each triangle counted
    // once at its lowest-rank apex), the clique-ishness motif statistic
    QueryDef("q_triangles", (s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      val ev = ColOps.table(s, dir, "events")
        .where(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), k.as("item"))
        .where(col("item").isNotNull)
      operators.Graph.triangleCount(
        operators.Behavior.coOccurrence(ev, "user_id", "item",
            minSupport = 3, capPerUser = 40)
          .select(col("item_a").as("src"), col("item_b").as("dst")))
    },
      operators.Graph.triangleCountSql(CoOccurEdgesSql)),

    // local clustering coefficient per item — same oriented-triple
    // machinery, each triangle credits its three corners, exact ppm
    QueryDef("q_clustering_coef", (s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      val ev = ColOps.table(s, dir, "events")
        .where(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), k.as("item"))
        .where(col("item").isNotNull)
      operators.Graph.clusteringCoef(
        operators.Behavior.coOccurrence(ev, "user_id", "item",
            minSupport = 3, capPerUser = 40)
          .select(col("item_a").as("src"), col("item_b").as("dst")))
    },
      operators.Graph.clusteringCoefSql(CoOccurEdgesSql)),
  )
}
