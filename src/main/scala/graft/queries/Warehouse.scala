package graft
package queries

import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._
import graft.Fixtures._
import Shared._

/** Warehouse queries: TPC-H-shaped joins and aggregates, table
  * diagnostics, physical layouts, file-format sources and keyed upserts,
  * each with its DuckDB oracle.
  */
object Warehouse {

  def queries: Seq[QueryDef] = Seq(
    // TPC-H Q3-shaped shipping priority: filtered dim (BUILDING
    // customers) BROADCAST onto orders, then the one genuinely big
    // shuffle — lineitem ⋈ orders on the order key — into a grouped
    // integer-cents revenue. The canonical warehouse join plan: every
    // dim rides a broadcast, the fact-fact join shuffles on the join
    // key (bucketing/bucketedJoin co-locates it at 100 TB), revenue is
    // per-row FLOOR-cents so the sum is order-free and engine-exact.
    QueryDef("q_ship_priority", (s, dir) => {
      val cut = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
      val cust = ColOps.table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      // the parquet dates are TIMESTAMP_NTZ; the UTC session makes the
      // cast to TIMESTAMP value-preserving (same micros as the oracle's
      // naive epoch_ns)
      val ord = ColOps.table(s, dir, "orders")
        .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
        .filter(col("o_orderdate") < lit(cut))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_orderpriority"))
      val li = ColOps.table(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("timestamp") > lit(cut))
        .select(col("l_orderkey"),
          expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
            .as("rev_c"))
      ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("rev_c")).as("revenue_c"))
        .select(col("o_orderkey"), unix_micros(col("o_orderdate")).as("odate_us"),
          col("o_orderpriority"), col("revenue_c"))
    },
      """SELECT o.o_orderkey, epoch_ns(o.o_orderdate) // 1000 AS odate_us,
                o.o_orderpriority,
                CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                              AS BIGINT)) AS BIGINT) AS revenue_c
         FROM customer c
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         WHERE c.c_mktsegment = 'BUILDING'
           AND o.o_orderdate < TIMESTAMP '1998-01-01'
           AND l.l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY 1, 2, 3"""),

    // TPC-H Q1-shaped pricing summary: ONE scan, one ≤|flag×status|-key
    // hash aggregate with map-side partials — the canonical "wide
    // aggregate over the biggest table" plan. All money terms are
    // per-row FLOOR-cents (the float products are IEEE-exact given the
    // inputs; flooring BEFORE the sum keeps the aggregate order-free).
    QueryDef("q_pricing_summary", (s, dir) => {
      val cut = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
      ColOps.table(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("timestamp") <= lit(cut))
        .select(col("l_returnflag"), col("l_linestatus"),
          expr("CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)").as("qty_c"),
          expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)").as("price_c"),
          expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
            .as("disc_c"),
          expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) AS BIGINT)")
            .as("charge_c"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("qty_c")).as("sum_qty_c"), sum(col("price_c")).as("sum_price_c"),
          sum(col("disc_c")).as("sum_disc_c"), sum(col("charge_c")).as("sum_charge_c"),
          count(lit(1)).as("n"))
    },
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_c,
                CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_c,
                CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_c,
                CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_charge_c,
                COUNT(*) AS n
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2000-01-01'
         GROUP BY 1, 2"""),

    // TPC-H Q5-shaped regional revenue: the dim CHAIN region → nation →
    // customer collapses to one broadcast (5 → 25 → |customers| rows,
    // each step itself broadcast), so the only shuffles are the two
    // fact joins — orders tags with the nation via the broadcast,
    // lineitem ⋈ orders on the order key, then a 5-row aggregate.
    QueryDef("q_region_revenue", (s, dir) => {
      val dim = ColOps.table(s, dir, "region").filter(col("r_name") === "ASIA")
        .join(ColOps.table(s, dir, "nation"),
          col("r_regionkey") === col("n_regionkey"))
        .join(ColOps.table(s, dir, "customer"),
          col("n_nationkey") === col("c_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val ord = ColOps.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("n_name"))
      ColOps.table(s, dir, "lineitem")
        .select(col("l_orderkey"),
          expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
            .as("rev_c"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev_c")).as("revenue_c"), count(lit(1)).as("n_items"))
    },
      """SELECT n.n_name,
                CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                              AS BIGINT)) AS BIGINT) AS revenue_c,
                COUNT(*) AS n_items
         FROM region r
         JOIN nation n ON r.r_regionkey = n.n_regionkey
         JOIN customer c ON n.n_nationkey = c.c_nationkey
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         WHERE r.r_name = 'ASIA'
         GROUP BY 1"""),

    // TPC-H Q4-shaped priority check: the EXISTS subquery is a LEFT SEMI
    // join — lineitem pruned to the join key + pushed returnflag filter
    // BEFORE the shuffle, so the semi side ships one bigint per matching
    // row and short-circuits per key. Never rewrite EXISTS as
    // join+distinct (that pays a dedup shuffle the semi join avoids).
    QueryDef("q_order_priority", (s, dir) => {
      val lo = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
      val ord = ColOps.table(s, dir, "orders")
        .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
        .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
        .select(col("o_orderkey"), col("o_orderpriority"))
      val ret = ColOps.table(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      ord.join(ret, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    },
      """SELECT o.o_orderpriority, COUNT(*) AS n_orders
         FROM orders o
         WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
           AND o.o_orderdate <  TIMESTAMP '1998-01-01'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_returnflag = 'R')
         GROUP BY 1"""),

    // TPC-H Q10-shaped returned-revenue ranking: fact join shuffles on
    // the order key, aggregates to ≤|customers| rows BEFORE touching the
    // customer dim (broadcast nation rides along), and the global top-20
    // is TakeOrderedAndProject — per-partition partial top-k, never a
    // global sort. custkey tiebreak keeps LIMIT deterministic under ties.
    QueryDef("q_top_customers", (s, dir) => {
      val li = ColOps.table(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
            .as("rev_c"))
      val ord = ColOps.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val rev = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey")).agg(sum(col("rev_c")).as("revenue_c"))
      val cust = ColOps.table(s, dir, "customer")
        .join(broadcast(ColOps.table(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"))
      rev.join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"), col("revenue_c"))
        .orderBy(col("revenue_c").desc, col("c_custkey")).limit(20)
    },
      """SELECT c.c_custkey, c.c_name, n.n_name,
                CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                              AS BIGINT)) AS BIGINT) AS revenue_c
         FROM lineitem l
         JOIN orders o   ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n   ON c.c_nationkey = n.n_nationkey
         WHERE l.l_returnflag = 'R'
         GROUP BY 1, 2, 3
         ORDER BY revenue_c DESC, c.c_custkey
         LIMIT 20"""),

    // Anti-join dead-stock rollup: parts with NO shipment after the cut.
    // NOT EXISTS is a LEFT ANTI join on the part key — the probe side is
    // the pruned (key-only, date-filtered) lineitem, and the survivors
    // aggregate per brand. The anti join is the only correct distributed
    // shape here: a NOT IN would be null-hostile and a left-join+IS NULL
    // carries the full payload through the shuffle.
    QueryDef("q_cold_parts", (s, dir) => {
      val cut = java.sql.Timestamp.valueOf("2001-06-01 00:00:00")
      val recent = ColOps.table(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("timestamp") > lit(cut))
        .select(col("l_partkey"))
      ColOps.table(s, dir, "part")
        .join(recent, col("p_partkey") === col("l_partkey"), "left_anti")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_cold"),
          sum(expr("CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT)"))
            .as("shelf_value_c"))
    },
      """SELECT p.p_brand, COUNT(*) AS n_cold,
                CAST(SUM(CAST(FLOOR(p.p_retailprice * 100 + 0.5) AS BIGINT))
                     AS BIGINT) AS shelf_value_c
         FROM part p
         WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                           WHERE l.l_partkey = p.p_partkey
                             AND l.l_shipdate > TIMESTAMP '2001-06-01')
         GROUP BY 1"""),

    // TPC-H Q18 shape (large-quantity orders): the fact table collapses
    // to per-order quantity totals FIRST (map-side-combinable agg), the
    // rare survivors join orders, the customer dim broadcasts, top-100
    // is a TakeOrdered partial sort — never a global sort
    QueryDef("q_large_orders", (s, dir) => {
      val big = ColOps.table(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(expr("CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)"))
          .as("qty_c"))
        .filter(col("qty_c") > lit(25000L))
      ColOps.table(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(ColOps.table(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("total_c"),
          col("qty_c"))
        .orderBy(col("total_c").desc, col("o_orderkey")).limit(100)
    },
      """WITH big AS (SELECT l_orderkey,
                        CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT))
                             AS BIGINT) AS qty_c
                      FROM lineitem GROUP BY 1
                      HAVING SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) > 25000)
         SELECT c.c_name, c.c_custkey, o.o_orderkey,
                CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS total_c,
                big.qty_c
         FROM orders o
         JOIN big ON o.o_orderkey = big.l_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         ORDER BY total_c DESC, o.o_orderkey LIMIT 100"""),

    // ANALYZE-style one-pass column profile of the events table: 5
    // statistics × 5 integer-unit columns from ONE global aggregate
    // (map-side partials; the shuffle is 25 longs), then an in-plan
    // unpivot. The nullable json k column exercises the null accounting;
    // the ts column profiles as a DAY bucket, not epoch-µs (sum-overflow
    // discipline per the scaladoc)
    QueryDef("q_table_profile", (s, dir) =>
      operators.Diagnostics.columnProfile(
        ColOps.table(s, dir, "events")
          .withColumn("ts2", timestamp_micros(expr("ts div 1000"))),
        Seq(
          "event_id" -> col("event_id"),
          "user_id" -> col("user_id"),
          "day" -> expr("unix_micros(ts2) div 86400000000"),
          "ival" -> ivalCol,
          "k" -> get_json_object(col("props"), "$.k").cast("long"))),
      operators.Diagnostics.columnProfileSql(
        "SELECT * FROM events",
        Seq(
          "event_id" -> "event_id",
          "user_id" -> "user_id",
          "day" -> "(epoch_ns(ts) // 1000) // 86400000000",
          "ival" -> IvalSql,
          "k" -> "json_extract(props, '$.k')::BIGINT"))),

    // snapshot distribution drift: o_totalprice binned at width 25k,
    // pre-1998 orders vs later — per-bin exact ppm-of-own-total compare
    // (ln-free; Σ|delta_ppm|/2 is the TVD in ppm). Count tables before
    // any join; totals attach by broadcast.
    QueryDef("q_drift", (s, dir) => {
      val cut = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
      val orders = ColOps.table(s, dir, "orders")
      operators.Diagnostics.distributionDrift(
        orders.filter(col("o_orderdate").cast("timestamp") < lit(cut)),
        orders.filter(col("o_orderdate").cast("timestamp") >= lit(cut)),
        expr("CAST(FLOOR(o_totalprice / 25000) AS BIGINT)"))
    },
      operators.Diagnostics.distributionDriftSql(
        "SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'",
        "SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'",
        "CAST(FLOOR(o_totalprice / 25000) AS BIGINT)")),

    // generic Bloom-pruned fact⋈keys semi-join (the decontamination
    // prefilter generalized): urgent-order keys build a 16 KiB plan-
    // literal Bloom DISTRIBUTIVELY (bit_or word aggregate — the driver
    // never sees keys), the membership test runs inside the lineitem
    // scan's codegen, the exact semi-join removes false positives
    QueryDef("q_bloom_prune", (s, dir) => {
      val urgent = ColOps.table(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"))
      ColOps.bloomPrunedSemiJoin(
          ColOps.table(s, dir, "lineitem"), urgent, "l_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(expr("CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)"))
            .as("sum_qty_c"))
    },
      """SELECT l.l_returnflag, COUNT(*) AS n_items,
                CAST(SUM(CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT))
                     AS BIGINT) AS sum_qty_c
         FROM lineitem l
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_orderkey = l.l_orderkey
                         AND o.o_orderpriority = '1-URGENT')
         GROUP BY 1"""),

    // exact global deciles WITHOUT ntile's single-partition global sort —
    // see ColOps.quantileBins (distributed ordinal + broadcast count)
    QueryDef("q_decile", (s, dir) =>
      ColOps.quantileBins(
        ColOps.table(s, dir, "documents").select(col("n_chars"), col("doc_id")),
        "n_chars", "doc_id", 10),
      """WITH r AS (SELECT n_chars,
                      row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rk,
                      COUNT(*) OVER () AS n
                    FROM documents)
         SELECT rk * 10 // n AS bin, COUNT(*) AS n_rows,
                MIN(n_chars) AS lo, MAX(n_chars) AS hi
         FROM r GROUP BY 1"""),

    // small-file compaction round trip: 64 tiny files → ~4 size-targeted
    // files, content IDENTICAL to the raw table (the oracle is the raw
    // table — any row lost or duplicated by the rewrite breaks the hash)
    QueryDef("q_compact", (s, dir) =>
      s.read.parquet(stagedCompacted(s, dir).resolve("compacted").toString),
      // compaction moves file boundaries, never rows — the raw table IS
      // the oracle
      "SELECT event_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents FROM events"),

    // range-layout round trip: read the clustered rewrite back through a
    // range predicate on the layout key (the predicate pushes into
    // row-group stats that the sort made tight); oracle = same predicate
    // on the raw table
    QueryDef("q_range_layout", (s, dir) =>
      s.read.parquet(stagedRangeLayout(s, dir).toString)
        .filter(col("n_chars").between(150, 350))
        .select(col("doc_id"), col("lang"), col("n_chars")),
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE n_chars BETWEEN 150 AND 350"""),

    // Hive-partitioned layout (directory-per-lang): the per-partition
    // manifest through the round-trip — content identity is the oracle,
    // directory pruning is LayoutSpec's assert
    QueryDef("q_hive_layout", (s, dir) =>
      s.read.parquet(stagedHiveLayout(s, dir).toString)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).as("sum_chars")),
      """SELECT lang, COUNT(*) AS n_docs,
                MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
                CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY 1"""),

    // Z-order (Morton) clustering rewrite: a box predicate on BOTH
    // dimensions over the rewritten files — content identity + the
    // portable bit-cascade z-value checked by the oracle; per-file
    // z-range disjointness is LayoutSpec's assertion
    QueryDef("q_zorder_layout", (s, dir) =>
      s.read.parquet(stagedZorderLayout(s, dir).toString)
        .filter(col("user_id").between(40, 80) &&
          col("day").between(19730, 19740))
        .select(col("event_id"), col("user_id"), col("day"), col("zval")),
      s"""WITH z AS (SELECT event_id, user_id,
                            (epoch_ns(ts) // 1000) // 86400000000 AS day
                     FROM events)
          SELECT event_id, user_id, CAST(day AS BIGINT) AS day,
                 CAST(${Layout.mortonSql("user_id", "day")} AS BIGINT) AS zval
          FROM z
          WHERE user_id BETWEEN 40 AND 80 AND day BETWEEN 19730 AND 19740"""),

    // corpus snapshot reconciliation: FULL OUTER join of two versions on
    // the key, digests compared → added / removed / changed (same rows
    // suppressed — the diff is the deliverable and is usually tiny
    // relative to the corpus). The only join type that sees BOTH
    // dangling sides; full outer can't broadcast, so it sort-merges on
    // the key — the correct (and only) 100 TB shape. Digests, never
    // payloads, cross the shuffle.
    QueryDef("q_snapshot_diff", (s, dir) => {
      val v0 = ColOps.table(s, dir, "documents")
        .select(col("doc_id").as("id0"), md5(col("text")).as("d0"))
      // v1: every 11th doc removed, every remaining 3rd revised, and a
      // batch of new docs appended (shifted ids)
      val v1base = ColOps.table(s, dir, "documents")
        .filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id").as("id1"),
          when(col("doc_id") % 3 === 0, md5(concat(lit("v1:"), col("text"))))
            .otherwise(md5(col("text"))).as("d1"))
      val v1new = ColOps.table(s, dir, "documents")
        .filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("id1"),
          md5(col("text")).as("d1"))
      val v1 = v1base.unionByName(v1new)
      v0.join(v1, col("id0") === col("id1"), "full_outer")
        .select(coalesce(col("id0"), col("id1")).as("doc_id"),
          when(col("id0").isNull, "added")
            .when(col("id1").isNull, "removed")
            .when(col("d0") =!= col("d1"), "changed")
            .otherwise("same").as("status"))
        .filter(col("status") =!= "same")
    },
      """WITH v0 AS (SELECT doc_id AS id0, md5(text) AS d0 FROM documents),
            v1 AS (SELECT doc_id AS id1,
                          CASE WHEN doc_id % 3 = 0 THEN md5('v1:' || text)
                               ELSE md5(text) END AS d1
                   FROM documents WHERE doc_id % 11 <> 0
                   UNION ALL
                   SELECT doc_id + 1000000 AS id1, md5(text) AS d1
                   FROM documents WHERE doc_id % 13 = 0)
         SELECT COALESCE(id0, id1) AS doc_id,
                CASE WHEN id0 IS NULL THEN 'added'
                     WHEN id1 IS NULL THEN 'removed'
                     WHEN d0 <> d1 THEN 'changed'
                     ELSE 'same' END AS status
         FROM v0 FULL OUTER JOIN v1 ON id0 = id1
         WHERE NOT (id0 IS NOT NULL AND id1 IS NOT NULL AND d0 = d1)"""),

    // SCD-2 validity intervals over the same versioned changelog as
    // q_upsert: audit/time-travel view (what was true at version v)
    // versus mergeLatest's current-state view — see ColOps.scd2
    QueryDef("q_scd2", (s, dir) => {
      val base = ColOps.table(s, dir, "documents")
        .select(col("doc_id"), lit(0L).as("version"))
      val updates = ColOps.table(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), lit(1L).as("version"))
      ColOps.scd2(base.unionByName(updates), "doc_id", "version")
        .select(col("doc_id"), col("version"), col("valid_to"),
          col("is_current"))
    },
      """WITH chg AS (SELECT doc_id, 0::BIGINT AS version FROM documents
                      UNION ALL
                      SELECT doc_id, 1::BIGINT AS version FROM documents
                      WHERE doc_id % 3 = 0)
         SELECT doc_id, version,
                lead(version) OVER (PARTITION BY doc_id ORDER BY version) AS valid_to,
                lead(version) OVER (PARTITION BY doc_id ORDER BY version) IS NULL
                  AS is_current
         FROM chg"""),

    // ordered group concatenation (listagg): collect_list is
    // arrival-ordered, so sort INSIDE the aggregate (array_sort) before
    // joining — the only engine-portable way to make string aggregation
    // deterministic. Output is |groups| rows; the op is for bounded
    // groups by contract (a group too big to hold its member list is a
    // modeling error, not a shuffle problem).
    QueryDef("q_listagg", (s, dir) =>
      ColOps.table(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          array_join(
            transform(array_sort(collect_list(col("doc_id"))),
              x => x.cast("string")), ",").as("doc_ids")),
      """SELECT lang, COUNT(*) AS n_docs,
                string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids
         FROM documents GROUP BY 1"""),

    // TPC-H Q14-shaped promo share: lineitem ⋈ part on the part key
    // (fact-to-midsize-dim equi-join — broadcast at this SF, bucketed or
    // sort-merge at 100 TB; either way keyed, never nested-loop),
    // conditional cents split per ship month. The share is left as two
    // exact integer sums — the consumer divides, the hash stays stable.
    QueryDef("q_promo_share", (s, dir) => {
      val li = ColOps.table(s, dir, "lineitem")
        .select(col("l_partkey"),
          unix_micros(date_trunc("month", col("l_shipdate").cast("timestamp")))
            .as("month_us"),
          expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
            .as("rev_c"))
      val pt = ColOps.table(s, dir, "part")
        .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
      li.join(pt, col("l_partkey") === col("p_partkey"))
        .groupBy(col("month_us"))
        .agg(sum(when(col("is_promo"), col("rev_c")).otherwise(0L)).as("promo_c"),
          sum(col("rev_c")).as("total_c"))
    },
      """SELECT epoch_ns(date_trunc('month', l.l_shipdate)) // 1000 AS month_us,
                CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                  THEN CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS promo_c,
                CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                              AS BIGINT)) AS BIGINT) AS total_c
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY 1"""),

    // TPC-H Q6-shaped forecast revenue: the purest pushdown probe — one
    // lineitem scan, ALL three predicates reach the parquet reader
    // (PushedFilters shows the date band; the discount test is
    // micro-scaled to integers so the band can't wobble on float ulps),
    // and the aggregate is a single 1-row map-side-combined sum. Zero
    // shuffle beyond the final 1-row exchange.
    QueryDef("q_forecast_revenue", (s, dir) => {
      val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
      ColOps.table(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("timestamp") >= lit(lo) &&
          col("l_shipdate").cast("timestamp") < lit(hi) &&
          expr("CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)").between(5, 7) &&
          col("l_quantity") < 24)
        .agg(sum(expr("CAST(FLOOR(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT)"))
          .as("forecast_c"), count(lit(1)).as("n_items"))
    },
      """SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS forecast_c,
                COUNT(*) AS n_items
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate <  TIMESTAMP '1997-01-01'
           AND CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) BETWEEN 5 AND 7
           AND l_quantity < 24"""),

    // TPC-H Q7-shaped volume shipping: the nation-pair trade matrix.
    // Supplier (100 rows) and the customer→nation dim both BROADCAST
    // onto the facts, so the only shuffle is lineitem ⋈ orders on the
    // order key; the (supp_nation, cust_nation) pair filter prunes to
    // the two directions BEFORE the aggregate. Grouped by pair × ship
    // year — ≤ 2·|years| rows out.
    QueryDef("q_volume_shipping", (s, dir) => {
      val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
      val nat = ColOps.table(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val sup = ColOps.table(s, dir, "supplier")
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = ColOps.table(s, dir, "customer")
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val ord = ColOps.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("cust_nation"))
      ColOps.table(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("timestamp") >= lit(lo) &&
          col("l_shipdate").cast("timestamp") < lit(hi))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate").cast("timestamp")).cast("long").as("ship_year"),
          expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
            .as("rev_c"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
        .agg(sum(col("rev_c")).as("revenue_c"), count(lit(1)).as("n_items"))
    },
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS ship_year,
                CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                              AS BIGINT)) AS BIGINT) AS revenue_c,
                COUNT(*) AS n_items
         FROM lineitem l
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
         JOIN orders o   ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
         WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
           AND l.l_shipdate <  TIMESTAMP '1998-01-01'
           AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
             OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
         GROUP BY 1, 2, 3"""),

    // TPC-H Q8-shaped market share: NATION_3 suppliers' slice of ASIA's
    // PROMO-part revenue per order year. Every dim (filtered part,
    // supplier flag, region→nation→customer chain) BROADCASTS; the one
    // real shuffle is lineitem ⋈ orders. The share ships as exact
    // integer ppm (num·10⁶ div den) — no float division in the hash.
    QueryDef("q_market_share", (s, dir) => {
      val part = ColOps.table(s, dir, "part")
        .filter(col("p_type") === "PROMO").select(col("p_partkey"))
      val supFlag = ColOps.table(s, dir, "supplier")
        .join(ColOps.table(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), (col("n_name") === "NATION_3").as("is_target"))
      val cust = ColOps.table(s, dir, "region").filter(col("r_name") === "ASIA")
        .join(ColOps.table(s, dir, "nation"),
          col("r_regionkey") === col("n_regionkey"))
        .join(ColOps.table(s, dir, "customer"),
          col("n_nationkey") === col("c_nationkey"))
        .select(col("c_custkey"))
      val ord = ColOps.table(s, dir, "orders")
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"),
          year(col("o_orderdate").cast("timestamp")).cast("long").as("o_year"))
      ColOps.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
            .as("rev_c"))
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supFlag), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_year"))
        .agg(sum(when(col("is_target"), col("rev_c")).otherwise(0L)).as("target_c"),
          sum(col("rev_c")).as("total_c"))
        .select(col("o_year"), col("target_c"), col("total_c"),
          expr("target_c * 1000000 div total_c").as("share_ppm"))
    },
      """SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
                CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
                              THEN CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)
                              ELSE 0 END) AS BIGINT) AS target_c,
                CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                              AS BIGINT)) AS BIGINT) AS total_c,
                CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
                              THEN CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)
                              ELSE 0 END) * 1000000
                     // SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                               AS BIGINT)) AS BIGINT) AS share_ppm
         FROM lineitem l
         JOIN part p     ON l.l_partkey = p.p_partkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
         JOIN orders o   ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
         JOIN region r   ON cn.n_regionkey = r.r_regionkey
         WHERE p.p_type = 'PROMO' AND r.r_name = 'ASIA'
         GROUP BY 1"""),

    // TPC-H Q9-shaped product profit: per supplier-nation × ship year,
    // profit = revenue − a 10%-of-retail unit-cost proxy (the fixture has
    // no partsupp table; the cost term keeps Q9's part-join shape).
    // Both money terms floor to cents PER ROW, so the grouped sum is
    // order-free. Parts prune on the name predicate BEFORE broadcast.
    QueryDef("q_product_profit", (s, dir) => {
      val part = ColOps.table(s, dir, "part")
        .filter(col("p_name").contains("widget"))
        .select(col("p_partkey"), col("p_retailprice"))
      val sup = ColOps.table(s, dir, "supplier")
        .join(ColOps.table(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      ColOps.table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"),
          year(col("l_shipdate").cast("timestamp")).cast("long").as("ship_year"))
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .select(col("n_name"), col("ship_year"),
          (expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)") -
            expr("CAST(FLOOR(p_retailprice * l_quantity * 10 + 0.5) AS BIGINT)"))
            .as("profit_c"))
        .groupBy(col("n_name"), col("ship_year"))
        .agg(sum(col("profit_c")).as("profit_c"), count(lit(1)).as("n_items"))
    },
      """SELECT n.n_name,
                CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS ship_year,
                CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)
                       - CAST(FLOOR(p.p_retailprice * l.l_quantity * 10 + 0.5) AS BIGINT))
                     AS BIGINT) AS profit_c,
                COUNT(*) AS n_items
         FROM lineitem l
         JOIN part p     ON l.l_partkey = p.p_partkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation n   ON s.s_nationkey = n.n_nationkey
         WHERE p.p_name LIKE '%widget%'
         GROUP BY 1, 2"""),

    // TPC-H Q13-shaped order-count distribution: orders-per-customer
    // histogram INCLUDING the zero bucket — the LEFT OUTER join is the
    // semantics (an inner join silently drops never-ordered customers).
    // Two aggregates: per-customer count (shuffle on custkey), then the
    // ≤|distinct counts|-row distribution — canonical double-group-by.
    QueryDef("q_order_count_dist", (s, dir) => {
      val ord = ColOps.table(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      ColOps.table(s, dir, "customer").select(col("c_custkey"))
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },
      """WITH pc AS (
           SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
           FROM customer c
           LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                             AND o.o_orderpriority <> '1-URGENT'
           GROUP BY 1)
         SELECT c_count, COUNT(*) AS custdist
         FROM pc GROUP BY 1"""),

    // TPC-H Q15-shaped top supplier: quarterly revenue per supplier, the
    // max attached as a BROADCAST 1-row aggregate and matched exactly —
    // ties all surface (the reference semantics), never an ORDER BY
    // LIMIT 1 that picks one of them arbitrarily. Revenue aggregate
    // shuffles on suppkey (≤|suppliers| rows), dim join broadcasts.
    QueryDef("q_top_supplier", (s, dir) => {
      val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1996-04-01 00:00:00")
      val rev = ColOps.table(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("timestamp") >= lit(lo) &&
          col("l_shipdate").cast("timestamp") < lit(hi))
        .groupBy(col("l_suppkey"))
        .agg(sum(expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)"))
          .as("total_rev_c"))
      val top = rev.agg(max(col("total_rev_c")).as("__max"))
      rev.crossJoin(broadcast(top))
        .filter(col("total_rev_c") === col("__max")).drop("__max")
        .join(broadcast(ColOps.table(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev_c"))
    },
      """WITH rev AS (
           SELECT l_suppkey,
                  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                                AS BIGINT)) AS BIGINT) AS total_rev_c
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate <  TIMESTAMP '1996-04-01'
           GROUP BY 1)
         SELECT s.s_suppkey, s.s_name, rev.total_rev_c
         FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
         WHERE rev.total_rev_c = (SELECT MAX(total_rev_c) FROM rev)"""),

    // TPC-H Q17-shaped small-quantity revenue: lineitems below 20% of
    // their part's average quantity, for one brand. The per-part stats
    // aggregate over the SAME brand-pruned join, re-attached as a
    // broadcast (≤|brand parts| rows); the threshold compares
    // cross-multiplied integers (qty·5·n < Σqty — scaled ×100) so no
    // float average exists anywhere. Total ships as cents div 7
    // (TPC-H's yearly average), still exact integer.
    QueryDef("q_small_qty_revenue", (s, dir) => {
      val part = ColOps.table(s, dir, "part")
        .filter(col("p_brand") === "Brand#11").select(col("p_partkey"))
      val li = ColOps.table(s, dir, "lineitem")
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"),
          expr("CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)").as("qty_c"),
          expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)").as("price_c"))
      val stats = li.groupBy(col("p_partkey").as("__pk"))
        .agg(count(lit(1)).as("__n"), sum(col("qty_c")).as("__sumq"))
      li.join(broadcast(stats), col("p_partkey") === col("__pk"))
        .filter(col("qty_c") * 5 * col("__n") < col("__sumq"))
        .agg(expr("CAST(SUM(price_c) AS BIGINT) div 7").as("avg_yearly_c"),
          count(lit(1)).as("n_items"))
    },
      """WITH li AS (
           SELECT l.l_partkey,
                  CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT) AS qty_c,
                  CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c
           FROM lineitem l
           JOIN part p ON l.l_partkey = p.p_partkey
           WHERE p.p_brand = 'Brand#11'),
         st AS (SELECT l_partkey, COUNT(*) AS n, CAST(SUM(qty_c) AS BIGINT) AS sumq
                FROM li GROUP BY 1)
         SELECT CAST(SUM(li.price_c) // 7 AS BIGINT) AS avg_yearly_c,
                COUNT(*) AS n_items
         FROM li JOIN st ON li.l_partkey = st.l_partkey
         WHERE li.qty_c * 5 * st.n < st.sumq"""),

    // TPC-H Q19-shaped discounted revenue: the OR-of-ANDs predicate
    // (three brand × size × quantity envelopes) evaluated AFTER the
    // part broadcast join — one fact scan, one broadcast, predicate
    // fully codegen'd; never three unions of the fact table.
    QueryDef("q_discount_revenue", (s, dir) => {
      val part = ColOps.table(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val qc = expr("CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)")
      val hit =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          qc.between(100L, 1100L)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          qc.between(1000L, 2000L)) ||
        (col("p_brand") === "Brand#15" && col("p_size").between(1, 15) &&
          qc.between(2000L, 3000L))
      ColOps.table(s, dir, "lineitem")
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .filter(hit)
        .agg(sum(expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)"))
          .as("revenue_c"), count(lit(1)).as("n_items"))
    },
      """SELECT CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                              AS BIGINT)) AS BIGINT) AS revenue_c,
                COUNT(*) AS n_items
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey
         WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
                AND CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT) BETWEEN 100 AND 1100)
            OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
                AND CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT) BETWEEN 1000 AND 2000)
            OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 15
                AND CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT) BETWEEN 2000 AND 3000)"""),

    // TPC-H Q22-shaped idle customers: above-average-balance customers
    // who never ordered, rolled up per nation. The positive-balance
    // average attaches as a broadcast 1-row (Σ, n) pair and the
    // threshold cross-multiplies (bal·n > Σ — integer cents), so no
    // float average; the "gone idle" test is a LEFT ANTI join on the
    // key-only, date-pruned orders projection (the date filter pushes
    // to the scan BEFORE the anti side ships).
    QueryDef("q_idle_customers", (s, dir) => {
      val cust = ColOps.table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          expr("CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)").as("bal_c"))
      val avg = cust.filter(col("bal_c") > 0)
        .agg(sum(col("bal_c")).as("__sum"), count(lit(1)).as("__n"))
      val ordKeys = ColOps.table(s, dir, "orders")
        .filter(col("o_orderdate").cast("timestamp") >=
          lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(avg))
        .filter(col("bal_c") * col("__n") > col("__sum"))
        .join(ordKeys, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(ColOps.table(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"), sum(col("bal_c")).as("total_bal_c"))
    },
      """WITH bal AS (
           SELECT c_custkey, c_nationkey,
                  CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
           FROM customer),
         a AS (SELECT CAST(SUM(bal_c) AS BIGINT) AS s, COUNT(*) AS n
               FROM bal WHERE bal_c > 0)
         SELECT n.n_name, COUNT(*) AS n_cust,
                CAST(SUM(b.bal_c) AS BIGINT) AS total_bal_c
         FROM bal b, a
         JOIN nation n ON b.c_nationkey = n.n_nationkey
         WHERE b.bal_c * a.n > a.s
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = b.c_custkey
                             AND o.o_orderdate >= TIMESTAMP '2000-01-01')
         GROUP BY 1"""),

    // skew-salted join, oracle-checked: events joined to a per-user dim
    // through ColOps.saltedJoin — salting must be semantically invisible
    // (hot keys spread over `salt` tasks; the oracle is the plain join)
    QueryDef("q_salted_join", (s, dir) => {
      val ev = events(s, dir).select(col("seq"), col("user_id"))
      val dim = events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("user_cnt"))
      ColOps.saltedJoin(ev, dim, "user_id", 8)
        .select(col("seq"), col("user_id"), col("user_cnt"))
    },
      // expressed as the literal inner join (not a window count) so NULL
      // join keys drop on BOTH sides by construction — an inner equi-join
      // never matches NULL = NULL, while count(*) OVER (PARTITION BY
      // user_id) would group and keep NULL-keyed rows
      """SELECT e.event_id AS seq, e.user_id, d.user_cnt
         FROM events e
         JOIN (SELECT user_id, count(*) AS user_cnt
               FROM events GROUP BY user_id) d
           ON e.user_id = d.user_id"""),

    // CSV source — explicit schema (never inferSchema: that is a second
    // full read), header, and a filter that reaches the scan; the oracle
    // checks the round-trip against the originating table
    QueryDef("q_csv_source", (s, dir) =>
      s.read.option("header", "true")
        .schema("doc_id LONG, lang STRING, n_chars LONG")
        .csv(stagedCsv(s, dir).toString)
        .filter(col("n_chars") > 300)
        .select(col("doc_id").as("seq"), col("lang"), col("n_chars")),
      """SELECT doc_id AS seq, lang, n_chars::BIGINT AS n_chars
         FROM documents WHERE n_chars > 300"""),

    // JSONL source — the lingua franca of corpus interchange; explicit
    // schema (schema inference on JSON is a full extra pass), filter on a
    // string field, typed projection
    QueryDef("q_jsonl_source", (s, dir) =>
      s.read.schema("doc_id LONG, lang STRING, n_chars LONG")
        .json(stagedJsonl(s, dir).toString)
        .filter(col("lang") === "en")
        .select(col("doc_id").as("seq"), col("n_chars")),
      """SELECT doc_id AS seq, n_chars::BIGINT AS n_chars
         FROM documents WHERE lang = 'en'"""),

    // ORC source — the columnar alternate to parquet (warehouse
    // interchange); predicate + projection must push into the ORC scan
    // exactly as they do for parquet (pinned in PlanSpec)
    QueryDef("q_orc_source", (s, dir) =>
      s.read.orc(stagedOrc(s, dir).toString)
        .filter(col("lang") === "en" && col("n_chars") > 300)
        .select(col("doc_id").as("seq"), col("n_chars")),
      """SELECT doc_id AS seq, n_chars::BIGINT AS n_chars
         FROM documents WHERE lang = 'en' AND n_chars > 300"""),

    // partitioned parquet SINK + partition-pruned read-back: the corpus
    // layout shape (partitionBy the shard key so downstream per-language
    // jobs scan only their partition — the read-back filter must show up
    // as a PartitionFilter, not a data filter; asserted in PlanSpec)
    QueryDef("q_partitioned_write", (s, dir) => {
      val out = stagedPartitionedParquet(s, dir)
      s.read.parquet(out.toString)
        .filter(col("lang") === "fr")
        .select(col("doc_id").as("seq"), col("n_chars").cast("long").as("n_chars"))
    },
      """SELECT doc_id AS seq, n_chars::BIGINT AS n_chars
         FROM documents WHERE lang = 'fr'"""),

    // latest-wins merge (upsert + tombstone): base corpus at version 0,
    // every doc_id % 3 == 0 upserted at version 1 (text revised —
    // marker prefix, byte-stable across engines unlike e.g. upper()),
    // every upserted doc_id % 7 == 1 tombstoned INSTEAD — the winning
    // version decides survival. One shuffle, WindowGroupLimit top-1.
    QueryDef("q_upsert", (s, dir) => {
      val base = ColOps.table(s, dir, "documents")
        .select(col("doc_id"), col("text"), lit(0L).as("version"),
          lit(false).as("deleted"))
      val updates = ColOps.table(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), concat(lit("v1:"), col("text")).as("text"),
          lit(1L).as("version"), (col("doc_id") % 7 === 1).as("deleted"))
      ColOps.mergeLatest(base, updates, "doc_id", "version", Some("deleted"))
        .select(col("doc_id"), md5(col("text")).as("digest"), col("version"))
    },
      // latest-wins merge mirror: union + per-key top-1 by version, then
      // tombstone filter on the WINNING row
      """WITH all_rows AS (
           SELECT doc_id, text, 0 AS version, FALSE AS deleted FROM documents
           UNION ALL
           SELECT doc_id, 'v1:' || text AS text, 1 AS version,
                  doc_id % 7 = 1 AS deleted
           FROM documents WHERE doc_id % 3 = 0),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                           ORDER BY version DESC) AS rk FROM all_rows)
         SELECT doc_id, md5(text) AS digest, CAST(version AS BIGINT) AS version
         FROM r WHERE rk = 1 AND NOT deleted"""),

    // bucketed co-located join + same-key aggregation: both sides staged
    // bucketBy(8, custkey).sortBy once per JVM, then join AND groupBy run
    // with ZERO Exchange (PlanSpec asserts) — the write-once/join-daily
    // warehouse layout at 100 TB
    QueryDef("q_bucket_join", (s, dir) => {
      val cust = Bucketing.stagedBucketed(s, dir, "customer",
        ColOps.table(s, dir, "customer")
          .select(col("c_custkey").as("custkey"), col("c_mktsegment")),
        "custkey", 8)
      val ords = Bucketing.stagedBucketed(s, dir, "orders",
        ColOps.table(s, dir, "orders")
          .select(col("o_custkey").as("custkey"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("ocents")),
        "custkey", 8)
      Bucketing.bucketedJoin(cust, ords, "custkey")
        // group on the BUCKET key only (the segment is per-key constant,
        // carried via max): hash(custkey) is already satisfied by the
        // bucket layout, so the aggregation needs no exchange either
        .groupBy(col("custkey"))
        .agg(max(col("c_mktsegment")).as("c_mktsegment"),
          count(lit(1)).as("n_orders"), sum(col("ocents")).as("total_cents"))
    },
      """SELECT c.c_custkey AS custkey, MAX(c.c_mktsegment) AS c_mktsegment,
                COUNT(*) AS n_orders,
                CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
         FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
         GROUP BY 1"""),

    // k-anonymity audit: quasi-identifier groups with population < k —
    // the privacy gate before releasing a keyed extract
    QueryDef("q_k_anonymity", (s, dir) =>
      ColOps.kAnonymityAudit(ColOps.table(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), 8L)
        .orderBy(col("c_nationkey"), col("c_mktsegment")),
      """SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size
         FROM customer GROUP BY c_nationkey, c_mktsegment
         HAVING COUNT(*) < 8"""),

    // pre-join cardinality/skew audit of the click⋈purchase self-join on
    // user_id: per-side key counts + implied pair contribution, top-20 —
    // the dry run a 100-TB funnel join gets before cluster time is spent
    QueryDef("q_join_audit", (s, dir) => {
      val ev = ColOps.table(s, dir, "events")
      operators.Diagnostics.joinAudit(
        ev.filter(col("event_type") === "click"), "user_id",
        ev.filter(col("event_type") === "purchase"), "user_id", topK = 20)
    },
      operators.Diagnostics.joinAuditSql(
        "SELECT * FROM events WHERE event_type = 'click'", "user_id",
        "SELECT * FROM events WHERE event_type = 'purchase'", "user_id",
        topK = 20)),

    // would events hash-balance across 32 partitions on user_id? per-
    // bucket rows/bytes + ppm-of-even-share via the portable scatter
    // hash, so the oracle computes the identical assignment
    QueryDef("q_partition_skew", (s, dir) =>
      operators.Diagnostics.partitionSkew(ColOps.table(s, dir, "events"),
        col("user_id"), length(col("props")) + length(col("event_type")),
        buckets = 32),
      operators.Diagnostics.partitionSkewSql(
        "SELECT * FROM events", "user_id",
        "length(props) + length(event_type)", buckets = 32)),

    // right-to-be-forgotten dry run: purge counts for the delete set
    // (negative-balance customers) across customer/orders plus the
    // derived orderkey cascade into lineitem — broadcast flags, the fact
    // tables are never shuffled
    QueryDef("q_forget_users", (s, dir) => {
      val cust = ColOps.table(s, dir, "customer")
      val ord = ColOps.table(s, dir, "orders")
      val li = ColOps.table(s, dir, "lineitem")
      val delCust = cust.filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("key"))
      val delOrd = ord.join(broadcast(delCust),
          ord("o_custkey") === delCust("key"), "left_semi")
        .select(col("o_orderkey").as("key"))
      operators.Diagnostics.purgeAudit(
          Seq(("customer", cust, "c_custkey"), ("orders", ord, "o_custkey")),
          delCust)
        .unionByName(operators.Diagnostics.purgeAudit(
          Seq(("lineitem", li, "l_orderkey")), delOrd))
    },
      """WITH del AS (SELECT c_custkey AS key FROM customer WHERE c_acctbal < 0),
         delo AS (SELECT o_orderkey AS key FROM orders
                  WHERE o_custkey IN (SELECT key FROM del))
         SELECT 'customer' AS tbl,
           CAST(COUNT(*) FILTER (WHERE c_custkey IN (SELECT key FROM del)) AS BIGINT) AS purged,
           CAST(COUNT(*) FILTER (WHERE c_custkey NOT IN (SELECT key FROM del)) AS BIGINT) AS kept
         FROM customer
         UNION ALL
         SELECT 'orders' AS tbl,
           CAST(COUNT(*) FILTER (WHERE o_custkey IN (SELECT key FROM del)) AS BIGINT) AS purged,
           CAST(COUNT(*) FILTER (WHERE o_custkey NOT IN (SELECT key FROM del)) AS BIGINT) AS kept
         FROM orders
         UNION ALL
         SELECT 'lineitem' AS tbl,
           CAST(COUNT(*) FILTER (WHERE l_orderkey IN (SELECT key FROM delo)) AS BIGINT) AS purged,
           CAST(COUNT(*) FILTER (WHERE l_orderkey NOT IN (SELECT key FROM delo)) AS BIGINT) AS kept
         FROM lineitem"""),

    // Merkle-style replica checksum of lineitem: 64 buckets × (count,
    // Σdigest, Σdigest²) — two 100-TB replicas compare by exchanging 64
    // rows; a mismatch localizes to a bucket for finer descent. Doubles
    // are cent-fixed before digesting so the hash is engine-exact.
    QueryDef("q_table_checksum", (s, dir) =>
      operators.Diagnostics.tableChecksum(ColOps.table(s, dir, "lineitem"),
        col("l_orderkey") * 8 + col("l_linenumber"),
        Seq(col("l_orderkey"), col("l_linenumber"),
          floor(col("l_quantity") * 100 + 0.5),
          floor(col("l_extendedprice") * 100 + 0.5),
          floor(col("l_discount") * 100 + 0.5),
          ascii(col("l_returnflag")), ascii(col("l_linestatus"))),
        buckets = 64),
      operators.Diagnostics.tableChecksumSql(
        "SELECT * FROM lineitem", "l_orderkey * 8 + l_linenumber",
        Seq("l_orderkey", "l_linenumber",
          "FLOOR(l_quantity * 100 + 0.5)",
          "FLOOR(l_extendedprice * 100 + 0.5)",
          "FLOOR(l_discount * 100 + 0.5)",
          "ascii(l_returnflag)", "ascii(l_linestatus)"),
        buckets = 64)),
  )
}
