package graft

import org.apache.spark.sql.DataFrame
import graft.operators._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Plan-quality assertions (SURVEY.md §4, VERDICT round-1 item 6): the
  * registered queries must compile to scale-safe physical plans —
  * pushdown reaching the parquet scan, pruned read schemas, no global
  * windows, no full-payload TakeOrdered for prefix operators.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private object Adaptive extends AdaptiveSparkPlanHelper

  /** The file scans in `df`'s executed plan (adaptive stages and
    * subqueries included) over a layout whose path names `layout`: read
    * from the scan's root paths, not from the plan text, which cuts the
    * location at `spark.sql.maxMetadataStringLength` characters.
    */
  private def scansOf(df: DataFrame, layout: String): Seq[FileSourceScanExec] =
    Adaptive.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(layout)) => s
    }

  test("PlanDump: a .md target is one document, any other a file per query") {
    val names = Seq("q_filter", "q_scan")
    val md = graft.core.Scratch.fresh("plandump_md_").resolve("plans.md")
    PlanDump.write(spark, dir, md.toString, names)
    val doc = java.nio.file.Files.readString(md)
    assert("(?m)^## (q_\\w+)$".r.findAllMatchIn(doc).map(_.group(1)).toSeq == names, doc)
    doc.split("(?m)^## ").drop(1).foreach { section =>
      assert(section.contains("== Physical Plan =="), s"section without a physical plan:\n$section")
    }
    val out = graft.core.Scratch.fresh("plandump_dir_")
    PlanDump.write(spark, dir, out.toString, names)
    assert(out.toFile.list().toSeq.sorted == Seq("q_filter.txt", "q_scan.txt"))
    val e = intercept[IllegalArgumentException](PlanDump.write(spark, dir, out.toString, Seq("q_nope")))
    assert(e.getMessage.contains("q_nope"), e.getMessage)
  }

  test("PlanDump: two dumps of the same queries are identical text") {
    // q_zip_with plans lambdas, q_csv_source reads a staged scratch file,
    // and both rebuild with fresh expression and exchange ids
    val names = Seq("q_zip_with", "q_csv_source")
    def dump(): String = {
      val md = graft.core.Scratch.fresh("plandump_twice_").resolve("plans.md")
      PlanDump.write(spark, dir, md.toString, names)
      java.nio.file.Files.readString(md)
    }
    val (a, b) = (dump(), dump())
    val diff = a.linesIterator.zip(b.linesIterator).find { case (x, y) => x != y }
    assert(a == b, s"first differing lines: $diff")
    assert(!"#[0-9]".r.findFirstIn(a).isDefined && !a.contains("$$Lambda$"), a)
    val raw = "MapElements graft.core.Compose$$$Lambda$4662/0x00007f73a12f5268@68a1d32f, " +
      "obj#380: graft.core.Elem, [seq#12L, value#13], [plan_id=73], " +
      "Location: InMemoryFileIndex(1 paths)[file:/tmp/x/graft_1354546585930934467/pqcb_4_8_1236630..., " +
      "PartitionFilters"
    assert(PlanDump.normalize(raw) ==
      "MapElements graft.core.Compose$$$Lambda, obj#N: graft.core.Elem, [seq#N, value#N], " +
      "[plan_id=N], Location: InMemoryFileIndex(1 paths)[file:<scratch>/pqcb_..., " +
      "PartitionFilters")
    // where the cut falls moves with the root's digit count: mid-name,
    // or past the whole location; every form reads the same
    def cut(root: String, keep: Int) = {
      val full = s"[file:/tmp/x/$root/customer__root_testdata_sf0_001_d178f9eb]"
      (if (keep >= full.length) full else full.take(keep) + "...") + ", PartitionFilters"
    }
    for (root <- Seq("graft_135454658593093446", "graft_1354546585930934467");
         keep <- Seq(57, 58, 200))
      assert(PlanDump.normalize(cut(root, keep)) ==
        "[file:<scratch>/customer_..., PartitionFilters", cut(root, keep))
  }

  test("filter is pushed down to the parquet scan") {
    val df = SparkEntry.queries("q_filter")(spark, dir)
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(scan.contains("PushedFilters:") &&
      (scan.contains("GreaterThan(value,100") || scan.contains("IsNotNull(value")),
      s"no pushed filter in scan:\n$scan")
  }

  test("projection prunes the read schema to selected columns") {
    val df = SparkEntry.queries("q_source_list")(spark, dir)
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(scan.contains("ReadSchema") && scan.contains("event_id") &&
      !scan.contains("props"), s"read schema not pruned:\n$scan")
  }

  test("scan (running sum) avoids any global Window") {
    val df = SparkEntry.queries("q_scan")(spark, dir)
    assert(!plan(df).contains("Window"), "q_scan compiled to a window plan")
  }

  test("take's data path is a broadcast cut-filter, not CollectLimit over payload") {
    val df = SparkEntry.queries("q_take")(spark, dir)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"cut not broadcast:\n$p")
    // the only TakeOrdered is the narrow seq-column cut, never over value
    val takeOrderedLines = p.linesIterator.filter(_.contains("TakeOrderedAndProject")).toList
    assert(takeOrderedLines.forall(l => !l.contains("value")),
      s"TakeOrderedAndProject carries payload:\n$takeOrderedLines")
  }

  test("brute-force topk broadcasts the query side and partitions the ranking window") {
    val df = SparkEntry.queries("q_embed_topk")(spark, dir)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin"), s"query side not broadcast:\n$p")
    assert(p.contains("windowspecdefinition(q_id"), s"ranking window not partitioned:\n$p")
  }

  test("minhash candidate join is an equi-join on the bucket, no cartesian") {
    val df = Dedup.candidatePairs(
      Dedup.minhashSignatures(ColOps.table(spark, dir, "documents"), "doc_id", "text"))
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in candidate join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"no equi-join on bucket:\n$p")
  }

  test("LSH near-dup join is bucket-keyed, no cartesian") {
    val df = Similarity.cosineNearDupPairs(Similarity.embeddings(spark, dir), 0.8)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in LSH join:\n$p")
  }

  test("corpus-build-near splice: the candidate stage is the banded-bucket shuffle, no cartesian") {
    // the near stage the curated flagship splices in: keepBest's pair
    // generation over the canon set — the only NEW exchange the splice
    // may add is the banded bucket-equi-join (checkpoints downstream
    // truncate the flagship's own visible plan, so pin the stage)
    val canon = ColOps.table(spark, dir, "documents").select(col("doc_id"), col("text"))
    val pairs = Dedup.candidatePairs(
      Dedup.minhashSignatures(canon, "doc_id", "text"))
    val p = plan(pairs)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"near splice candidate stage plans a product join:\n$p")
    assert(p.linesIterator.exists(l => l.contains("Exchange hashpartitioning(bucket")),
      s"candidate join not keyed on the band bucket:\n$p")
  }

  test("as-of join is ONE keyed exchange + window, never a range cross-product") {
    val df = SparkEntry.queries("q_asof_join")(spark, dir)
    df.count() // finalize the AQE plan before inspecting it
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of compiled to a product join:\n$p")
    assert(p.contains("windowspecdefinition(user_id"),
      s"as-of window not keyed by user_id:\n$p")
    // exactly one exchange on the key (above the union, shared by both
    // sides) — a second one means the union sides stopped sharing it
    val keyExchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(user_id")).toList
    assert(keyExchanges.size == 1,
      s"expected exactly 1 keyed exchange for as-of, got ${keyExchanges.size}:\n$keyExchanges")
  }

  test("KMV sketch top-k is a partial TakeOrdered on the narrow hash, no global sort") {
    val df = SparkEntry.queries("q_kmv_sketch")(spark, dir)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), s"no partial top-k:\n$p")
    // a global Sort would need a range-partitioning exchange below it —
    // assert that shape is absent (Spark prints global sorts as
    // 'Sort [...], true, 0', never the literal 'global=true')
    assert(!p.contains("Exchange rangepartitioning"),
      s"range exchange (global sort) in sketch plan:\n$p")
  }

  test("banded LSH topk: candidate generation is bucket-equi-joined and deduped before scoring") {
    val df = SparkEntry.queries("q_embed_lsh")(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in banded LSH:\n$p")
    assert(p.contains("HashAggregate"), s"no dedup aggregate before scoring:\n$p")
  }

  test("bucketed tables co-locate the join: no exchange on the join path") {
    import spark.implicits._
    val l = (0L until 1000L).map(i => (i % 50, i)).toDF("k", "lv")
    val r = (0L until 500L).map(i => (i % 50, i * 2)).toDF("k", "rv")
    spark.sql("DROP TABLE IF EXISTS bkt_l")
    spark.sql("DROP TABLE IF EXISTS bkt_r")
    l.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bkt_l")
    r.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bkt_r")
    try {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val j = spark.table("bkt_l").join(spark.table("bkt_r"), "k")
        assert(j.count() == l.join(r, "k").count()) // semantics unchanged
        val p = j.queryExecution.executedPlan.toString
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"not a shuffle-family join:\n$p")
        // the whole point of bucketing: both sides arrive pre-partitioned
        assert(!p.contains("Exchange hashpartitioning"),
          s"bucketed join still exchanges:\n$p")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_l")
      spark.sql("DROP TABLE IF EXISTS bkt_r")
    }
  }

  test("q_bucket_join: staged bucket layout carries join AND aggregation with zero exchange") {
    val df = SparkEntry.queries("q_bucket_join")(spark, dir)
    df.collect() // materialize through AQE so the executed plan is final
    val p = plan(df)
    assert(p.contains("SortMergeJoin"), s"not a sort-merge join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join/agg still exchanges:\n$p")
  }

  test("greedy packing shuffles three long columns, never document text") {
    val df = SparkEntry.queries("q_pack_greedy")(spark, dir)
    val p = plan(df)
    // token counts are computed BELOW the lowest exchange; text may only
    // appear in the bottom-most segment (only 3 longs cross ANY wire) —
    // checking every segment, not just above the first exchange, so a
    // regression adding a lower text-carrying exchange cannot hide
    val segments = p.split("Exchange hashpartitioning")
    assert(segments.length >= 2, s"no group exchange:\n$p")
    segments.init.foreach { seg =>
      assert(!seg.contains("text#"), s"document text crosses a shuffle:\n$p")
    }
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("ReadSchema") && !scan.contains("lang"),
      s"scan not pruned to (doc_id, text):\n$scan")
  }

  test("concat-split packing runs on the RowExec prefix-sum, no global window/sort") {
    val df = SparkEntry.queries("q_pack_seqs")(spark, dir)
    val p = plan(df)
    assert(!p.contains("Window") && !p.contains("Sort "),
      s"q_pack_seqs fell back to a global window/sort plan:\n$p")
  }

  test("vocab summary broadcasts the 1-row total and partially aggregates the wordcount") {
    val df = SparkEntry.queries("q_vocab")(spark, dir)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"total not broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"no map-side partial aggregation:\n$p")
  }

  test("q_embed_standardize: stats attach is a broadcast, moments partially combined, scans pruned") {
    val df = SparkEntry.queries("q_embed_standardize")(spark, dir)
    val p = plan(df)
    // the 1-row packed stats attach must broadcast, never CartesianProduct
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"stats row not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian stats attach:\n$p")
    // the d-key moment aggregate must combine map-side
    assert(p.contains("partial_sum"), s"no map-side partial moments:\n$p")
    // the stats-side scan reads ONLY the embedding column — require a
    // FileScan line whose ReadSchema starts at embedding and carries no
    // vec_id (the apply-side scan reads [vec_id, embedding] and would
    // trivially satisfy a mere contains("embedding") check; under AQE
    // collectLeaves() folds the whole plan into one node, so the check
    // must be per-FileScan-line, not per-leaf)
    val scanLines = df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("FileScan")).toList
    assert(scanLines.exists(s => s.contains("ReadSchema: struct<embedding") &&
      !s.contains("vec_id")),
      s"stats scan not pruned to embedding-only:\n${scanLines.mkString("\n")}")
  }

  test("q_embed_ivf_persist: index scan is partition-pruned to the probed cells") {
    val df = SparkEntry.queries("q_embed_ivf_persist")(spark, dir)
    val p = plan(df)
    // the persisted inverted file's scan must carry a DYNAMIC partition
    // filter on cell (directory elimination driven by the broadcast
    // probe set) — a plain unpruned scan would read all nCells
    // partitions, i.e. the whole collection, defeating the index
    val idxScan = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("PartitionFilters"))
      .toList
    assert(idxScan.nonEmpty, s"no partitioned scan in plan:\n$p")
    assert(idxScan.exists(_.contains("dynamicpruning")),
      s"index scan not dynamically pruned to probe cells:\n${idxScan.mkString("\n")}")
  }

  test("q_media_dispatch: try-decode routing is exchange-free map work") {
    val df = SparkEntry.queries("q_media_dispatch")(spark, dir)
    val p = plan(df)
    assert(!p.contains("Exchange"),
      s"dispatch should be pure per-row decode + union, found a shuffle:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"dispatch should not join:\n$p")
  }

  test("q_warc_extract: the whole crawl front door is exchange-free map work") {
    val df = SparkEntry.queries("q_warc_extract")(spark, dir)
    val p = plan(df)
    // gunzip → record framing → explode → HTTP strip → extraction must
    // all fuse into per-row work over the binaryFile scan: any shuffle
    // here would move the RAW archive bytes at 100 TB
    assert(!p.contains("Exchange"),
      s"crawl front door should be a map-only pass, found a shuffle:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"crawl front door should not join:\n$p")
    assert(p.contains("Generate"), s"expected the record explode:\n$p")
  }

  test("q_wet_extract / q_wat_meta / q_cdx_index: the archive siblings are exchange-free map work") {
    for (q <- Seq("q_wet_extract", "q_wat_meta", "q_cdx_index")) {
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert(!p.contains("Exchange"),
        s"$q should be a map-only pass, found a shuffle:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("Join"),
        s"$q should not join:\n$p")
      assert(p.contains("Generate"), s"expected the record explode in $q:\n$p")
    }
  }

  test("q_html_entities: the reference decode is ONE exchange-free map pass") {
    val p = plan(SparkEntry.queries("q_html_entities")(spark, dir))
    assert(!p.contains("Exchange"),
      s"entity decode should be map-only, found a shuffle:\n$p")
    assert(!p.contains("Join"), s"entity decode should not join:\n$p")
    assert(p.contains("html_entity_decode"),
      s"expected the codegen decode expression in the plan:\n$p")
  }

  test("q_charset_decode / q_pdf_extract / q_pdf_cjk: the front-door tiers are exchange-free map work") {
    for (q <- Seq("q_charset_decode", "q_pdf_extract", "q_pdf_cjk")) {
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert(!p.contains("Exchange"),
        s"$q should be a map-only pass, found a shuffle:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("Join"),
        s"$q should not join:\n$p")
      assert(p.contains("Generate"), s"expected the record explode in $q:\n$p")
    }
  }

  test("q_warc_revisit: digest resolution is ONE equi-join, no cartesian, no global sort") {
    val p = plan(SparkEntry.queries("q_warc_revisit")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"revisit resolution must be a key join:\n$p")
    assert(p.contains("Join") || p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected the digest equi-join:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no global sort on the resolution path:\n$p")
  }

  test("q_sitemap_index: the index side broadcasts; leaf bytes never shuffle") {
    val p = plan(SparkEntry.queries("q_sitemap_index")(spark, dir))
    // the leaf↔reference fetch join must BROADCAST the (metadata-sized)
    // reference side — a shuffled join would move the leaf payloads
    assert(p.contains("BroadcastHashJoin"),
      s"expected the index-reference broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"leaf payloads must not ride a shuffled join:\n$p")
    // remaining exchanges carry only extracted keys (ref names, the
    // per-site canonical aggregate) — never the gzipped leaf bytes
    assert(!p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning") && l.contains("content#")),
      s"an exchange is partitioning the leaf bytes:\n$p")
  }

  test("q_chunk_tokens: token-offset window is PARTITIONED by doc, no global sort") {
    val df = SparkEntry.queries("q_chunk_tokens")(spark, dir)
    val p = plan(df)
    assert(p.contains("windowspecdefinition(doc_id"),
      s"token window not partitioned by doc:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"global sort in the chunking plan:\n$p")
  }

  test("q_dedup_rates: the document payload is scanned ONCE (second scan id+source only)") {
    val df = SparkEntry.queries("q_dedup_rates")(spark, dir)
    val scans = plan(df).linesIterator.filter(_.contains("FileScan")).toList
    assert(scans.count(_.contains("text")) == 1,
      s"payload read more than once:\n${scans.mkString("\n")}")
    assert(scans.exists(s => !s.contains("text") && s.contains("source")),
      s"id+source side not pruned of the payload:\n${scans.mkString("\n")}")
  }

  test("stratified sample ranks in a PARTITIONED window, no global sort") {
    val df = SparkEntry.queries("q_sample_strat")(spark, dir)
    val p = plan(df)
    assert(p.contains("windowspecdefinition(lang"),
      s"sample window not partitioned by the stratum:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"global sort in the sampling plan:\n$p")
  }

  test("corpus interleave adds no exchange beyond the dense ranking") {
    val df = SparkEntry.queries("q_corpus_mix")(spark, dir)
    val p = plan(df)
    // the schedule arithmetic itself must be exchange-free: the only
    // exchanges allowed are the two range-partitionings inside the
    // dense-seq ranking of the sides
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"non-ranking exchange in interleave plan:\n$exchanges")
    assert(p.contains("Union"), s"interleave lost its union shape:\n$p")
  }

  test("repetition stats aggregate with map-side partials, no per-doc loop") {
    val df = SparkEntry.queries("q_repetition")(spark, dir)
    val p = plan(df)
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"repetition plan degenerated:\n$p")
  }

  test("CSV/JSONL sources prune and push down") {
    val csv = SparkEntry.queries("q_csv_source")(spark, dir)
    val csvScan = csv.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    // the SPECIFIC filter must appear in the pushed list — a bare
    // "PushedFilters" check is vacuous (printed even when empty)
    assert(csvScan.contains("GreaterThan(n_chars"),
      s"CSV filter not pushed:\n$csvScan")
    val jsonl = SparkEntry.queries("q_jsonl_source")(spark, dir)
    val jScan = jsonl.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(jScan.contains("ReadSchema") && !jScan.contains("text"),
      s"JSONL read schema not pruned:\n$jScan")
  }

  test("warehouse joins: dims broadcast, fact-fact join shuffles on the key, no cartesian") {
    Seq("q_ship_priority", "q_region_revenue").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$q dim join is not broadcast:\n$p")
      // at sf0.001 Catalyst rightly auto-broadcasts the filtered fact
      // side too; the AT-SCALE shape is what must be pinned — with
      // auto-broadcast off, the explicit broadcast() dims must STILL
      // broadcast while the fact-fact join degrades to a
      // key-partitioned join (sort-merge / shuffled-hash), proving no
      // fact side depends on fitting in memory
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val pb = plan(SparkEntry.queries(q)(spark, dir))
        assert(pb.contains("BroadcastHashJoin"),
          s"$q explicit dim broadcast lost without auto-broadcast:\n$pb")
        assert(pb.contains("SortMergeJoin") || pb.contains("ShuffledHashJoin"),
          s"$q fact-fact join must key-partition when not broadcastable:\n$pb")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("composed pipeline: no cartesian, only the prefix-sum's range exchange") {
    val p = plan(SparkEntry.queries("q_pipeline")(spark, dir))
    assert(!p.contains("CartesianProduct"), s"pipeline plans a cartesian:\n$p")
    // the only range-partitioning exchange allowed is the packing
    // stage's distributed prefix sum (runningSumLong); a second one
    // means some stage regressed to a global sort. (Spark prints global
    // sorts as 'Sort [...], true, 0', never 'global=true' — counting
    // range exchanges is the reliable pin, per the KMV test above.)
    val rangeExchanges = "Exchange rangepartitioning".r.findAllIn(p).length
    assert(rangeExchanges <= 1,
      s"$rangeExchanges range exchanges — a stage regressed to a global sort:\n$p")
  }

  test("ORC source pushes the predicate and prunes the read schema") {
    val df = SparkEntry.queries("q_orc_source")(spark, dir)
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("GreaterThan(n_chars"),
      s"ORC filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema") && !scan.contains("text"),
      s"ORC read schema not pruned:\n$scan")
  }

  test("upsert merge plans a WindowGroupLimit top-1, one exchange, no global sort") {
    val p = plan(SparkEntry.queries("q_upsert")(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      s"latest-wins top-1 did not plan as WindowGroupLimit:\n$p")
    // global sort = range-partitioning exchange (see KMV test comment)
    assert(!p.contains("Exchange rangepartitioning"),
      s"upsert must not globally sort:\n$p")
  }

  test("partitioned write read-back prunes by PARTITION filter, not data filter") {
    val df = SparkEntry.queries("q_partitioned_write")(spark, dir)
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    // attribute rendering carries expression ids (lang#12 = fr)
    val pruned = "(?s).*PartitionFilters: \\[[^\\]]*lang#\\d+ = fr[^\\]]*\\].*"
    assert(scan.matches(pruned),
      s"lang filter did not become a partition filter:\n$scan")
  }

  test("top-terms rank is a WindowGroupLimit (partial top-k), no cartesian in relevance plans") {
    val top = plan(SparkEntry.queries("q_top_terms")(spark, dir))
    assert(top.contains("WindowGroupLimit"),
      s"rank<=k did not plan as WindowGroupLimit:\n$top")
    Seq("q_tfidf", "q_bm25", "q_top_terms").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      // corpus-level stats ride a broadcast, not a shuffle
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        s"$q stats join is not broadcast:\n$p")
    }
    // with auto-broadcast OFF, the explicit broadcast() hints must still
    // carry every 1-row stats attach as BroadcastNestedLoopJoin — an
    // unhinted statless aggregate would degrade to CartesianProduct here
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pb = plan(SparkEntry.queries("q_bm25")(spark, dir))
      assert(!pb.contains("CartesianProduct"),
        s"bm25 stats attach degrades to cartesian without auto-broadcast:\n$pb")
      assert(pb.contains("BroadcastNestedLoopJoin"),
        s"bm25 stats attach is not a broadcast nested loop:\n$pb")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_bigrams: top-k is TakeOrderedAndProject over a partial-combined count, no global sort") {
    val p = plan(SparkEntry.queries("q_bigrams")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject:\n$p")
    assert(p.contains("partial_count"), s"no map-side partial aggregation:\n$p")
    // a Sort node would mean the k-cut fell back to a global sort
    assert(!p.linesIterator.exists(l => l.trim.startsWith("+- Sort") || l.trim.startsWith(":- Sort")),
      s"q_bigrams plans a global sort:\n$p")
  }

  test("q_shuffle_order: distributed ordinal ranking, never a single-partition global window") {
    val df = SparkEntry.queries("q_shuffle_order")(spark, dir)
    assert(!plan(df).contains("Window"), "shuffleOrder compiled to a window plan")
    // parallelism preserved through the ranking
    assert(df.rdd.getNumPartitions > 1,
      s"shuffleOrder collapsed to ${df.rdd.getNumPartitions} partition(s)")
  }

  test("q_contamination: Bloom prefilter sits BELOW the broadcast semi-join") {
    val p = plan(SparkEntry.queries("q_contamination")(spark, dir))
    val lines = p.linesIterator.toList
    val joinIdx = lines.indexWhere(l => l.contains("BroadcastHashJoin") && l.contains("LeftSemi"))
    assert(joinIdx >= 0, s"no broadcast semi-join:\n$p")
    // the literal-bitset membership test (element_at over the packed
    // slots) must appear in a Filter deeper in the tree than the join
    val filterIdx = lines.indexWhere(l => l.contains("Filter") && l.contains("element_at"))
    assert(filterIdx > joinIdx, s"bloom filter not below the join:\n$p")
  }

  test("q_contamination_spans: bench side broadcasts, Bloom prefilter below the join, window only above the match") {
    val p = plan(SparkEntry.queries("q_contamination_spans")(spark, dir))
    val lines = p.linesIterator.toList
    // the positioned-shingle match joins against a BROADCAST bench side
    // (eval suites are driver-sized by contract — no corpus shuffle)
    val joinIdx = lines.indexWhere(l => l.contains("BroadcastHashJoin"))
    assert(joinIdx >= 0, s"no broadcast join:\n$p")
    // the literal-bitset Bloom test runs in a Filter BELOW the join, so
    // non-candidate corpus positions never reach the probe
    val filterIdx = lines.indexWhere(l => l.contains("Filter") && l.contains("element_at"))
    assert(filterIdx > joinIdx, s"bloom filter not below the join:\n$p")
    // the gaps-and-islands window sits ABOVE the join: it runs over
    // matched positions only, never over the corpus
    val windowIdx = lines.indexWhere(l => l.contains("Window") || l.contains("row_number"))
    assert(windowIdx >= 0 && windowIdx < joinIdx, s"window not above the match join:\n$p")
    assert(!p.contains("CartesianProduct"), s"span extension plans a cartesian:\n$p")
  }

  test("q_embed_pq_persist: codes scan reads integer rows only (no emb floats); staged codebook broadcasts") {
    val df = SparkEntry.queries("q_embed_pq_persist")(spark, dir)
    val p = plan(df)
    // the ADC scan over the persisted codes layout must be
    // column-pruned to the integer code rows — reading the emb floats
    // there would forfeit the 98.5 % byte saving the PQ index exists for
    val codesScans = scansOf(df, "pqcodes")
    assert(codesScans.nonEmpty, s"no staged-codes scan in:\n$p")
    codesScans.foreach(s => assert(!s.requiredSchema.fieldNames.exists(_.contains("emb")),
      s"codes scan reads emb floats:\n${s.requiredSchema.simpleString}"))
    // the staged codebook feeds the query-side distance table through a
    // broadcast, and nothing in the serve plans a cartesian
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    assert(!p.contains("CartesianProduct"), s"persisted PQ serve plans a cartesian:\n$p")
  }

  test("PlanDump.normalize: a two-distinct Expand reads the same in either group order") {
    // count(distinct source), count(distinct md5(text)) per lang, as
    // Spark's distinct-aggregate rewrite plans it with either column's
    // group numbered 1 (it picks between JVMs)
    val source = ("source#3", "source#7")
    val md5 = ("md5(cast(text#4 as binary))", "md5(CAST(text AS BINARY))#8")
    def dump(first: (String, String), second: (String, String)): String = {
      def gid(c: (String, String)) = if (c == first) 1 else 2
      s"""HashAggregate(keys=[lang#1], functions=[count(1), count(source#7) FILTER (WHERE (gid#9 = ${gid(source)})), count(md5(CAST(text AS BINARY))#8) FILTER (WHERE (gid#9 = ${gid(md5)}))])
         |+- HashAggregate(keys=[lang#1, ${first._2}, ${second._2}, gid#9], functions=[count(1)])
         |   +- Expand [[lang#1, null, null, 0, n#2], [lang#1, ${first._1}, null, 1, null], [lang#1, null, ${second._1}, 2, null]], [lang#1, ${first._2}, ${second._2}, gid#9, n#2]
         |""".stripMargin
    }
    val (one, other) = (dump(source, md5), dump(md5, source))
    assert(one != other)
    assert(PlanDump.normalize(one) == PlanDump.normalize(other))
    // canonical: groups ordered by their columns' text, md5(...) first
    assert(PlanDump.normalize(one) == other.replaceAll("#[0-9]+", "#N"))
  }

  test("PlanDump.normalize: lambda variables lose the JVM-wide counter in their names") {
    def dump(n: Int) = s"filter(split(text#7, , -1), lambdafunction(NOT (lambda x_$n#8 = ), lambda x_$n#8, false))"
    assert(PlanDump.normalize(dump(90)) == PlanDump.normalize(dump(96)))
    assert(PlanDump.normalize(dump(90)).contains("lambda x_N#N"))
  }

  test("q_pack_ids: the virtual-stream offsets come from the distributed prefix sum, never a global window") {
    val p = plan(SparkEntry.queries("q_pack_ids")(spark, dir))
    // the ordinal prefix-sum machinery materializes upstream of an
    // ExistingRDD scan, so the pack plan contains NO Window node and no
    // single-partition exchange at all — a regression to the
    // global-window formulation would surface as exactly those two
    assert(!p.contains("Window"), s"pack offsets use a window:\n$p")
    assert(!p.contains("SinglePartition"),
      s"pack plan collapses to a single partition:\n$p")
    assert(!p.contains("CartesianProduct"), s"packing plans a cartesian:\n$p")
  }

  test("q_corpus_build: the composed chain plans no cartesian end-to-end") {
    val p = plan(SparkEntry.queries("q_corpus_build")(spark, dir))
    assert(!p.contains("CartesianProduct"), s"corpus build plans a cartesian:\n$p")
  }

  test("q_embed_ivfpq_persist: index scan is DPP-pruned to probed cells and reads codes, never vectors") {
    val df = SparkEntry.queries("q_embed_ivfpq_persist")(spark, dir)
    val p = plan(df)
    // dynamic partition pruning on the cell directories: only
    // nprobe/ncells of the posting lists are opened
    assert(p.contains("dynamicpruning"), s"no DPP on the ivfpq index scan:\n$p")
    val idxScans = scansOf(df, "ivfpq")
    assert(idxScans.nonEmpty, s"no staged ivfpq scan in:\n$p")
    idxScans.foreach(s => assert(!s.requiredSchema.fieldNames.exists(_.contains("emb")),
      s"ivfpq index scan reads vectors:\n${s.requiredSchema.simpleString}"))
    assert(!p.contains("CartesianProduct"), s"ivfpq serve plans a cartesian:\n$p")
  }

  test("q_dedup_incr_near: candidate generation is a bucket equi-join, never cartesian") {
    val p = plan(SparkEntry.queries("q_dedup_incr_near")(spark, dir))
    assert(!p.contains("CartesianProduct"), s"incremental near-dup plans a cartesian:\n$p")
    assert(p.contains("bucket"), s"no bucket-keyed join in:\n$p")
  }

  test("q_lm_score: count-table joins are key-equi (broadcast at this size), 1-row vocab attach is the only nested-loop") {
    val p = plan(SparkEntry.queries("q_lm_score")(spark, dir))
    assert(!p.contains("CartesianProduct"), s"LM scoring plans a cartesian:\n$p")
    // the scalar vocab-size attach may compile to a 1-row broadcast
    // nested loop; anything beyond that count means a real cross-product
    val bnl = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl <= 1, s"unexpected nested-loop joins ($bnl):\n$p")
    // model tables join on their word keys
    assert(p.contains("BroadcastHashJoin [w1") || p.contains("SortMergeJoin [w1") ||
      p.contains("ShuffledHashJoin [w1"), s"no keyed count-table join:\n$p")
  }

  test("q_embed_pq_topk: codebook and query distance table are BROADCAST; top-k is WindowGroupLimit") {
    val p = plan(SparkEntry.queries("q_embed_pq_topk")(spark, dir))
    assert(!p.contains("CartesianProduct"), s"PQ ADC plans a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"PQ ADC plans a nested loop:\n$p")
    assert(p.contains("BroadcastExchange"), s"codebook/dtab not broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"ranking lacks partial top-k pruning:\n$p")
  }

  test("q_order_priority: EXISTS plans as a LEFT SEMI join, no dedup shuffle") {
    val p = plan(SparkEntry.queries("q_order_priority")(spark, dir))
    assert(p.contains("LeftSemi"), s"EXISTS did not plan as a semi join:\n$p")
    // semi join subsumes the dedup — an Aggregate on the lineitem side
    // before the join would mean the EXISTS was rewritten as
    // join+distinct (the shape the scaladoc forbids)
    assert(!p.contains("CartesianProduct"), s"semi join degenerated:\n$p")
  }

  test("q_cold_parts: NOT EXISTS plans as a LEFT ANTI join on the pruned key") {
    val df = SparkEntry.queries("q_cold_parts")(spark, dir)
    val p = plan(df)
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not plan as an anti join:\n$p")
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    // the lineitem probe side must read only the join key + filter column
    assert(!scan.contains("l_extendedprice"),
      s"anti-join probe side reads payload columns:\n$scan")
  }

  test("q_top_customers: global top-20 is TakeOrderedAndProject, never a global sort") {
    val p = plan(SparkEntry.queries("q_top_customers")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 did not plan as partial top-k:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"nation dim not broadcast:\n$p")
  }

  test("q_source_cap: per-source cap is WindowGroupLimit (partial top-k before the exchange)") {
    val p = plan(SparkEntry.queries("q_source_cap")(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k did not plan as WindowGroupLimit:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("GlobalLimit"),
      s"unexpected global operator in cap plan:\n$p")
  }

  test("q_snapshot_diff: version reconciliation is a keyed FULL OUTER sort-merge over digests") {
    val df = SparkEntry.queries("q_snapshot_diff")(spark, dir)
    val p = plan(df)
    assert(p.contains("FullOuter"), s"diff did not plan as a full outer join:\n$p")
    assert(p.contains("SortMergeJoin"),
      s"full outer must sort-merge (it cannot broadcast):\n$p")
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    // digests cross the shuffle; text is read (for md5) but only doc_id +
    // text — no other payload columns
    assert(!scan.contains("lang") && !scan.contains("source"),
      s"diff reads payload columns it never uses:\n$scan")
  }

  test("q_throttle: admission rank is WindowGroupLimit on (user, bucket)") {
    val p = plan(SparkEntry.queries("q_throttle")(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k did not plan as WindowGroupLimit:\n$p")
  }

  test("q_transitions: the lag window is PARTITIONED by user, never global") {
    val p = plan(SparkEntry.queries("q_transitions")(spark, dir))
    assert(p.contains("windowspecdefinition(user_id"),
      s"transition lag is not partitioned by user:\n$p")
  }

  test("ordered ops keep the configured parallelism (partition count)") {
    val parts = spark.sessionState.conf.numShufflePartitions
    val ev = ColOps.withSeq(ColOps.table(spark, dir, "events"), col("event_id"))
      .select(col("seq"), col("value"))
    val scanned = RowExec.runningSumLong(ev, col("value"), "rs")
    assert(scanned.rdd.getNumPartitions == parts,
      s"running sum collapsed to ${scanned.rdd.getNumPartitions} partitions")
    val paired = RowExec.pairsDf(ev, Seq("value"))
    assert(paired.rdd.getNumPartitions == parts,
      s"pairs collapsed to ${paired.rdd.getNumPartitions} partitions")
  }

  test("q_forecast_revenue: all predicates push to the scan; single 1-row aggregate exchange") {
    val df = SparkEntry.queries("q_forecast_revenue")(spark, dir)
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(scan.contains("PushedFilters:") && scan.contains("l_shipdate"),
      s"date band not pushed:\n$scan")
    val p = plan(df)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "Q6 must be a pure scan+aggregate")
    assert(p.linesIterator.count(_.contains("Exchange")) == 1,
      s"more than the final 1-row exchange:\n$p")
  }

  test("q_blocklist: pure per-row predicate — zero exchanges, zero joins") {
    val p = plan(SparkEntry.queries("q_blocklist")(spark, dir))
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"blocklist gate must not shuffle or join:\n$p")
  }

  test("q_weighted_sample: top-k is TakeOrderedAndProject, zero shuffles") {
    val p = plan(SparkEntry.queries("q_weighted_sample")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"no partial top-k:\n$p")
    assert(!p.contains("Exchange"), s"weighted sample must not shuffle:\n$p")
  }

  test("warehouse Q7/Q8: dims broadcast; the only sort-merge join is lineitem-orders") {
    Seq("q_volume_shipping", "q_market_share").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$q dims not broadcast:\n$p")
      assert(p.linesIterator.count(_.contains("SortMergeJoin")) <= 1,
        s"$q has more than the one fact-fact SMJ:\n$p")
    }
  }

  test("q_idle_customers: anti join on the date-pruned key; threshold attach is the only nested-loop") {
    val df = SparkEntry.queries("q_idle_customers")(spark, dir)
    val p = plan(df)
    assert(p.contains("LeftAnti"), s"no anti join:\n$p")
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(scan.contains("o_orderdate"), s"order-date filter not pushed:\n$scan")
    // the 1-row (Σ, n) attach is the only nested-loop element
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1, p)
  }

  test("q_hard_negatives / q_knn_classify: query batch broadcast; rank cut is WindowGroupLimit") {
    Seq("q_hard_negatives", "q_knn_classify").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert(p.contains("BroadcastNestedLoopJoin"), s"$q query side not broadcast:\n$p")
      assert(p.contains("WindowGroupLimit"), s"$q rank not group-limited:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
    }
  }

  test("q_pagerank: per-iteration plan is edge-join + dst aggregate, no sort, no cartesian") {
    val p = plan(SparkEntry.queries("q_pagerank")(spark, dir))
    assert(!p.contains("CartesianProduct"), s"pagerank cartesian:\n$p")
    assert(!p.contains("rangepartitioning"), s"pagerank global sort:\n$p")
    // edge table is checkpointed once and the rank seed reads it too:
    // NOTHING downstream of the checkpoint re-derives from the source
    assert(p.contains("Scan ExistingRDD"), s"edge checkpoint missing:\n$p")
    assert(!p.contains("FileScan"), s"iteration re-scans the source:\n$p")
  }

  test("q_join_audit: sides collapse to count tables before the join; top-K never global-sorts") {
    val df = SparkEntry.queries("q_join_audit")(spark, dir)
    val p = df.queryExecution.sparkPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"top-K is not TakeOrdered:\n$p")
    // aggregation (partial+final per side) sits BELOW the join
    val joinIdx = p.indexOf("Join")
    assert(joinIdx > 0 && p.indexOf("HashAggregate", joinIdx) > 0,
      s"count tables not below the join:\n$p")
  }

  test("q_bloom_prune: membership test sits in the scan stage BELOW the semi-join") {
    val df = SparkEntry.queries("q_bloom_prune")(spark, dir)
    val p = df.queryExecution.sparkPlan.toString
    val joinIdx = p.indexOf("Join")
    assert(joinIdx > 0, s"no join in plan:\n$p")
    // the Bloom word lookup (element_at on the plan-literal array) must
    // appear below the join — i.e. AFTER the join node in the tree dump —
    // so non-candidate fact rows die inside the scan's codegen stage
    val bloomIdx = p.indexOf("element_at", joinIdx)
    assert(bloomIdx > 0, s"bloom prune not below the join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("q_partition_skew / q_forget_users: one data scan each side, totals attached by broadcast") {
    val skew = plan(SparkEntry.queries("q_partition_skew")(spark, dir))
    assert(skew.contains("BroadcastNestedLoopJoin") || skew.contains("BroadcastExchange"),
      s"skew totals not broadcast:\n$skew")
    assert(!skew.contains("CartesianProduct"), s"skew cartesian:\n$skew")
    val forget = plan(SparkEntry.queries("q_forget_users")(spark, dir))
    assert(forget.contains("BroadcastHashJoin"), s"purge flags not broadcast:\n$forget")
    assert(!forget.contains("SortMergeJoin"),
      s"purge audit shuffles a fact table:\n$forget")
  }

  test("q_lag_features: window partitioned by user over a pruned scan; no global sort") {
    val df = SparkEntry.queries("q_lag_features")(spark, dir)
    val p = plan(df)
    assert(p.contains("hashpartitioning(user_id"), s"window not user-keyed:\n$p")
    assert(!p.contains("rangepartitioning"), s"global sort:\n$p")
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(!scan.contains("props"), s"read schema not pruned of props:\n$scan")
  }

  test("unicode quality/langid are exchange-free map work; unicode vocab broadcasts its 1-row total") {
    // the Unicode battery must stay a map-only pass like the ASCII one —
    // tokensU/regexp work is per-row, no join, no shuffle
    Seq("q_quality_unicode", "q_lang_id_unicode").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert(!p.contains("Exchange"), s"$q should be map-only, found a shuffle:\n$p")
      assert(!p.contains("Join"), s"$q should not join:\n$p")
    }
    val pv = plan(SparkEntry.queries("q_vocab_unicode")(spark, dir))
    assert(pv.contains("BroadcastNestedLoopJoin") || pv.contains("BroadcastExchange"),
      s"unicode vocab total not broadcast:\n$pv")
    assert(pv.contains("partial_sum") || pv.contains("partial_count"),
      s"unicode wordcount lacks map-side partial aggregation:\n$pv")
  }

  test("png_decode/png_resample stay inside whole-stage codegen on a parquet-backed scan") {
    // parquet-backed input (a local relation would constant-fold to a
    // LocalTableScan and show no codegen either way) — same discipline
    // as the vector_dot codegen pin
    val df = graft.operators.ColOps.table(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.PngDecode.png_decode(
          graft.functions.PngResample.png_resample(
            encode(col("text"), "UTF-8"), 2)).as("d"))
      .filter(col("d").isNotNull)
    val p = df.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(_.contains("png_decode"))
    assert(line.exists(_.trim.startsWith("*")),
      s"png_decode fell out of WholeStageCodegen:\n$p")
  }

  test("q_sem_index: dedup pairs are cell-blocked (no cartesian end-to-end)") {
    val df = SparkEntry.queries("q_sem_index")(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"SemDeDup→index chain plans a cartesian:\n$p")
  }

  test("q_ann_recall: probe/ADC tables broadcast; no cartesian anywhere in the sweep") {
    val df = SparkEntry.queries("q_ann_recall")(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"recall audit plans a cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"recall audit lost its broadcast joins:\n$p")
  }
}
