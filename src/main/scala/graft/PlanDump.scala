package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}

/** Physical plans of registered queries, the audit trail for plan shape.
  *
  * Usage: runMain graft.PlanDump <out> [<query>[,<query>...]]
  *   - `<out>` ending in `.md`: one markdown document (PLANS.md's format,
  *     `SimpleMode` plans); no names means [[Headline]].
  *   - otherwise: one `FormattedMode` file `<out>/<query>.txt` per query;
  *     no names means every query.
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4).
  */
object PlanDump {

  /** The queries PLANS.md audits. */
  val Headline: Seq[String] = Seq("q_filter", "q_scan", "q_take", "q_zip_source",
    "q_dedup_minhash", "q_embed_lsh", "q_embed_topk", "q_embed_neardup",
    "q_event_window", "q_dedup_exact", "q_zip_with", "q_asof_join",
    "q_band_join", "q_iterate_jump", "q_sample_strat", "q_repetition",
    "q_csv_source", "q_tfidf", "q_top_terms", "q_pack_seqs",
    "q_pack_greedy", "q_bucket_join", "q_cms_sketch", "q_contamination",
    "q_bigrams", "q_shuffle_order", "q_media_resize", "q_dedup_incr_near",
    "q_histogram", "q_pivot", "q_quality_filter", "q_embed_pq_topk",
    "q_lm_score", "q_mix_weights", "q_trimmed_mean",
    "q_funnel", "q_retention", "q_outliers", "q_upsert", "q_pmi",
    "q_cube", "q_corpus_profile", "q_bpe_pairs", "q_orc_source",
    "q_pipeline", "q_containment", "q_edit_distance", "q_chunk_stride",
    "q_pricing_summary", "q_ship_priority", "q_region_revenue",
    "q_order_priority", "q_top_customers", "q_cold_parts",
    "q_promo_share", "q_source_cap", "q_user_growth", "q_rolling",
    "q_decile", "q_transitions", "q_range_layout",
    "q_throttle", "q_scd2", "q_snapshot_diff",
    "q_kmeans_step", "q_semdedup", "q_boilerplate", "q_inverted_index",
    "q_media_neardup", "q_kmv_groups", "q_kmv_merge", "q_k_anonymity",
    "q_embed_outliers", "q_split_leakage", "q_lang_confusion",
    "q_pdf_cjk", "q_html_entities", "q_langid_score",
    "q_forecast_revenue", "q_volume_shipping", "q_market_share",
    "q_product_profit", "q_order_count_dist", "q_top_supplier",
    "q_small_qty_revenue", "q_discount_revenue", "q_idle_customers",
    "q_chunk_dedup", "q_blocklist", "q_weighted_sample",
    "q_zipf_fit", "q_hard_negatives", "q_knn_classify", "q_unfold_fib",
    "q_corpus_overlap", "q_quality_calibrate", "q_mix_rebalance",
    "q_zorder_layout", "q_simhash_pairs", "q_interval_join",
    "q_pagerank", "q_join_audit", "q_partition_skew",
    "q_lag_features", "q_forget_users", "q_table_checksum",
    "q_cooccurrence", "q_bpe_learn", "q_bpe_apply", "q_bloom_prune",
    "q_lm_perplexity", "q_drift", "q_triangles",
    "q_embed_dimstats", "q_embed_standardize",
    "q_wav_decode", "q_wav_resample", "q_bmp_decode", "q_bmp_resize",
    "q_embed_ivf_persist", "q_media_dispatch", "q_chunk_tokens",
    "q_dedup_rates", "q_selection_curve",
    "q_html_extract", "q_html_quality", "q_contamination_spans",
    "q_embed_pq_persist", "q_lift_rws",
    "q_contamination_clean", "q_tokenize_ids", "q_pack_ids",
    "q_corpus_build", "q_embed_ivfpq", "q_embed_ivfpq_persist",
    "q_warc_extract", "q_warc_urls", "q_cdx_index", "q_wet_extract",
    "q_wat_meta", "q_warc_digest", "q_url_parse", "q_url_normalize",
    "q_url_dedup", "q_domain_stats", "q_domain_cap", "q_robots_filter",
    "q_link_graph", "q_domain_rank", "q_corpus_build_warc",
    "q_corpus_build_curated",
    "q_jpeg_decode", "q_frontier_schedule", "q_corpus_build_near",
    "q_warc_recover", "q_html_audit", "q_warc_records",
    "q_media_transcode", "q_media_thumb", "q_warc_redirects",
    "q_frontier_redirect", "q_warc_extract_recover",
    "q_charset_decode", "q_charset_audit", "q_warc_revisit",
    "q_gif_decode", "q_pdf_extract", "q_sitemap_index",
    "q_quality_train", "q_quality_score",
    "q_robots_parse", "q_robots_discovery", "q_charset_langid",
    "q_charset_vocab", "q_cdx_revisit")

  /** Per-run tokens that change between two dumps of the same plan:
    * expression and exchange ids, lambda class names with their identity
    * hashes, the JVM-wide counter in higher-order-function variable names
    * (`x_96`, numbered by every lambda built before), and the per-JVM
    * scratch root (`Scratch.root`, a random
    * `graft_<n>` under `java.io.tmpdir`) with the random suffix of the
    * directory under it. Plans are cut at
    * `spark.sql.maxMetadataStringLength`, at a point that moves with the
    * digit count of `<n>`: the same location may end mid-name (`...`) or
    * whole (`]`). So a location that names a directory under the root
    * keeps that name only through its first `_` and always ends `...`.
    */
  private val Volatile: Seq[(scala.util.matching.Regex, String)] = Seq(
    "#[0-9]+L?".r -> "#N",
    "plan_id=[0-9]+".r -> "plan_id=N",
    "\\bx_[0-9]+#N".r -> "x_N#N",
    "\\$\\$Lambda[^@\\s]*@[0-9a-f]+".r -> "\\$\\$Lambda",
    "file:[^\\s,\\]]*/graft_[0-9]+/([A-Za-z0-9]*_)[A-Za-z0-9_]*(?:\\.\\.\\.|\\])".r ->
      "file:<scratch>/$1...",
    "file:[^\\s,\\]]*/graft_[0-9]+(/[A-Za-z0-9_]*_)?[0-9]*".r -> "file:<scratch>$1")

  /** `plan` with every [[Volatile]] token replaced by a fixed stand-in
    * and every distinct-aggregate `Expand` in [[canonicalExpands]] order,
    * so a regenerated PLANS.md differs only where a plan changed.
    */
  private[graft] def normalize(plan: String): String =
    canonicalExpands(Volatile.foldLeft(plan) { case (text, (re, to)) => re.replaceAllIn(text, to) })

  /** `s` split at the commas outside brackets and parentheses. */
  private def topLevel(s: String): Vector[String] = {
    val parts = Vector.newBuilder[String]
    var depth = 0
    var from = 0
    s.indices.foreach { i =>
      s(i) match {
        case '[' | '(' => depth += 1
        case ']' | ')' => depth -= 1
        case ',' if depth == 0 => parts += s.substring(from, i).trim; from = i + 1
        case _ => ()
      }
    }
    (parts += s.substring(from).trim).result()
  }

  private def unbracket(s: String): String = s.stripPrefix("[").stripSuffix("]")

  private val ExpandArgs = "(Expand |Arguments: )(\\[\\[.*\\]\\], \\[.*gid#N.*\\])".r

  /** Spark's distinct-aggregate rewrite numbers its groups (the `gid`
    * column of the `Expand`) in hash order, which changes from JVM to
    * JVM. Each such Expand is rewritten with its groups ordered by the
    * text of the columns they carry: its projection lists and output
    * columns, every `gid#N = k` and every listing of those columns in
    * their old order elsewhere in the plan. (Every `gid#N = k` is read
    * as this Expand's: each audited plan has at most one.)
    */
  private[graft] def canonicalExpands(plan: String): String =
    ExpandArgs.findAllMatchIn(plan).map(_.group(2)).toSeq.distinct.foldLeft(plan) { (text, args) =>
      val Vector(listsPart, outPart) = topLevel(args)
      val lists = topLevel(unbracket(listsPart)).map(l => topLevel(unbracket(l)))
      val out = topLevel(unbracket(outPart))
      val gidAt = out.indexOf("gid#N")
      val (regular, groups) = lists.partition(_(gidAt) == "0")
      // a group's own columns: set in it, null in some other list
      def own(l: Vector[String]): Seq[Int] = out.indices.filter(p =>
        p != gidAt && l(p) != "null" && lists.exists(_(p) == "null"))
      val slots = groups.flatMap(own).sorted
      val sorted = groups.sortBy(g => own(g).map(out).mkString(", "))
      val moved = sorted.flatMap(own) // new slot i takes old column moved(i)
      val gidOf = sorted.zipWithIndex.map { case (g, i) => g(gidAt) -> (i + 1).toString }.toMap
      def permute(l: Vector[String]): Vector[String] =
        slots.zip(moved).foldLeft(l) { case (acc, (slot, from)) => acc.updated(slot, l(from)) }
      val newLists = regular.map(permute) ++ sorted.map(g => permute(g).updated(gidAt, gidOf(g(gidAt))))
      val newArgs = newLists.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]") + ", " +
        permute(out).mkString("[", ", ", "]")
      val renumbered = "gid#N = ([0-9]+)".r.replaceAllIn(text.replace(args, "\u0000"),
        m => s"gid#N = ${gidOf.getOrElse(m.group(1), m.group(1))}")
      renumbered.replace(slots.map(out).mkString(", "), moved.map(out).mkString(", "))
        .replace("\u0000", newArgs)
    }

  def main(args: Array[String]): Unit = {
    val names = args.drop(1).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    try write(spark, sfDir, args(0), names)
    finally spark.stop()
  }

  /** Writes the plans of `names` on `sfDir` to `out` (see above); an
    * unknown name throws before anything is written.
    */
  def write(spark: SparkSession, sfDir: String, out: String, names: Seq[String]): Unit = {
    val md = out.endsWith(".md")
    val selected = SparkEntry.select(if (md && names.isEmpty) Headline else names)
    val doc = new StringBuilder(
      "# PLANS — headline query physical plans\n\n" +
      s"Generated by `graft.PlanDump` on `$sfDir`. Audit notes:\n" +
      "filters pushed to the scan, read schemas pruned, no global\n" +
      "windows/sorts on data paths, broadcasts on small sides,\n" +
      "equi-joins (never cartesian) for candidate generation.\n\n")
    if (!md) Files.createDirectories(Paths.get(out))
    selected.foreach { q =>
      // queryExecution.explainString, not .explain(), so the text can be
      // written to a file instead of stdout
      val qe = q.build(spark, sfDir).queryExecution
      if (md) doc.append(s"## ${q.name}\n\n```\n${normalize(qe.explainString(SimpleMode))}\n```\n\n")
      else Files.writeString(Paths.get(out, s"${q.name}.txt"),
        normalize(qe.explainString(FormattedMode)))
    }
    if (md) Files.writeString(Paths.get(out), doc.toString)
    println(s"PLANDUMP wrote ${selected.size} plans to $out")
  }
}
