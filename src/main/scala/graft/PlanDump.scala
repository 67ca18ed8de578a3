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
      if (md) doc.append(s"## ${q.name}\n\n```\n${qe.explainString(SimpleMode)}\n```\n\n")
      else Files.writeString(Paths.get(out, s"${q.name}.txt"), qe.explainString(FormattedMode))
    }
    if (md) Files.writeString(Paths.get(out), doc.toString)
    println(s"PLANDUMP wrote ${selected.size} plans to $out")
  }
}
