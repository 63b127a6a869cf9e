package graft

/** The SQL front end: the harness tables as views, native kernels
  * callable from SQL, and `ansiPortable`, the oracle subset that
  * `CatalogSpec`'s verbatim test runs through `spark.sql`. */
class SqlFrontEndSpec extends SparkSpec {
  import SqlFrontEndSpec.ansiPortable

  private val dir = "/root/testdata/sf0.001"

  test("the verbatim-portable set holds at least 165 entries") {
    assert(ansiPortable.size >= 165, s"got ${ansiPortable.size}")
    assert(ansiPortable.distinct.size == ansiPortable.size)
  }

  test("native kernels are callable from SQL strings on the views") {
    Views.register(spark, dir)
    val sq = spark.sql(
      "SELECT vec_id, graft_dot(embedding, embedding) AS sq FROM embeddings ORDER BY vec_id ASC LIMIT 5")
      .collect()
    assert(sq.length == 5 && sq.forall(_.getDouble(1) > 0))
    val th = spark.sql(
      "SELECT doc_id, size(graft_token_hashes(split(text, ' '))) AS n FROM documents ORDER BY doc_id ASC LIMIT 3")
      .collect()
    assert(th.length == 3 && th.forall(_.getInt(1) > 0))
  }

  test("views cover every harness table and re-registration is idempotent") {
    Views.register(spark, dir)
    Views.register(spark, dir)
    Views.tableNames.foreach { n =>
      assert(spark.sql(s"SELECT * FROM $n LIMIT 1").collect().length == 1, n)
    }
  }
}

object SqlFrontEndSpec {
  /** Oracle entries restricted to the shared dialect both engines
    * parse — every catalog oracle verified to both PARSE and produce
    * DataFrame-identical results through spark.sql. The dialect
    * bridges that built the set: date strings render as
    * `substr(CAST(ts AS VARCHAR(30)), 1, 10)` and full timestamps as
    * `CAST(ts AS VARCHAR(30))` (identical canonical rendering on both
    * engines, trailing fractional zeros trimmed — strftime is
    * DuckDB-only, date_format is Spark-only); `Views.registerCompat`
    * provides analyzer-inlined Spark spellings of DuckDB's sha256 /
    * epoch_us / json_extract_string plus the r7 alias pack (unnest /
    * string_split / list_transform / list_filter / list_min /
    * list_max / list_distinct / len / scalar generate_series / 1-arg
    * encode — each an expression builder resolving to the Spark
    * native, so DuckDB's list vocabulary runs unmodified); VARCHAR
    * always carries a length (bare VARCHAR is DuckDB-only); and day
    * differences spell as floor(epoch_us(CAST(b AS TIMESTAMP)) −
    * epoch_us(...)) / 86400000000.0 (date_diff's quoted unit is a
    * Spark ParseException no registry can intercept).
    *
    * The r10 expansion brought the quantile family IN without
    * weakening its gate: the exact-quantile oracles now spell ANSI
    * `percentile_disc(q) WITHIN GROUP (ORDER BY x)` — in DuckDB that
    * IS its own `quantile_disc` (same function, ANSI surface), so
    * the exactness gate still runs against DuckDB's own rank rule,
    * and the spelling parses on Spark too, where this spec pins a
    * THIRD independent implementation to the same answer;
    * deciles_orders dropped its list literal for scalar cut columns;
    * and the literal-table LOOKUP idiom
    * `list_extract(list_value(...), CAST(i AS INT))` (1-based on
    * both engines; bridged to array/element_at) brought in the
    * psi/mi/hll families.
    *
    * Still excluded, each with its audit-measured blocker
    * (`graft.tools.SqlPortabilityAudit` prints per-entry evidence):
    * raw list SUBSCRIPTS `l[i]` (DuckDB 1-based, Spark 0-based —
    * silent off-by-one; diversity_distinct_n's INVALID_ARRAY_INDEX
    * was the measured instance until r12 respelled it as
    * list_extract; lookups go through that bridge, bare subscripts
    * stay out), list_sum (DuckDB widens to
    * HUGEINT; no typed zero for Spark aggregate), struct_pack's `:=`
    * argument syntax (Spark PARSE error — no registry can intercept
    * the parser, and the engines' struct-literal surfaces are
    * disjoint: blocks the kmeans/sim_topk/lm/bpe/bigram families'
    * unnest-of-structs replays), the MATERIALIZED CTE hint (Spark
    * parse error; DuckDB NEEDS it on the unrolled kcore/bpe/pca
    * replays whose CTEs would otherwise inline exponentially, so
    * dropping it is not an option), ordered aggregates
    * `list(x ORDER BY y)` (Spark array_agg takes no ORDER BY:
    * embed_outliers, span_dup_excise, rp_distortion — and the
    * positional rewrite would trade the fold's deterministic order
    * for an order-free SUM, exactly the FP-drift class the hash gate
    * forbids), recursive-CTE closure with UNION dedup
    * (dedup_embedding_groups AND dup_inflation: Spark 4 allows only
    * UNION ALL in recursive CTEs, and switching the oracle to UNION
    * ALL would unbound the closure on cycles — the dedup IS the
    * termination argument; r13 audit-measured. r14 re-audit:
    * dup_inflation had been filed under the regexp-'g' class, but its
    * regexp is respellable loss-free through the EXISTING
    * array_to_string(regexp_split_to_array(...)) bridges — replacing
    * every maximal separator run with one space ≡ split-on-runs +
    * join — while its `reach` CTE is the same recursive UNION closure
    * as the dedup family, so its ULTIMATE blocker is the recursion
    * and the regexp-'g' class is now EMPTY), HUGEINT casts
    * (embed_label_centroids, dedup_minhash_fast's xxh64 mirror),
    * regexp flags ('g' —
    * Spark replaces globally by default, so the 4th arg parses as
    * position — a class with no remaining member after the r14
    * re-audit), ASOF JOIN syntax, and day-of-week (same NAME,
    * different contract: Spark dow=1-7, DuckDB 0-6 — and Spark 4's
    * DataFrame functions resolve by name through the session
    * registry, so shadowing would leak into engine queries;
    * measured, see Views.registerDuckAliases).
    *
    * Classes RETIRED in r12 by respelling the oracle text in the
    * shared dialect (DuckDB results hash-verified unchanged): `//`
    * int division and bare-VARCHAR casts (the stock fixture CTEs),
    * list_zip + struct subscript `x[1]` (the dot-product idiom is
    * now index-aligned list_extract over generate_series — same
    * ascending fold, bit-identical FP), in-parens
    * `last_value(v IGNORE NULLS)` (gap-fill now uses the ANSI
    * count-over-window carry group), and PARALLEL UNNEST: the old
    * span_dup sgram CTE put two unnest() columns in one SELECT,
    * which DuckDB zips POSITIONALLY while Spark through the explode
    * bridge CROSS-PRODUCTS them — `unnest(gs(1,3)),
    * unnest([10,20,30])` → 3 rows vs 9 (measured) — the catalog's
    * only two silent MISMATCHes, and the sharpest argument against
    * ever bridging parallel unnest by name. The CTE now single-
    * unnests positions and computes the gram per position, so
    * span_dup_profile/spans are IN and 0 MISMATCH rows remain.
    * Exposed on the companion so CoverageDocSpec can pin
    * COVERAGE.md's published count to this list's size. */
  val ansiPortable = Seq(
    "a5_dup_audit", "agg_rollup_totals", "anti_lapsed_custs",
    "benford_totalprice", "bloom_join_urgent", "bm25_probe",
    "bootstrap_mean_ci", "bucketed_join", "burstiness_topk",
    "cdf_events_value", "cohort_retention", "corr_price_qty",
    "cube_flag_status",
    "cusum_value_shift", "daily_value_bands",
    "e_hourly_rollup", "e_json_rollup",
    "event_transitions", "f20_bins_acctbal", "funnel_stages",
    "fuzzy_pairs_customers", "grid_median_events",
    "heavy_hitter_tokens", "incr_load_events",
    "j3_upsert_users", "kpi_unpivot", "m2_dim_users", "mad_outliers",
    "mad_outliers_by_type", "minhash_fast_precheck",
    "mix_temperature", "mm_payload_stats", "orc_roundtrip_read",
    "pack_plan",
    "pivot_daily_types", "profile_events",
    "q1_top_brands", "q2_daily_trend", "q3_zscore_outliers",
    "q4_geo_rollup", "q5_risk_watchlist", "qa_counts_events",
    "range_views_before_purchase", "recon_orders_events",
    "rolling_median_value",
    "s13_fact_prune", "sample_per_lang", "sample_priority",
    "sample_priority_lang", "sample_strata", "sessionize_daily",
    "shard_plan", "split_train_val_test", "stream_hourly_rollup",
    "stream_join_views",
    "stream_merge_events", "tfidf_topk", "topk_value_by_type",
    "trend_theil_sen",
    "ttest_value_halves", "u1_filter_topk", "u2_activity_shocks",
    "u3_kpi_summary", "u4_result_summary", "vocab_coverage",
    "weighted_median_by_flag",
    "weighted_median_price", "window_rank_family", "winsor_stats",
    "zipf_slope", "keywords_per_source",
    "zorder_cells", "zorder_read",
    // r9 expansion: the full list-vocabulary bridge pack
    // (list_contains/append/prepend, array_to_string,
    // regexp_split_to_array, clamped list_slice, explicit-zero
    // list_reduce — Views.registerDuckAliases r9 section) plus the
    // shared-dialect spellings it unlocked: floor(x/k.0) for `//`,
    // explicit group 0 on regexp_extract_all, chr(12) for \f,
    // split+join for global regexp_replace, [.]/[+] bracket classes
    // in Redaction's patterns, the ASOF-join ANSI expansion
    // (asof_attribution), and the epoch_us %f rendering
    // (scd2_user_versions).
    "asof_attribution", "boilerplate_topk", "chunk_plan",
    "clf_calibration", "clf_keep_docs", "clf_quality_weights",
    "cms_join_size", "cms_token_counts", "contam_pairs",
    "contam_scrub", "dedup_exact",
    "dedup_jaccard_prefix", "dedup_threshold_sweep",
    "entropy_profile", "feat_lang_profile", "kmv_daily_users",
    "kmv_distinct_events", "kmv_rolling_users", "kmv_user_overlap",
    "m1_stg_events", "mix_budget", "passage_dup", "rarity_profile",
    "scd2_user_versions", "skew_salted_rollup", "source_mix_summary",
    "stream_dedup_docs", "text_fingerprint", "text_langid",
    "text_quality", "text_redact", "text_repetition",
    "text_token_stats",
    // r10 expansion: ANSI percentile_disc WITHIN GROUP (the quantile
    // family, gate-preserving — see the scaladoc above), scalar cut
    // columns for deciles, and the list_extract(list_value(...))
    // literal-table lookup bridge for the psi/mi/hll families.
    "deciles_orders", "exact_median_by_type",
    "exact_quantiles_totalprice", "hll_daily_users",
    "hll_distinct_events", "mi_flag_status", "psi_drift_total",
    "psi_value_drift",
    // r12 expansion: the stock family (shared-dialect rewrite of the
    // fixture CTEs — CAST(... AS STRING), floor(x/k) for `//`) plus
    // the strftime format-translation bridge, isinf, the '{:,}'
    // format bridge, 1-arg numeric trunc, the INT-cast list_extract
    // bridge, and the list_reduce spelling of list_sum in the mm
    // signature oracles.
    "stock_dim_entity", "stock_dim_entity_scalable",
    "stock_fct_observations", "stock_normalize_quotes",
    "stock_q1_top_market_cap", "stock_q2_daily_trend",
    "stock_q3_volume_outliers", "stock_q4_geo",
    "stock_q4_geo_scalable", "stock_q5_risk_watchlist",
    "stock_quality_suite", "stock_raw_qa", "stock_stg",
    "stock_stream_dim", "stock_u1_filters", "stock_u2_shocks",
    "stock_u3_kpis", "stock_u4_summary",
    "incr_merge_partitioned", "incr_merge_hashkeys", "incr_merge_manifest",
    "stream_merge_partitioned",
    "diversity_distinct_n", "mm_audio_signature", "mm_image_dhash",
    "mm_video_framehash",
    // r12 second wave: the dot-product idiom respelled as
    // index-aligned list_extract over generate_series (drops
    // list_zip's positional struct subscripts), the span-dedup gram
    // CTE de-parallelized (single unnest + per-position gram — this
    // also removed the catalog's only two spark.sql MISMATCHes), and
    // gap-fill's IGNORE NULLS respelled as the ANSI
    // count-over-window carry-group trick.
    "hybrid_rrf", "sim_topk", "sim_topk_ivf", "sim_topk_q8",
    "span_dup_profile", "span_dup_spans", "gapfill_daily",
    "fact_compact_read", "kmv_persist_merge", "hll_persist_merge",
    // r13 expansion: seeded-anchor plane matrices respelled as
    // list_value(...) literals (drops the [..] list-literal VALUES
    // rows), floor-division spellings for the two remaining `//`
    // sites, list_slice(th, 1, 0) for the bare [] empty-list literal
    // in the winnowing CTE, and the xor-by-name bridge (Spark only
    // has the `^` operator, whose DuckDB meaning is POWER — the NAME
    // is the only safe shared spelling).
    "dedup_simhash", "sim_topk_lsh", "dedup_embedding",
    "text_winnow", "winnow_overlap",
    // r13 second wave: the table-valued generate_series band join —
    // the only TVF the dialect used — respelled through the EXISTING
    // bridges as a scalar-unnest subquery
    // (`CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) b`),
    // which retires the whole gs-table-fn class except the entries
    // whose NEXT blocker is structural (recursive-CTE UNION dedup:
    // dedup_groups/dedup_keep/dedup_keep_best — and, per the r14
    // re-audit, dup_inflation, whose regexp-'g' respells through the
    // existing split+join bridges but whose reach CTE is the same
    // recursive UNION closure).
    "cosine_verify_lsh", "dedup_containment", "dedup_incremental",
    "dedup_jaccard", "dedup_minhash_lsh", "dup_source_matrix",
    "graph_triangles", "lsh_pair_recall", "pagerank_hubs",
    "split_leakage_pairs")
}
