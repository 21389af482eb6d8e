package graft

/** Degenerate-input robustness: every query family must survive an
  * EMPTY corpus — the shape a real 100-TB run produces constantly (a
  * filter that matches nothing, an empty date partition, a first
  * increment against an empty base). The failure class this hunts is
  * driver-side assumptions: `.head()` on an empty aggregate, a
  * seed/centroid sample that comes back empty, a prefix-sum or
  * percentile over zero rows, a contraction loop fed zero edges.
  *
  * One representative query per risky construct (full-registry
  * coverage would re-run the whole suite; the construct list is the
  * point). PASS = the query plans and collects without throwing — row
  * counts may legitimately be zero.
  */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val src = "/root/testdata/sf0.001"
    val dst = "/tmp/graft-empty-sf"
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    dst
  }

  private val cases = Seq(
    "q_agg_pricing", // plain aggregate
    "q_join_inner", // broadcast join, empty both sides
    "q_tpch_q1", // agg + having-style post-filter
    "q_over_rank", // window over empty
    "q_evt_sessionize", // lag/cumsum window chain
    "q_evt_funnel", // chained conditional mins + final ratio window
    "q_evt_active_users", // sequence() explode over empty
    "q_evt_runs", // islands + lead()
    "q_doc_auc", // rank-sum ratio: 0/0 guard
    "q_doc_zipf", // TakeOrdered + regression over empty
    "q_doc_exact_dedup", // hash-groupBy dedup
    "q_doc_minhash", // LSH band join on empty
    "q_doc_minhash_keeper", // contraction loop fed zero edges
    "q_doc_budget", // 256-way prefix sum over empty
    "q_doc_ppl_buckets", // percentile thresholds over empty
    "q_doc_tfidf", // idf needs the doc-count scalar
    "q_doc_pack", // greedy packing over empty shards
    "q_doc_pipeline_full", // staged multi-stage funnel
    "q_emb_topk", // brute-force top-k, empty probe+corpus
    "q_emb_kmeans", // centroid seed sample comes back empty
    "q_emb_neardup_keeper", // verify + contraction on empty
    "q_mm_decode", // codec over zero rows
    "q_mm_wav_frames", // frame features over zero rows
    "q_doc_delta_dedup", // increment classified against an EMPTY base
    "q_doc_decontaminate", // broadcast of an empty eval side
    "q_doc_domain_cap", // two-phase keep-list over empty
    "q_doc_sample_balanced", // rate table from empty class counts
    "q_doc_quality_train", // logistic GD rounds on zero examples
    "q_doc_bpe_train", // merge loop with no pairs to merge
    "q_doc_bm25", // avgdl scalar from an empty corpus
    "q_emb_ivf_kmeans", // Lloyd rounds with empty assignment
    "q_doc_hll", // register rollup over zero hashes
    "q_doc_waterfill", // budget allocation with no strata
    "q_graph_components", // star-contraction loop fed zero edges
    "q_join_bloom_reduce", // bloom filter built from an empty dim side
    "q_evt_itemsets", // apriori pruning with zero frequent items
    "q_over_dist", // ntile/percent_rank/cume_dist over empty
    "q_emb_rp_recall", // random projection + dual top-k over empty
    "q_cep_timeout", // timeout walk over empty per-key groups
    "q_doc_phrase", // positional postings + adjacency joins over empty
    "q_doc_expect", // expectation report over an empty corpus
    "q_evt_growth", // lag/lead growth states + full join over empty
    "q_evt_anomaly", // trailing-stddev window over empty
    "q_evt_transitions", // lead + margin window over empty
    "q_evt_chi2", // contingency margins over empty
    "q_agg_corr", // moment aggregates over empty (corr of nothing)
    "q_fn_json", // json/map pipeline over empty
    "q_doc_substr_spans", // window explode + island merge over empty
    "q_doc_substr_fast", // rolling-hash kernel over empty
    "q_doc_substr_strip", // span fold over null span arrays
    "q_match_sql", // SQL MATCH_RECOGNIZE route over empty partitions
    "q_graph_sssp", // relaxation loop fed zero edges (null-source aggregate)
    "q_graph_hits", // power-iteration loop + sum-normalization over zero nodes
    "q_graph_triads", // closed-form triad arithmetic over null/zero aggregates
    "q_graph_sssp_sg", // generic scatter-gather loop fed zero edges
    "q_emb_coreset", // greedy loop seeded from a null-row aggregate
    "q_emb_ivfpq", // codebook training + ADC over empty cells
    "q_emb_sq8", // min/max envelope aggregate comes back empty
    "q_emb_mmr", // candidate/pair-sim frames empty, greedy rounds no-op
    "q_emb_compression_recall", // three retrieval pipelines over empty corpus
    "q_emb_semdedup", // zero-centroid Lloyd rounds + within-cluster pair join on empty
    "q_emb_kmeans_par", // empty seed, zero-phi rounds, empty candidate array
    "q_evt_binseg", // empty grid -> no split candidates, null-cut coalesce path
    "q_doc_snm", // windowed leads over an empty block partition
    "q_doc_mink", // percentile thresholds from an empty score table
    "q_doc_linkage", // EM moments over an empty pattern table (null params)
    "q_evt_binseg_trend", // per-segment OLS over an empty assigned grid
    "q_doc_mg_heavy", // MG summary over zero items + n-scalar threshold
    "q_doc_c4", // line-rule projection over zero docs
    "q_doc_gopher", // ratio battery over zero docs (0-word divisions absent)
    "q_doc_neyman", // zero-weight allocation, null remainder arithmetic
    "q_doc_snapshot_diff", // full-outer diff of two empty versions
    "q_evt_winsorize", // percentile bounds over empty
    "q_evt_robust_z", // median/MAD over empty hourly rollup
    "q_evt_feature_hash", // hashed vectors over zero events
    "q_evt_resample", // bounds-aggregate grid explode over empty
    "q_evt_paths", // stacked leads + TakeOrdered over empty
    "q_graph_summarize", // value assignment + member counts over empty
    "q_window_sql_tumble", // TVF rewrite path over an empty table
    "q_window_sql_session", // SESSION TVF island lowering over empty
    "q_evt_cusum", // prefix-sum + running-min over empty dailies
    "q_evt_ewma", // dyadic-scaled prefix sum + overflow guard over empty
    "q_evt_pivot", // explicit-value pivot over zero rows
    "q_evt_melt", // unpivot of the empty wide frame
    "q_evt_acf", // 7 lag columns + stack over empty
    "q_evt_forecast", // lag-7/lag-1 backtest over empty
    "q_doc_ir_metrics", // BM25 stats scalars (nd, avgdl) from an empty corpus
    "q_api_zip_index", // RDD zipWithIndex over an empty range partitioning
    "q_api_summarize", // one-pass profile over zero rows (n=0, null bounds)
    "q_graph_assortativity", // degree sums null -> null ratio, no crash
    "q_graph_kcore", // nested peel loops fed zero edges, coalesced checksums
    "q_emb_lda", // zero classes -> null-projection early return
    "q_evt_survival", // KM curve over zero sessions, null corpus-end scalar
    "q_doc_ppjoin", // prefix join over an empty vocabulary
    "q_doc_js_drift", // divergence over zero (source, word) support
    "q_mm_phash", // image hash + band join over zero rasters
    "q_mm_audiohash", // audio hash + band join over zero clips
    "q_doc_calibration", // reliability buckets over zero scores
    "q_evt_ltv", // cohort triangle over zero users
    "q_evt_markov", // empty chain -> empty-result early return
    "q_evt_trend_robust", // pairwise slopes over zero dailies
    "q_evt_markov_attribution", // empty chain -> empty-result early return
    "q_doc_textrank", // damped rank loop over an empty word graph
    "q_evt_bootstrap_ci", // percentiles over zero replicates, null bounds
    "q_evt_did", // 2x2 cells all empty, null estimate, no crash
    "q_evt_shapley", // zero channels -> k=0 empty-result early return
    "q_evt_cuped", // null midpoint, zero-user moment sums, null theta
    "q_mm_scenes", // multi-frame container walk over zero rows
    "q_doc_minhash_recall", // 0/0 recall guards over empty truth + candidates
    "q_doc_sample_weighted", // TakeOrdered over zero weighted keys
    "q_evt_srm", // null count sums -> null chi2/flag, no crash
    "q_doc_readability", // regex count battery over zero docs
    "q_evt_kanon", // QI classes over zero users
    "q_evt_dp_release", // Laplace release over an empty cell grid
    "q_emb_matryoshka", // both recall legs over empty probe + corpus
    "q_join_range_bucket", // bucket explode over zero bands, empty equi-join
    "q_evt_next_acc", // rollup over empty test split -> one NULL-acc total row
    "q_evt_stl", // 7-day MA + dow means over zero dailies
    "q_evt_msprt", // cumulative mSPRT readout over zero dailies
    "q_evt_ate", // null quantile bounds, zero strata, null overall
    "q_evt_ldiv", // entropy rollup over zero QI classes
    "q_evt_qini", // decile cumulation over an empty census, null diag
    "q_evt_conformal", // null fold bounds, zero buckets, null qhat
    "q_graph_harmonic", // 6 BFS rounds over zero seeds and edges
    "q_doc_strdist", // first-char pair join over an empty vocabulary
    "q_doc_postings_compress", // gap windows over zero postings
    "q_evt_cms_change", // two empty half-month sketches, empty watchlist
    "q_emb_gram", // null cell sums explode to 36 null rows, no crash
    "q_evt_lorenz", // null decile bounds, zero spend shares
    "q_evt_benford", // zero digits, null chi-square verdict
    "q_doc_llr_bigrams", // G2 contingency over zero bigrams
    "q_evt_landing", // sessionize + modal exit over zero sessions
    "q_evt_churn", // temporal split over zero users, null metrics
    "q_evt_dispersion", // dispersion ratio over zero dailies
    "q_doc_heaps", // null decile bounds, zero first-appearances
    "q_doc_doremi", // 1/n over zero domains, min-loss scalar over empty
    "q_doc_softdedup", // fp-keyed df count + join over zero docs
    "q_match_sql_updown", // iterative-condition NFA + lag columns over empty
    "q_sql_ddl_roundtrip", // DDL route: empty source scan, zero-row INSERT, empty sink read-back
    "q_evt_holtwinters", // <14-day grid -> empty walk, no init moments
    "q_emb_knn_probe", // kNN over empty corpus -> empty votes/pred
    "q_emb_modularity", // m=0 kNN graph -> empty moments, no 0/0 division evaluated
    "q_evt_bursts", // empty grid -> zero-moment types filtered, no ln(0)
    "q_stream_kmv", // replay of 3 empty parts: bottom-k merge over an empty sketch store
    "q_stream_tclose", // replay of 3 empty parts: sum + distinct merges into empty stores
    "q_stream_mg", // replay of 3 empty parts: MG merge with a null subtrahend, empty verify
    "q_stream_delta_minhash", // three seeded DeltaStores, snapshot(b-1) probe over empty stores
    "q_stream_bootstrap", // the seed is the offline aggregate of an empty first split
    "q_stream_ivm_join_retract", // three seeded BucketStores fold empty deltas: no bucket touched
    "q_stream_late_update", // ntile parts of an empty corpus: empty on-time and late partials
    "q_stream_curate" // replay of 3 empty parts into the keeper DeltaStore
  )

  test("representative queries survive a fully empty corpus (no driver-side empty-input crash)") {
    val failures = cases.flatMap { name =>
      try {
        SparkEntry.queries(name)(spark, emptyDir).collect()
        None
      } catch {
        case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    assert(failures.isEmpty, s"empty-input crashes:\n  ${failures.mkString("\n  ")}")
  }
}
