package graft

import org.scalatest.funsuite.AnyFunSuite

/** Determinism under re-partitioning — the retry-safety property every
  * declared query must hold at 100 TB: a stage retry, an AQE re-plan,
  * or a different cluster size changes shuffle partitioning, and the
  * RESULT must not. One pillar-covering query per suite runs twice
  * with different `spark.sql.shuffle.partitions` (which also drives
  * `SkewOps.globalRank`'s range partitioning — this empirically backs
  * its tie-permutation-invariance argument) and must produce the
  * identical multiset of rows. Floating aggregates survive because
  * every double goes through the DECIMAL(38,6) fold (Tables.dsum);
  * ranks survive because ties are either fully determined or feed
  * tie-invariant aggregates.
  */
class DeterminismSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private val pillarQueries = Seq(
    "q1_pricing",        // decimal-exact aggregation
    "q_incremental_mv",  // partial re-aggregation algebra
    "q_zorder",          // globalRank equal-size cuts (tie permutation)
    "dedup_near",        // MinHash LSH banding join
    "dedup_clusters",    // iterative label fixpoint
    "sim_pagerank",      // integer iteration + scalar sync
    "text_tfidf",        // per-doc rank with declared tiebreak
    "curate_dsir",       // hashed-feature scoring + broadcast threshold
    "events_scd",        // partitioned lag window
    "events_kmv_distinct", // order-statistic sketch
    "mm_phash",          // byte-kernel + banded hamming pairing
    "dedup_prefix_join", // df-ordered prefix filter + verification joins
    "sim_kcore",         // iterative peel with per-round persists
    "q_skyline",         // frontier window + tied-part recovery join
    "events_gapfill",    // spine cross join + derived bounds
    "events_rolling_wau", // coverage-explode sliding distinct
    "sim_rank_fusion",   // double-window rank + IEEE rrf ordering
    "text_collocations", // lift ranking with declared tiebreak
    "op_concat_rr",      // order-defining round-robin interleave
    // round-10b additions with partitioning-sensitive machinery:
    "events_power_users", // globalCumSum distributed prefix-sum
    "q_analyze_stats",   // globalRank boundary selection
    "events_dtw",        // in-row DP over map-built vectors
    "curate_gopher",     // modal-ngram kernel + in-row rules
    "sim_incremental_ivf", // broadcast argmax assignment + cell join
    "q_binpack",         // ordered cumsum bin assignment
    "mm_scene_cuts",     // per-row frame histograms
    // round-11 additions with partitioning-sensitive machinery:
    "events_survival",   // collected-series HOF product fold
    "sim_mmr",           // 4-stage greedy argmax windows with tiebreaks
    "dedup_band_sweep",  // three banded joins over one persisted signature
    "events_rfm",        // rank-selected quantile boundaries + band compare
    "q_join_card_est",   // global K-smallest order statistic
    "events_asof_directions", // streaming-merge exec both directions
    "events_acf",        // spine explode + 7-lag self-join
    "events_stickiness", // coverage explode + distinct window counts
    "curate_source_drift", // source x vocab grid + decimal TVD fold
    // round-12 additions with partitioning-sensitive machinery:
    "q_eager_agg",       // two-level decimal fold below/above a join
    "q_semijoin_reduce", // semi-reduction chain + decimal rollup
    "events_gap_sweep",  // one persisted lag relation, 3 conditional aggs
    "sim_mmr_ann",       // LSH candidates + 4 persisted greedy stages
    "events_funnel_latency", // globalRank two-job quartile selection
    "mm_cdc_chunks",     // CDC kernel + chunk-grain explode + distinct
    "mm_chunk_overlap",  // fp equi-join pairs over persisted chunk vocab
    "sim_ivf_sweep",     // shared assignment probed at 3 nprobe settings
    "events_asof_ties",  // tie-ordered streaming merge, dup timestamps
    "q_encode_cost",     // sort_array total order feeds the varint kernel
    "events_hll_incremental", // three independent register aggregation trees
    "events_quantile_sketch", // globalRank exact side + bucket-histogram walk
    // round-12 tail additions with partitioning-sensitive machinery:
    "events_pareto",     // globalRank rank-sum fold (tie permutation)
    "q_ingest_lateness", // globalCumMax distributed prefix-max
    "q_selectivity_audit", // globalRank boundary pick + inequality probe
    "sim_rocchio",       // persisted brute stage + decimal feedback means
    "events_growth_accounting", // full-outer self-join on shifted months
    "text_chunk",        // per-doc sequence explode + fingerprint kernel
    // TPC-H completion block (round 12) with partitioning-sensitive shapes:
    "q2_min_cost_supp",  // double-equality min-cost self-join + top-100
    "q11_important_parts", // 1-row broadcast threshold vs decimal folds
    "q21_waiting_supp",  // semi/anti self-join chain + count rank order
    "events_dbscan",     // grid candidate join + label fixpoint + min-rep
    "q_winsorized",      // globalRank boundary pick + broadcast clamp
    // round-12 close additions with partitioning-sensitive machinery:
    "q_f2_selfjoin_est", // 24 sign-hash counters in one hash-free fold
    "text_zipf",         // partial top-64 rank with declared tiebreak
    "events_periodicity", // per-type argmax window over the lag grid
    "mm_dominant_bin",   // argmax-of-histogram kernel + 16-group rollup
    "text_kn_lm",        // generator bigrams + three broadcast stat joins
    "events_cuped",      // pooled-theta double trees over decimal folds
    "events_holt_winters", // collected in-row fold carrying the season array
    "events_feature_pit", // bucketize-explode PIT join + left restore
    "q_join_order_advisor", // two global K-smallest order statistics
    "q_mcv_stats",       // three partial top-8 ranks with value tiebreaks
    "events_ips",        // data-derived midpoint broadcast + policy fold
    "mm_container_sniff", // planted-prefix mint + leading-bytes sniff
    // round-13 additions with partitioning-sensitive machinery:
    "events_bootstrap",  // hash-deterministic Poisson weights + array fold
    "events_mannwhitney", // globalCumSum milli-rank prefix over tie groups
    "events_did",        // midpoint broadcast + decimal diff moment folds
    "sim_hits",          // 3-pass integer power iteration + partial top-20
    "text_jsd",          // token-keyed pair join + decimal millibit fold
    "curate_temperature_mix", // IEEE sqrt weights through the decimal fold
    "sim_adamic_adar",   // millibit-weighted wedge join + partial top-20
    "mm_tile_hash",      // tile explode + df cap + tile-keyed pair join
    "q_t_closeness",     // segment grid left join + integer TVD fold
    "sim_pq_refine",     // ADC stage + bounded exact re-rank + recall folds
    "events_markov_entropy", // session lag pass + millibit entropy fold
    "mm_sharpness",      // codegen Laplacian kernel + 16-band rollup
    "events_pacf",       // grid self-joins + exact rational Durbin-Levinson
    "q_ndv_estimate",    // hash sample + abundance-profile folds
    "q_partition_advisor", // map-explode unpivot + decimal Simpson fold
    "mm_byte_runs",      // codegen run-length kernel + planted tails
    "dedup_cluster_histogram", // fixpoint + singleton restore + size rollup
    "curate_dedup_mass", // fp-keyed keeper join + mirror-source plant
    "q_filter_reorder_advisor", // 7 joint counts + literal order explode
    "events_qte",        // arm-major globalRank order statistics
    "events_retention_halflife", // eligibility fold + millibit OLS
    "mm_phash_sweep",    // one banded candidate pass, 3 radius folds
    "mm_byte_entropy",   // histogram-kernel posexplode + millibit fold
    "text_ttr_curve",    // distinct-token fold into length bands
    // round-13b additions with partitioning-sensitive machinery:
    "q_item_cf",         // basket pair join + mirrored persist + top-3 rank
    "q_regression",      // integer-grid moment folds + pinned IEEE solve
    "text_nb_langid",    // broadcast model join + max-score equi-join argmax
    "text_langid_margin", // double-persisted score grid + second-best fold
    "sim_assortativity", // degree stitch joins + cleared-rational fold
    "geo_radius_join",   // 9-cell probe ring + home-cell equi-join
    "geo_knn",           // radius-bounded partial top-3 with id tiebreak
    "geo_hotspot",       // cell-domain ring join + 1-row broadcast verdict
    "geo_choropleth",    // map-side max_by argmax with (votes, -label) ties
    "geo_rknn",          // vote rollup + global partial top-10
    "q_range_sel_audit", // globalRank boundaries + interpolation grid
    "q_fk_card_audit",   // per-edge fan-out folds + anti-join orphans
    "events_seq3",       // session window trigrams + partial top-10
    "events_user_entropy", // per-user millibit fold into bands
    "curate_source_overlap", // distinct (source, fp) + fp-keyed self-join
    // round-14 additions with partitioning-sensitive machinery:
    "geo_region_join",   // broadcast cell cover + winding forall + anti-join
    "sim_index_persist", // reopened bucketed index + broadcast ADC join
    "text_bpe_train",    // looped vocab argmax + rewrite + fertility folds
    "sim_index_delta",   // index union on-the-fly delta codes + ADC rank
    "text_bpe_apply",    // replayed merge chain + weighted subword top-20
    "dedup_index_persist", // bucketed fp index join + window partition reuse
    // round-14 depth-wave additions with partitioning-sensitive machinery:
    "geo_lof",           // chained rank/kdist/lrd joins + partial top-20
    "geo_closest_pair",  // global partial top-5 over ring candidates
    "geo_kde",           // cell-domain kernel smear + partial top-20
    "geo_zonal_stats",   // winding containment + max_by label argmax
    "events_motif",      // map-built day vectors + per-type rank-1 argmin
    "sim_ppr",           // frontier-filtered integer walk + seed scalar sync
    "text_ppmi_sim",     // rank-selected vocab + millibit PMI + top-3 rank
    "sim_hubness",       // left-join in-degree fold over the kNN graph
    "curate_budget_fill", // globalCumSum ordered fill + budget boundary
    "mm_phash_clusters", // banded hamming pairs + label fixpoint rollup
    "geo_map_match",     // broadcast-cover argmin + per-user islands fold
    "geo_encounters",    // capped bucket pairing + pair-keyed islands
    "mm_bin_audio_dupes", // banded hamming join over band-energy bits
    "curate_ppl_sweep")  // shared LM scoring pass + threshold explode

  private def run(name: String, parts: Int): Seq[String] = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try Harness.run(spark, name, sf)(_.collect().map(_.toString).sorted.toSeq)
    finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("pillar queries produce identical row multisets at 5 vs 16 shuffle partitions") {
    pillarQueries.foreach { q =>
      val a = run(q, 5)
      val b = run(q, 16)
      assert(a == b, s"$q differs across partitionings " +
        s"(${a.length} vs ${b.length} rows; first diff: " +
        s"${a.zip(b).find(p => p._1 != p._2).orElse(Some(("<len>", "<len>")))})")
      assert(a.nonEmpty, s"$q returned no rows at sf0.001")
    }
  }
}
