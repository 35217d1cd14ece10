package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{LocalSession, SparkEntry}
import graft.operators.Dedup
import graft.sources.Tables

/** Scale rehearsal: runs the heavy pipeline + flagship queries at two scale
  * factors (sf0.1 and the [[Amplify]]-generated sf1 equivalent) and emits a
  * JSON report with per-query wall time, the sf1/sf0.1 scaling ratio, and a
  * physical-plan check (no CartesianProduct / BroadcastNestedLoopJoin may
  * appear). A ratio near the data ratio (10×, with constant-overhead slack)
  * is the evidence that the plan shape survives a scale-up — a superlinear
  * ratio names the operator to fix.
  *
  * Timing action is a `noop`-format write so every output row is computed
  * without driver collection; one warm pass at sf0.01 precedes the timed
  * runs (JIT + parquet footer cache).
  *
  * Run: `sbt "runMain graft.tools.AuditScale [out.json] [smallDir] [bigDir]"`.
  */
object AuditScale {

  /** The r3-verdict heavy set: three TPC-H flagships + the scale-sensitive
    * pipeline operators. `dedup_cc_exact` keeps its declared bounded input
    * (vec_id < 300 at every sf — its oracle needs a DuckDB-recomputable pair
    * set), so `cc_scaled_simhash` gives connected components a corpus-scaled
    * input too: edges are the SimHash candidate pairs over the documents
    * table, which grow linearly with the corpus. */
  val Heavy: Seq[String] = Seq(
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority", "tpch_q5_local_supplier_volume",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_cc_exact", "dedup_incremental",
    "dedup_winnow_incremental", "sim_topk_ivf", "sim_topk_int8", "sim_topk_ivfpq",
    "sim_topk_ivfpq_residual",
    "mm_image_histogram", "mm_audio_histogram", "mm_video_histogram",
    "text_decontaminate", "text_decontaminate_bloom",
    "text_lm_quality", "text_lm_bigram", "text_tfidf_topterms",
    "sim_ivf_train", "text_quality_gate", "pipeline_corpus_e2e",
    "pipeline_ingest_batch", "sim_topk_pq_rotated", "text_dsir_select",
    "text_line_dedup", "dedup_substring_spans", "text_pack_sequences",
    "text_bpe_train", "text_bpe_segment_fast", "text_line_dedup_incremental",
    "dedup_substring_spans_incremental", "pipeline_curation_e2e",
    "pipeline_ingest_curated", "text_gopher_rules", "text_pii_categories",
    "text_ccnet_tiers", "text_gopher_repetition", "text_char_stats",
    "text_quality_profile",
    "dedup_semantic", "dedup_semantic_capped", "dedup_embedding_cosine",
    "dedup_semantic_incremental",
    // round-13 ops layer: per-user windows (sessionize/stats), one-pass
    // funnel aggregate, shared-scan constraint suite, co-partitioned
    // full-outer diff, row-local canary scan, iterative integer PageRank,
    // broadcast-postings BM25 — every declared input scales with sf
    "events_sessionize", "events_session_stats", "events_funnel",
    "events_retention", "dq_constraints", "corpus_snapshot_diff",
    "text_canary_scan", "graph_pagerank", "search_bm25", "agg_hll_mergeable",
    "text_quality_classifier", "events_sessionize_incremental", "corpus_scd2",
    // round-13 second wave: profile-driven suggestion (deliberate
    // #columns-fold one-off pass), hybrid/expanded retrieval (broadcast-only
    // query-side joins), path/transition/attribution/anomaly event analytics
    // (user-key windows + aggregated-grid windows), KLL store (map-side
    // sketch partials), A-ES sampling + PMI (row-local keys / two reduces,
    // TakeOrderedAndProject top-k)
    // round-14 wave: co-occurrence (+store twin), triangles (degree-
    // oriented wedges), FD check (per-candidate key aggregates), join
    // pre-flight (histogram-only), quantile normalization (driver-metadata
    // map), leakage split (CC over the pair graph), z-order (row-local
    // z + one range exchange), pHash near-dup (row-local decode + banding)
    "graph_copurchase", "graph_copurchase_incremental", "graph_triangles",
    "dq_fd_check", "dq_join_preflight", "corpus_quantile_normalize",
    "corpus_leakage_split", "layout_zorder",
    "agg_theta_segments", "events_anomaly_seasonal", "mm_audio_fp_invariance",
    // round-14 second wave. OUT for the join_fuzzy_edit reason (declared
    // inputs whose OUTPUT is quadratic in the amplified corpus by
    // construction): corpus_leakage_split_incremental (fixed-vocabulary
    // first tokens) and the phash/video PLANTED-RECALL property queries
    // (the demo generators repeat every 256 ids, so planted pairs — and
    // the identical-hash join — grow quadratically; image_phash_operator
    // below isolates the actual row-local hash stage)
    "graph_related_items", "events_session_copurchase", "corpus_apply_changes",
    "corpus_scd2_asof", "dq_calibration", "corpus_quantile_normalize_frozen",
    "events_resample_daily", "dq_ref_integrity",
    "dq_suggest", "search_hybrid_rrf", "search_hybrid_rrf_ann",
    "search_bm25_expanded",
    "events_top_paths", "events_transitions", "events_attribution",
    "events_attribution_incremental", "events_anomaly_daily",
    "agg_kll_mergeable", "agg_freq_mergeable", "corpus_weighted_sample",
    "corpus_weighted_sample_by", "text_pmi_bigrams", "search_eval_ndcg",
    "dq_skew_report", "dq_outliers_mad", "dq_drift_psi", "dq_drift_psi_cat",
    "dq_drift_embedding", "events_session_paths", "events_funnel_latency",
    "dedup_cc_sizes",
    // round-15 wave: incremental BM25 merge (union + term-key reduce over
    // posting rows), script tokenizer (row-local regexp), native session
    // windows (one user-key exchange), unigram-LM trainer + segmenter
    // (row-local Viterbi over the word-frequency table; bounded score
    // collects per round)
    "search_bm25_incremental", "text_tokens_script", "text_tokens_script_sea",
    "stream_session_window",
    "text_unigram_train", "text_unigram_segment", "search_ql_dirichlet",
    "text_unigram_fertility", "graph_kcore",
    // round-15 second wave: KS drift (two value-key reduces + bucketed
    // two-level prefix sum), per-label embedding outliers (label-key
    // reduces), RFM + A/B (user-key then O(variants)), LPA (per-round
    // edge-key join + node-key reduce), interval overlap (bin equi-join),
    // readability (row-local), q4/q21 shapes (semi/anti hash joins)
    "dq_drift_ks", "dq_embedding_outliers", "events_rfm", "events_ab_test",
    "graph_lpa", "join_interval_overlap", "text_readability",
    "tpch_q4_order_priority", "tpch_q21_waiting_shape",
    // round-15 third wave: chi-square drift (PSI-cat domain machinery),
    // daily trend slopes (one (group, day) reduce + O(groups x days)
    // grid), personalized PageRank (the pagerank two-shuffle loop),
    // JL projection ANN (row-local projection + broadcast coarse scan),
    // Zipf fit (one term reduce + TakeOrderedAndProject head)
    "dq_drift_chi2", "events_trend_slope", "graph_ppr", "sim_topk_rp",
    "text_zipf_fit",
    // round-15 fourth wave: rolling distinct actives (contribute-then-
    // fold, O(activity x window)), CUSUM change point (the trendSlope
    // dense-grid shape + group-key windows), bounded-lookback as-of
    "events_rolling_wau", "events_changepoint_cusum", "join_asof_tolerance",
    "tpch_q10_returned_items",
    // round-16 wave: q13 (COUNT-bug left-outer distribution — two key
    // reduces after one customer↔orders hash join), q17 (decorrelated
    // scalar-avg — one per-part aggregate broadcast back onto the fact),
    // q22 (anti hash join under a broadcast 1-row average), Benford
    // (row-local digit projection + 9-key reduce + broadcast total)
    "tpch_q13_customer_distribution", "tpch_q17_small_quantity",
    "tpch_q22_sales_opportunity", "dq_benford",
    // q16: distinct bridge reduce + anti hash join + grouped distinct
    "tpch_q16_supplier_cnt",
    // round-17 wave: the remaining TPC-H topologies (q2 decorrelated MIN
    // over the distinct bridge, q15 view-max broadcast, q20 folded
    // correlated agg + semi join, q6 pure pushdown scan, q7/q8 two-role
    // nation joins, q11 group-HAVING vs broadcast global scalar, q12/q14
    // CASE aggregates, q19 per-side OR pushdown) + the row-local HTML
    // extraction rule chain
    "tpch_q2_min_cost_supplier", "tpch_q15_top_supplier",
    "tpch_q20_hot_parts_supplier", "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping", "tpch_q8_market_share",
    "tpch_q11_important_stock", "tpch_q12_late_shipments",
    "tpch_q14_promo_effect", "tpch_q19_discount_revenue",
    "text_html_extract")

  /** Queries whose declared input is intentionally sf-independent (oracle
    * boundedness) — their ratio is expected ≈1 and says nothing about scaling. */
  val FixedInput: Set[String] = Set("dedup_cc_exact", "dedup_cc_sizes")

  /** Entries whose cost driver is CHARACTERS, not rows/tokens (r18 — the
    * r17 verdict #3 investigation): the bijection amplifier rewrites every
    * token of replicas i>0 to a 16-hex digest, so the amplified dir holds
    * `data_ratio`x the rows and tokens but ~2.9x MORE characters per
    * bijected token (measured 28.85x chars at 10x rows, sf0.1 →
    * target/scale/sf1). A char-linear operator therefore measures
    * ~2-3x data_ratio against the ROW ratio while being sublinear against
    * its true driver — the artifact reports `char_ratio` alongside
    * `data_ratio` and flags these entries so their ratios are read against
    * the right denominator. This, not the oracle-harness sort, is the bulk
    * of the r17 "superlinear" token rows (tokens_script_operator with NO
    * sort still measures ~17x at 10x = 0.59x per char). */
  val CharBound: Set[String] = Set(
    "text_tokens_script", "text_tokens_script_sea",
    "tokens_script_operator", "tokens_script_sea_operator",
    "text_html_extract")

  /** LM-gated composites measured against the VOCAB-REUSE amplified dir:
    * under the default token bijection the replicas' vocabularies are
    * disjoint, the LM gate drops most amplified docs at stage 1, and the
    * composite's ratio measures collapsed work (r9: 0.29–0.32×). The reuse
    * mode keeps the source vocabulary (identical unigram stats → the gate
    * keeps the source fraction) while hash-permuting token order so dedup
    * stages still see no cross-replica near-dups — the ratio then reflects
    * 10× of the real pipeline work. Dedup-focused entries stay on the
    * bijection dir (vocabulary disjointness is the stronger guarantee
    * there). */
  val VocabReuse: Set[String] = Set("pipeline_corpus_e2e", "pipeline_ingest_batch")

  /** Queries where a BroadcastNestedLoopJoin is the intended plan: a tiny
    * broadcast side (the query set / centroid table) against every row is
    * exactly what brute-force scoring and IVF cell-probing mean;
    * `dedup_cc_exact`'s declared input IS the bounded all-pairs cosine set
    * (vec_id < 300 at every sf — its oracle needs DuckDB-recomputable
    * pairs), joined on `id_a < id_b`; and `dedup_incremental`'s PROPERTY
    * QUERY assembles four single-row aggregates via crossJoin (1×1 BNLJ —
    * the operator itself is equi-band hash joins). Everything else must
    * stay hash/sort based, and CartesianProduct is never allowed. (The
    * listener-based check sees the executed per-round plans, which is how
    * the cc BNLJ — invisible to the old unexecuted-plan stringification —
    * surfaced.) */
  val BnljAllowed: Set[String] =
    Set("sim_topk_ivf", "sim_topk_brute", "sim_topk_int8", "sim_topk_ivfpq",
      "sim_topk_ivfpq_residual",
      "dedup_cc_exact", "dedup_incremental",
      // the size audit shares dedup_cc_exact's bounded all-pairs input and
      // adds its own broadcast 1-row node total
      "dedup_cc_sizes",
      // 1-row broadcast sides by construction: corpus totals (T, V) / doc
      // count N ride a single-row aggregate crossJoin in the LM and TF-IDF
      // scorers (and the gate, which embeds the LM scorer), and
      // trainCentroids broadcasts its k-row centroid table
      "text_lm_quality", "text_lm_bigram", "text_tfidf_topterms", "sim_ivf_train",
      // the e2e assembly embeds the gate's LM scorer (1-row totals) and the
      // capped-query 1-row drop-count aggregate; the ingestion micro-batch
      // embeds the same frozen-LM scorer shape
      "text_quality_gate", "pipeline_corpus_e2e", "pipeline_ingest_batch",
      // 1-row broadcast sides by construction: the PQ codebook array rides
      // a single-row crossJoin in training/encoding/LUT building, and the
      // DSIR scorer crossJoins its single-row model map + totals aggregates
      "sim_topk_pq_rotated", "text_dsir_select",
      // the curation composite embeds the OOV gate's 1-row vocabulary-total
      // crossJoin and epochMix's 1-row budget-total crossJoin; the curated
      // ingestion micro-batch embeds the same gate via curateMicroBatch
      "pipeline_curation_e2e", "pipeline_ingest_curated",
      // ccnet embeds the LM scorer's 1-row corpus-totals crossJoin, and
      // the quality profile embeds the same scorer
      "text_ccnet_tiers", "text_quality_profile",
      // semanticDedup crossJoins the broadcast 1-row centroid array for
      // row-local assignment (and trainCentroids does the same per round);
      // the embedding_cosine declared query bundles the bounded (<300)
      // exact-pair property oracle, which joins on id_a < id_b
      "dedup_semantic", "dedup_semantic_capped", "semantic_dedup_operator",
      "dedup_embedding_cosine", "embedding_cosine_operator",
      // the incremental twin shares semanticDedup's broadcast 1-row
      // centroid crossJoin (assignment fold + trainCentroids rounds)
      "dedup_semantic_incremental",
      // bm25's corpus constants (N, avgdl) ride a single-row aggregate
      // crossJoin, the tfidf/LM-scorer shape; the incremental merge
      // recomputes the same 1-row constants from merged postings
      "search_bm25", "search_bm25_incremental",
      // QL's collection-total and per-query-size constants ride the same
      // 1-row/broadcast crossJoin shape
      "search_ql_dirichlet",
      // the classifier's corpus count and bias ride 1-row aggregate
      // crossJoins per iteration (the LM-scorer shape)
      "text_quality_classifier",
      // hybrid fusion embeds bm25's 1-row constants crossJoin AND the
      // dense brute-force broadcast-queries-against-every-row scan;
      // expansion embeds the same bm25 constants in both rounds; PMI
      // crossJoins its broadcast 1-row totals aggregate
      "search_hybrid_rrf", "search_bm25_expanded", "text_pmi_bigrams",
      // the indexed hybrid embeds bm25's 1-row constants AND the IVF×PQ
      // broadcast sides (codebook/centroid crossJoins, probe cells)
      "search_hybrid_rrf_ann",
      // the eval query embeds the brute-force dense retriever it measures
      "search_eval_ndcg",
      // the skew report's 1-row total rides a broadcast crossJoin against
      // the k survivors (the LM-scorer shape)
      "dq_skew_report",
      // PSI's 1-row edge array crossJoins onto both row scans and the two
      // 1-row totals onto the O(buckets) grid (the LM-scorer shape); the
      // categorical twin crossJoins its three 1-row totals the same way
      "dq_drift_psi", "dq_drift_psi_cat",
      // (the PassJoin short-string branch was re-expressed as a length-key
      // EQUI join after the 100x rehearsal caught its Cartesian fallback,
      // so the fuzzy entries no longer need a BNLJ allowance —
      // PlanQualitySpec pins both branches as pure equi-joins)
      // 1-row broadcast sides by construction: the basket-total crossJoin
      // (copurchase direct + store-served), the join-preflight totals
      // crossJoin, and zorder's 1-row min/max bounds crossJoin
      "graph_copurchase", "graph_copurchase_incremental",
      "dq_join_preflight", "layout_zorder",
      // the declared triangles/kcore queries build their edges through
      // coOccurrence and so embed the same 1-row basket-total crossJoin
      "graph_triangles", "graph_kcore",
      // more copurchase-embedding queries (basket-total crossJoin), the
      // calibration ECE 1-row broadcast, and the pHash/video property
      // queries' bounded doc_id-arithmetic planted joins
      "graph_related_items", "events_session_copurchase", "dq_calibration",
      "mm_video_phash_neardup",
      // ref-integrity's totals ride the same 1-row broadcast crossJoin
      "dq_ref_integrity",
      // the pHash property query's PLANTED side is a doc_id-arithmetic
      // non-equi self-join (bounded: id pairs 256 apart), not the operator
      "mm_image_phash_neardup",
      // KS drift: 1-row broadcast sides by construction — the quantile
      // edge array, the (n_ref, n_cur) totals, and the 1-row max-gap
      // frame (a broadcast theta-join against the gap table); RFM's edge
      // arrays and A/B's 1-row control row ride the same shape; the LPA
      // declared query builds edges through coOccurrence (basket-total
      // crossJoin)
      "dq_drift_ks", "events_rfm", "events_ab_test", "graph_lpa",
      // chi2 rides PSI-cat's 1-row totals crossJoin; trend slope's 2-row
      // global day bounds ride a broadcast crossJoin; the JL coarse pass
      // IS the broadcast-queries-against-every-row scan (the brute shape)
      "dq_drift_chi2", "events_trend_slope", "sim_topk_rp",
      // 1-row broadcast sides: the WAU day-bound and the CUSUM global
      // day-bounds ride broadcast crossJoins (the trendSlope shape)
      "events_rolling_wau", "events_changepoint_cusum",
      // q22's 1-row average and Benford's 1-row total ride broadcast
      // crossJoins by construction
      "tpch_q22_sales_opportunity", "dq_benford",
      // q15's 1-row view max and q11's 1-row threshold ride broadcast
      // crossJoins by construction (the q22 scalar shape)
      "tpch_q15_top_supplier", "tpch_q11_important_stock")

  def queryFns: Seq[(String, (SparkSession, String) => DataFrame)] =
    Heavy.map(n => n -> SparkEntry.queries(n)) ++ Seq(
      "cc_scaled_simhash" -> ((s: SparkSession, d: String) =>
        Dedup.connectedComponents(
          Dedup.simhashNearDup(Tables.load(s, d, "documents"), "doc_id", "text")
            .select(col("id_a"), col("id_b")),
          "id_a", "id_b")),
      // the declared dedup_minhash_lsh / dedup_incremental queries bundle
      // the operator with an exact hi-Jaccard PROPERTY ORACLE (the
      // inverted-index pair derivation) — these audit-only entries isolate
      // the product operators, so the artifact shows which side carries
      // each composite's ratio
      "minhash_lsh_operator" -> ((s: SparkSession, d: String) =>
        Dedup.minHashLsh(Tables.load(s, d, "documents"), "doc_id", "text")),
      "incremental_operator" -> ((s: SparkSession, d: String) => {
        val docs = Tables.load(s, d, "documents")
        Dedup.incrementalNearDup(
          docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text")
      }),
      // isolates the n-gram Jaccard operator in its PRODUCTION configuration
      // (finite DefaultMaxShingleDf df-cut) from the declared query, which
      // opts in to Exact for its DuckDB oracle — the r9 audit's worst entry
      // (4.54x +-5.2s) was gating on the exact opt-in shape
      "ngram_jaccard_operator" -> ((s: SparkSession, d: String) =>
        Dedup.ngramJaccardBestMatch(Tables.load(s, d, "documents"),
          "doc_id", "text", blockCol = "lang")),
      // isolates the PassJoin operator on a mostly-unique key (24-char text
      // prefixes) — the declared join_fuzzy_edit query runs on FIRST TOKENS,
      // whose fixed vocabulary makes the OUTPUT pair set itself quadratic in
      // the corpus (inherent to that input, not the operator); prefixes keep
      // segment-key frequencies bounded so the ratio measures the operator
      // isolates the pHash stage (decode + block-average + DCT + threshold,
      // row-local) from the planted-recall property join, whose output is
      // quadratic on the phase-repeating demo corpus
      "image_phash_operator" -> ((s: SparkSession, d: String) => {
        import graft.multimodal.Multimodal
        Multimodal.imagePHashes(Multimodal.encodeDemoPng(
          Tables.load(s, d, "documents").select(col("doc_id")), "doc_id"))
      }),
      "fuzzy_edit_operator" -> ((s: SparkSession, d: String) =>
        graft.operators.FuzzyJoin.editDistancePairs(
          Tables.load(s, d, "documents")
            .select(col("doc_id"),
              org.apache.spark.sql.functions.substring(col("text"), 1, 24).as("w")),
          "doc_id", "w", maxDist = 2)),
      // isolates the SemDeDup pair/CC/election stages from Lloyd training
      // (the declared dedup_semantic entries time train + dedup): centroids
      // are a fixed 8-row slice, so the ratio is the dedup machinery's own
      "semantic_dedup_operator" -> ((s: SparkSession, d: String) => {
        val emb = Tables.load(s, d, "embeddings")
        val cents = emb.orderBy("vec_id").limit(8)
          .select((col("vec_id") % 8).as("cell"), col("embedding").as("cvec"))
        Dedup.semanticDedup(emb, "vec_id", "embedding", cents, "cell", "cvec",
          threshold = 0.3)
      }),
      // isolates the LSH-bucketed embedding near-dup operator from the
      // declared query's bounded exact-pair property oracle
      "embedding_cosine_operator" -> ((s: SparkSession, d: String) =>
        Dedup.embeddingNearDup(Tables.load(s, d, "embeddings"), "vec_id", "embedding",
          dim = 64, threshold = 0.3, nbits = 2)),
      // the same operator at the AUTO-SIZED default (recommendedNbits over
      // the corpus count): occupancy — and so the within-bucket quadratic
      // term — stays bounded as sf grows, where the fixed-nbits row above
      // documents the drift the default used to inherit
      "embedding_cosine_autosized_operator" -> ((s: SparkSession, d: String) =>
        Dedup.embeddingNearDup(Tables.load(s, d, "embeddings"), "vec_id", "embedding",
          dim = 64, threshold = 0.3)),
      // round 15: the OR-amplified multi-table twin at FULL auto defaults
      // ((nbits, K) both sized) — per-table cost keeps the Σ occupancy²
      // bound, total = K × single-table candidate work, so the ratio
      // should track the autosized row times a bounded constant
      // default dials. 10x-audited here; EXCLUDED from the single-box
      // 100x rehearsal by disposition: candidate volume is LINEAR at
      // ~n · targetBucketSize · K rows (the operator contract), but the
      // default 1024-occupancy constant means ~7.5e8 candidate rows at
      // the rehearsal's 200k vectors — a cluster-scale shuffle that
      // overran ONE box's local disk, not a plan defect (zero quadratic
      // nodes; turning the dial down instead hits the K<=32 recall cap
      // at low thresholds). The per-vector constant, not the growth
      // rate, is what a 100 TB deployment sizes executors by.
      "embedding_multitable_operator" -> ((s: SparkSession, d: String) =>
        Dedup.embeddingNearDupMultiTable(Tables.load(s, d, "embeddings"),
          "vec_id", "embedding", dim = 64, threshold = 0.3)),
      // the DIALED-DOWN single-box configuration (r15 verdict #1): an 8×
      // smaller targetBucketSize raises nbits and recomputes K, cutting
      // the ~n·bucket·K candidate constant so ONE box's disk holds the
      // shuffle — the documented cost dial, measured rather than claimed.
      // (At threshold 0.3 this is an explicit recall trade past the K<=32
      // cap; the audit row gates COST shape, the declared query gates
      // recall at defaults.)
      "embedding_multitable_dialed_operator" -> ((s: SparkSession, d: String) =>
        Dedup.embeddingNearDupMultiTable(Tables.load(s, d, "embeddings"),
          "vec_id", "embedding", dim = 64, threshold = 0.3,
          targetBucketSize = 128L)),
      // the dial's next notch for the 100× single-box rehearsal: at 500k
      // vectors the 128 dial's ~2.05e9-candidate bound still exhausts one
      // box's hash-aggregate memory (measured r16: heap OOM at 64g during
      // the candidate dedup) — 32 bounds it at ~5.1e8, which fits. The
      // dial is continuous; a box picks the notch its memory affords, a
      // cluster runs the defaults.
      "embedding_multitable_dialed32_operator" -> ((s: SparkSession, d: String) =>
        Dedup.embeddingNearDupMultiTable(Tables.load(s, d, "embeddings"),
          "vec_id", "embedding", dim = 64, threshold = 0.3,
          targetBucketSize = 32L)),
      // round 17: the multi-probe fix for the multi-table watch item (Lv
      // et al., VLDB 2007): ONE table probed at T margin-ranked buckets
      // per vector instead of K independent tables — the index stays O(n)
      // rows at any T (vs O(K·n) with K growing under the recall
      // contract), the candidate budget is the same ~n·occupancy·T, and
      // at equal budget the measured recall BEATS multi-table (sf0.01:
      // probes=4 → 1.00 vs tables=4 → 0.82 at nbits=2; probes=2 → 0.72
      // vs tables=2 → 0.56 — MeasureProps). Audited at the same default
      // dials as the multitable row for a like-for-like ratio.
      "embedding_multiprobe_operator" -> ((s: SparkSession, d: String) =>
        Dedup.embeddingNearDupMultiProbe(Tables.load(s, d, "embeddings"),
          "vec_id", "embedding", dim = 64, threshold = 0.3)),
      // the single-box 100x notch (same role as dialed32 above): a small
      // targetBucketSize raises nbits so the O(n) index spreads over more,
      // smaller buckets and one box's memory holds the candidate dedup
      "embedding_multiprobe_dialed32_operator" -> ((s: SparkSession, d: String) =>
        Dedup.embeddingNearDupMultiProbe(Tables.load(s, d, "embeddings"),
          "vec_id", "embedding", dim = 64, threshold = 0.3,
          targetBucketSize = 32L)),
      // round 18 (r17 verdict #1): the incremental/serving shape — a 20%
      // batch probed at T buckets against the O(n) base-bucket index of
      // the other 80%; the corpus side never self-joins and never
      // re-buckets, so the cost class is n·T·occupancy with the corpus
      // scan read once — the same plan serves a streaming batch side
      // per micro-batch
      "embedding_multiprobe_incremental_operator" -> ((s: SparkSession, d: String) => {
        val emb = Tables.load(s, d, "embeddings")
        Dedup.embeddingNearDupMultiProbeIncremental(
          emb.filter(col("vec_id") % 5 =!= 0), emb.filter(col("vec_id") % 5 === 0),
          "vec_id", "embedding", dim = 64, threshold = 0.3)
      }),
      // round 18 (r17 verdict #3): isolates tokenCount from the declared
      // queries' corpus-wide `.orderBy("doc_id")` — an oracle-harness
      // global sort users never run, and the ONLY superlinear 100× row
      // (text_tokens_script_sea 220.7× — a single-box spill artifact of
      // sorting 30M rows, not operator cost). Same planted-CJK/SEA union
      // and both token counts, folded to one global aggregate instead of
      // sorted: the scan + row-local regexp work is identical, the
      // measured cost is the operator's own
      "tokens_script_operator" -> ((s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions.{concat, count, lit, substring, sum}
        val docs = Tables.load(s, d, "documents")
        val planted = docs.filter(col("doc_id") % 100 === 7)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(lit("深度学習モデル학습 데이터 "),
              substring(col("text"), 1, 40)).as("text"))
        docs.select("doc_id", "text").unionByName(planted)
          .select(
            graft.functions.TextFunctions.tokenCount(col("text")).as("n_ws"),
            graft.functions.TextFunctions.tokenCount(col("text"), "script").as("n_script"))
          .agg(sum(col("n_ws")).as("total_ws"), sum(col("n_script")).as("total_script"),
            count(lit(1)).as("n_docs"))
      }),
      "tokens_script_sea_operator" -> ((s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions.{concat, count, lit, substring, sum}
        val docs = Tables.load(s, d, "documents")
        val planted = docs.filter(col("doc_id") % 100 === 13)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(lit("สวัสดีชาวโลก ສະບາຍດີ မင်္ဂလာပါ កម្ពុជា "),
              substring(col("text"), 1, 40)).as("text"))
        docs.select("doc_id", "text").unionByName(planted)
          .select(
            graft.functions.TextFunctions.tokenCount(col("text")).as("n_ws"),
            graft.functions.TextFunctions.tokenCount(col("text"), "script").as("n_script"))
          .agg(sum(col("n_ws")).as("total_ws"), sum(col("n_script")).as("total_script"),
            count(lit(1)).as("n_docs"))
      }),
      // isolates the batch-vs-STORE winnow join of the ingestion pipeline
      // (the stage the SCALE_r11 watch item names for the composite's
      // 11.1x): store = 90% of the corpus, batch = 10% — BOTH sides scale
      // with sf, matching how the real store grows with the corpus
      "ingest_store_join_operator" -> ((s: SparkSession, d: String) => {
        val docs = Tables.load(s, d, "documents")
        Dedup.winnowIncremental(
          docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text")
      }))

  /** Flags CartesianProduct / disallowed BroadcastNestedLoopJoin in the
    * plans that actually EXECUTED while registered. Reading
    * `df.queryExecution.executedPlan` after the action would inspect a
    * separate QueryExecution the noop write never ran — under AQE that
    * stringifies the initial (isFinalPlan=false) plan and misses runtime
    * replans, and for the iterative operators the returned frame is just a
    * checkpoint scan. The listener instead sees every completed action's own
    * QueryExecution after AQE finalized it — including the per-round
    * checkpoint and convergence-count actions of connectedComponents /
    * refineToFixpoint (Dataset.checkpoint and count both run via
    * `withAction`, so both report here). */
  final class PlanFlagListener(allowBnlj: Boolean) extends QueryExecutionListener {
    @volatile var flagged = false
    private def check(qe: QueryExecution): Unit = {
      val plan = qe.executedPlan.toString
      if (plan.contains("CartesianProduct") ||
        (plan.contains("BroadcastNestedLoopJoin") && !allowBnlj)) flagged = true
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      check(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      check(qe)
  }

  /** One timed entry. Construction is INSIDE the timer: the iterative
    * operators (connected components, fixpoint refinement) execute their
    * rounds eagerly while the result frame is being built, so timing only
    * the final write would miss the actual work. The reported number is the
    * MEDIAN of `runs` passes WITH the spread (max−min) alongside: a
    * best-of-N gate let one lucky pass mask a real regression, and a
    * single-pass gate committed a GC/AQE outlier as "the" number more than
    * once (the r8 dedup_minhash_lsh 3.17–6.84 s band) — median+spread makes
    * both failure modes visible in the artifact itself. The plan flag
    * covers every action all runs executed (see [[PlanFlagListener]]);
    * listener delivery is asynchronous, so the bus is drained before the
    * flag is read. */
  def runOne(spark: SparkSession, dir: String, name: String,
      fn: (SparkSession, String) => DataFrame, runs: Int = 3): (Double, Double, Boolean) = {
    val listener = new PlanFlagListener(BnljAllowed.contains(name))
    spark.listenerManager.register(listener)
    try {
      def once(): Double = {
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val times = Seq.fill(runs)(once()).sorted
      graftbridge.drainListenerBus(spark)
      (times(times.size / 2), times.last - times.head, listener.flagged)
    } finally {
      spark.listenerManager.unregister(listener)
      // The checkpoint-pinned stage tables of the pipeline entries (and any
      // cached frames) otherwise ACCUMULATE across the whole audit — by the
      // sf1 phase the block manager is carrying dozens of dead entries'
      // blocks and GC noise swamps the timings (observed: spreads jumping
      // from ±0.5 s to ±10 s once the 24th/25th entries joined the set).
      // Between entries nothing is live, so drop it all.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }
  }

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("SCALE_r05.json")
    val smallDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val bigDir = args.lift(2).getOrElse("target/scale/sf1")
    val bigVocabDir = args.lift(3).getOrElse("target/scale/sf1v")
    // 6th arg: amplification factor (default 10) — 100 turns the audit
    // into the second-decade (sf10) rehearsal; reported as data_ratio
    val copies = args.lift(5).flatMap(_.toIntOption).getOrElse(10)
    // 7th arg: timed passes per entry (default 5). The sf10 rehearsal runs
    // 3: its per-entry cost is ~10× the sf1 audit's, and the flagship
    // entries it gates are the ones whose sf1 spreads are already tight
    val runsPerEntry = args.lift(6).flatMap(_.toIntOption).getOrElse(5)
    val warmDir = "/root/testdata/sf0.01"
    val spark = LocalSession(32)

    if (!Files.exists(Paths.get(bigDir)))
      Amplify.amplify(spark, smallDir, bigDir, copies = copies)
    if (!Files.exists(Paths.get(bigVocabDir)))
      Amplify.amplify(spark, smallDir, bigVocabDir, copies = copies, vocabMode = "reuse")

    // measured char-volume ratio between the two documents tables: the
    // denominator CharBound entries scale against (the bijection amplifier
    // inflates chars ~2.9x per replicated token while rows/tokens scale
    // exactly by data_ratio)
    val charRatio = {
      def chars(dir: String): Double =
        Tables.load(spark, dir, "documents")
          .agg(org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.length(col("text"))))
          .head.getLong(0).toDouble
      chars(bigDir) / chars(smallDir)
    }

    // dev-only 5th arg: comma-separated entry names to isolate while
    // iterating on one row (the committed artifact is always the full run)
    val only = args.lift(4).filter(_.nonEmpty).map(_.split(',').toSet)
    val fns = only.fold(queryFns)(names => queryFns.filter(f => names(f._1)))
    // warm pass: JIT + codegen cache on the small sf — one run suffices
    fns.foreach { case (n, fn) => runOne(spark, warmDir, n, fn, runs = 1) }

    // median-of-5: with per-entry storage cleanup the full audit is cheap
    // enough that two extra passes buy real outlier resistance (a lone GC
    // pause no longer lands within one slot of the median)
    val small = fns.map { case (n, fn) =>
      val (secs, spread, flagged) = runOne(spark, smallDir, n, fn, runs = runsPerEntry)
      println(f"[scale] sf0.1 $n%-28s ${secs}%7.2fs ±${spread}%5.2f flagged=$flagged")
      n -> (secs, spread, flagged)
    }.toMap
    val big = fns.map { case (n, fn) =>
      val dir = if (VocabReuse.contains(n)) bigVocabDir else bigDir
      val (secs, spread, flagged) = runOne(spark, dir, n, fn, runs = runsPerEntry)
      println(f"[scale] sf1   $n%-28s ${secs}%7.2fs ±${spread}%5.2f flagged=$flagged")
      n -> (secs, spread, flagged)
    }.toMap

    val entries = fns.map { case (n, _) =>
      val (s, sSpread, fs) = small(n)
      val (b, bSpread, fb) = big(n)
      val ratio = b / s
      f"""    "$n": {"sf01_sec": $s%.3f, "sf01_spread": $sSpread%.3f, "sf1_sec": $b%.3f, "sf1_spread": $bSpread%.3f, "ratio": $ratio%.2f, "plan_flagged": ${fs || fb}, "fixed_input": ${FixedInput.contains(n)}, "char_bound": ${CharBound.contains(n)}}"""
    }
    val json =
      f"""{
  "data_ratio": $copies,
  "char_ratio": $charRatio%.2f,
  "char_note": "the bijection amplifier rewrites replica tokens to 16-hex digests, so chars grow ~2.9x faster than rows/tokens; entries marked char_bound do character-linear work and their honest denominator is char_ratio, not data_ratio (r17's 'superlinear' token rows read 0.6-0.8x per char)",
  "note": "amplified dir = Amplify ${copies}x key-shifted replication of sf0.1 (join fan-out preserved; per-replica token bijection for documents, component rotation for embeddings). The LM-gated pipeline composites (pipeline_corpus_e2e, pipeline_ingest_batch) run against the VOCAB-REUSE amplified dir instead: source vocabulary kept, token order hash-permuted per replica, so the quality gate keeps the source fraction and the ratio reflects ${copies}x of real pipeline work rather than gate-collapsed input (their r9 0.29-0.32x artifact). Per-entry numbers are MEDIAN-of-$runsPerEntry with spread (max-min) alongside, so a GC/AQE outlier cannot masquerade as the ratio; per-entry block-manager cleanup keeps one entry's checkpoint storage from polluting the next entry's GC profile. fixed_input queries keep an sf-independent declared input (oracle boundedness); ratio ~1 expected there. The *_operator entries isolate product operators from their composite property oracles - gate on those for the operator ratios.",
  "queries": {
${entries.mkString(",\n")}
  }
}
"""
    Files.write(Paths.get(outPath), json.getBytes(StandardCharsets.UTF_8))
    println(s"[scale] wrote $outPath")
    spark.stop()
  }
}
