package graft

import org.apache.spark.sql.SparkSession

/** Physical-plan shape assertions for the headline queries — the
  * properties that make them survive a 100 TB scale-up (pushdown,
  * broadcast where a side is small, top-k as TakeOrdered, bounded
  * aggregates instead of global windows, whole-stage codegen).
  * Run standalone (`sbt "runMain graft.PlanAudit [sfDir]"`) or from
  * PlanAuditSpec, which makes any plan regression fail `sbt test`. */
object PlanAudit {

  /** query name → required plan patterns; a "!pat" entry asserts the
    * pattern is ABSENT from the formatted physical plan. */
  val checks: Seq[(String, Seq[String])] = Seq(
    "q_p2_eq_filter" -> Seq("PushedFilters: \\[.*EqualTo", "codegen id"),
    "q_p6_interval" -> Seq("PushedFilters: \\[.*GreaterThan", "codegen id"),
    "q_j1_fk_expand" -> Seq("BroadcastHashJoin", "codegen id"),
    "q_j2_exists_semi" -> Seq("LeftSemi", "PushedFilters: \\[.*GreaterThan"),
    "q_o2_topk" -> Seq("TakeOrderedAndProject"),
    // offset pagination must be the bounded per-partition top-(page·size)
    // heap, never a global row_number window through one reducer
    "q_o3_page_slice" -> Seq("TakeOrderedAndProject", "!Window"),
    "q_a2_account_rollup" -> Seq("HashAggregate", "codegen id"),
    // top-k must be the bounded aggregate (map-side partial), never a
    // per-query Window funneling the corpus through one reducer
    "q_sim1_cosine_topk" -> Seq("BroadcastNestedLoopJoin|BroadcastHashJoin",
      "ObjectHashAggregate", "!Window"),
    // MIPS: same contract as sim1 — queries broadcast, bounded top-k agg
    "q_sim7_mips" -> Seq("BroadcastNestedLoopJoin|BroadcastHashJoin",
      "ObjectHashAggregate", "!Window"),
    "q_dd2_jaccard_pairs" -> Seq("!Window"),
    // cluster profile: assignment is a map pass, every statistic is a
    // partial-aggregatable hash agg (tie-breaks ride inside struct
    // min/max) — no Window, no per-cell sort, no cartesian
    "q_clu1_topic_profile" -> Seq("HashAggregate", "!Window",
      "!CartesianProduct"),
    // cluster inputs come from the banded LSH candidate machinery — no
    // shuffle may ever be keyed on the low-cardinality lang column, whose
    // dominant bucket is a near-cartesian self-join at corpus scale
    "q_dd6_dup_clusters" -> Seq("!hashpartitioning\\(lang", "!Window"),
    "q_dd7_dedup_corpus" -> Seq("!hashpartitioning\\(lang"),
    // the bloom gate must survive optimization as a map-side Filter on
    // the batch (the codegen'd probe expression appears in the plan) and
    // the verify must stay an equi anti-join on the 128-bit fingerprint
    "q_dd11_bloom_gate" -> Seq("bloommightcontainlong", "LeftAnti",
      "!CartesianProduct", "!Window"),
    // benchmark side must broadcast — the corpus must never shuffle on
    // the exploded n-gram key
    "q_txt7_contamination" -> Seq("BroadcastHashJoin", "!SortMergeJoin"),
    // the split is one codegen'd hash+compare per row: no join, no
    // aggregate, no window anywhere in the plan (the trailing orderBy is
    // oracle-parity output ordering, not part of the operator)
    "q_samp2_stratified_sample" -> Seq("codegen id", "!Window",
      "!HashAggregate", "!Join"),
    // frame sampling is scan → batch decode → explode → sort: the
    // per-clip grid must never become a join, aggregate or window
    "q_mm2_frame_sample" -> Seq("!Window", "!HashAggregate", "!Join"),
    // the as-of join must bind on its equi keys (time tolerance as a
    // post-condition) — never a nested-loop/cartesian over the range
    // predicate, which is quadratic in the key's row count
    "q_j6_asof_join" -> Seq("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
      "!BroadcastNestedLoopJoin", "!CartesianProduct"),
    // backward as-of: same contract as j6 — the lookback predicate rides
    // the equi-join on the key, never a nested-loop over the range
    "q_j13_asof_before" -> Seq(
      "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
      "!BroadcastNestedLoopJoin", "!CartesianProduct"),
    // trending terms: ONE map-side-combined sketch aggregation on the
    // window key (O(capacity) state), the per-term rows explode out of
    // the summary — never a join, never a per-term window ranking
    "q_srch4_trending_terms" -> Seq("ObjectHashAggregate", "!Join",
      "!Window", "!CartesianProduct"),
    // line dedup: doc-frequency and rebuild are hash-keyed aggregations
    // and the join back is an equi-join — never a cartesian, never a
    // window over the whole corpus
    "q_txt9_line_dedup" -> Seq("HashAggregate", "!CartesianProduct",
      "!Window"),
    // surprisal: per-(doc,word) pre-aggregation before anything is
    // keyed by word alone; the 1-row total broadcasts (BNLJ on one row
    // is a broadcast, not a cartesian)
    "q_txt10_surprisal" -> Seq("HashAggregate", "!CartesianProduct",
      "!Window"),
    // mixture sampling compiles to one codegen'd hash+compare filter —
    // the supply counts were resolved before this plan exists
    "q_samp4_target_mixture" -> Seq("codegen id", "!Window",
      "!HashAggregate", "!Join"),
    // quantization + reconstruction error is pure per-row array math
    "q_sim4_quantize" -> Seq("codegen id", "!Window", "!HashAggregate",
      "!Join"),
    // PQ: encode/decode/error are literal-backed per-row map passes over
    // the corpus — no join, no window, no aggregate anywhere
    "q_sim5_pq" -> Seq("!Window", "!Join", "!HashAggregate",
      "!CartesianProduct"),
    // PQ ANN: queries broadcast over the coded corpus, ranking in the
    // bounded top-k aggregate — never a window, never a raw cartesian
    "q_sim6_pq_ann" -> Seq("BroadcastNestedLoopJoin|BroadcastHashJoin",
      "ObjectHashAggregate", "!Window", "!CartesianProduct"),
    // curation funnel: the lang equality must reach the scan, the
    // contamination benchmark side must broadcast, and nothing may
    // cartesian
    "q_cur1_curation_funnel" -> Seq("PushedFilters: \\[.*EqualTo\\(lang",
      "BroadcastHashJoin", "!CartesianProduct"),
    // domain gate: the per-source verdict table (|sources| rows) must
    // broadcast back as a semi-join — the corpus never shuffles on source
    "q_cur2_source_filter" -> Seq("LeftSemi", "BroadcastHashJoin",
      "!CartesianProduct", "!Window"),
    // sessionization: every window partitions BY USER — an empty
    // partition spec (global window) would funnel the table through one
    // task
    "q_w3_sessionize" -> Seq("windowspecdefinition\\(user_id",
      "!windowspecdefinition\\(ts"),
    // k-per-group sample: bounded top-k aggregate state, never a window
    // ranking raw rows
    "q_samp5_group_sample" -> Seq("ObjectHashAggregate", "!Window",
      "!Join"),
    // sketch percentiles: mergeable imperative aggregate, never a sort
    // or window over raw events
    "q_a9_approx_percentile" -> Seq("ObjectHashAggregate", "!Window",
      "!Join"),
    // profiler: ONE aggregation pass — no join, no window, no per-column
    // scans (the per-column rows explode out of a 1-row aggregate)
    "q_prof1_table_profile" -> Seq("HashAggregate|SortAggregate", "!Join",
      "!Window"),
    // keyword search: ranking is the bounded top-k aggregate (map-side
    // partial state of k rows per query), query terms broadcast — never
    // a window over raw score rows, never a corpus-side SMJ
    "q_srch1_keyword_topk" -> Seq("ObjectHashAggregate",
      "BroadcastHashJoin", "!Window", "!CartesianProduct"),
    // frame dedup: candidate clip pairs form ONLY inside frame-hash
    // buckets (equi-join on the hash) — never all-pairs, never a window
    "q_mm5_frame_dedup" -> Seq("!CartesianProduct",
      "!BroadcastNestedLoopJoin", "!Window"),
    // BM25: same contract as srch1 — terms broadcast pre-shuffle,
    // bounded top-k aggregate, never a window or corpus-side SMJ
    "q_srch3_bm25" -> Seq("ObjectHashAggregate", "BroadcastHashJoin",
      "!Window", "!CartesianProduct"),
    // percentile report: every window runs over the DISTINCT (lang, tok)
    // table partitioned by lang — bounded state; no window may ever be
    // global (empty partition spec = whole table through one task)
    "q_rep1_corpus_report" -> Seq("windowspecdefinition\\(lang",
      "HashAggregate", "!windowspecdefinition\\(tok"),
    // vocab head: two-level count (map-side partial combine on term) with
    // the cut as the bounded per-partition heap — never a global window
    // ranking the vocabulary
    "q_srch2_top_terms" -> Seq("HashAggregate", "TakeOrderedAndProject",
      "!Window", "!Join"),
    // URL dedup: canonicalization is per-row codegen'd string work and
    // the keep-one is ONE hash aggregation on the canonical key
    "q_cur3_url_dedup" -> Seq("HashAggregate", "codegen id", "!Window",
      "!Join"),
    // contamination evidence: the benchmark n-gram union must broadcast —
    // the corpus must never shuffle (or SMJ) on the exploded n-gram key
    "q_txt13_contamination_hits" -> Seq("BroadcastHashJoin",
      "!SortMergeJoin", "!CartesianProduct"),
    // interval join: the range predicate must ride a (key, bin) EQUI-join
    // — a nested loop or cartesian over time bounds is quadratic per key
    "q_j9_interval_join" -> Seq(
      "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
      "!BroadcastNestedLoopJoin", "!CartesianProduct"),
    // funnel: the conversion match must ride the same (user, bin)
    // equi-join — never a per-user nested loop over time bounds
    "q_w4_funnel" -> Seq(
      "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
      "!BroadcastNestedLoopJoin", "!CartesianProduct"),
    // repeated-span dedup: candidates must form ONLY inside fingerprint
    // buckets (equi-join on the hash) — never an all-pairs comparison
    "q_dd12_substring_dup" -> Seq(
      "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
      "!BroadcastNestedLoopJoin", "!CartesianProduct"),
    // skew planner: partial agg + bounded top-k heap; the 1-row total
    // joins broadcast — no global sort, no window, no shuffled join
    "q_prof2_skew_salt" -> Seq(
      "TakeOrderedAndProject", "BroadcastNestedLoopJoin|BroadcastHashJoin",
      "!Window", "!SortMergeJoin"),
    // retention: per-user aggregates + a user-keyed equi-join — never a
    // first-seen window over raw events
    "q_w5_retention" -> Seq(
      "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", "!Window",
      "!CartesianProduct"),
    // keyset page: bounded top-k after the continuation filter — never
    // a global sort or a row_number window
    "q_o6_keyset_page" -> Seq("TakeOrderedAndProject", "!Window"),
    // salted join: the exchange must run on (key, salt) — the salt
    // column in the hashpartitioning IS the skew spread — and the join
    // stays the shuffled equi-join the salt exists for
    "q_j10_salted_join" -> Seq("SortMergeJoin|ShuffledHashJoin",
      "hashpartitioning\\([^)]*__salt", "!CartesianProduct",
      "!BroadcastNestedLoopJoin"),
    // snapshot diff: the crawl delta is ONE full-outer EQUI-join of
    // (id, fingerprint) pairs — text never shuffles, and a full outer
    // can never be a nested loop
    "q_cur4_snapshot_diff" -> Seq("SortMergeJoin|ShuffledHashJoin",
      "HashAggregate", "!CartesianProduct", "!BroadcastNestedLoopJoin"),
    // temperature mixture: the lang dims broadcast back (tiny
    // aggregates) — the corpus is never shuffled or sort-merge-joined
    "q_samp7_temperature_mix" -> Seq("BroadcastHashJoin", "!SortMergeJoin",
      "!Window", "!CartesianProduct"),
    // DSIR selection: the ≤numBuckets weight table broadcasts back onto
    // the (doc, bucket) pre-aggregation, selection is bounded top-k —
    // the corpus is never sort-merge-joined, windowed, or globally sorted
    "q_samp9_dsir" -> Seq("BroadcastHashJoin", "TakeOrderedAndProject",
      "!SortMergeJoin", "!Window", "!CartesianProduct"),
    // NB quality classifier: the ≤(numBuckets+1)-row model broadcasts
    // onto the held-out (doc, bucket) pre-aggregation — the corpus
    // never shuffles on a feature key — and selection is bounded top-k
    "q_cls1_nb_quality" -> Seq("BroadcastHashJoin", "TakeOrderedAndProject",
      "!SortMergeJoin", "!Window", "!CartesianProduct"),
    // classifier calibration: cls1's scoring plan folded to a 4-counter
    // confusion aggregate — still broadcast-joined, never windowed
    "q_cls2_nb_eval" -> Seq("BroadcastHashJoin", "HashAggregate",
      "!SortMergeJoin", "!Window"),
    // shard manifest: per-row assignment + ONE hash aggregation keyed
    // by shard (bounded xor/sum state) — no window, no join
    "q_samp6_shard_manifest" -> Seq("HashAggregate", "!Window", "!Join"),
    // token-shard prefix sum: the corpus-scale running total windows
    // PARTITIONED BY the draw bucket (never one global partition over
    // raw rows); the 256-row offset table comes back as a broadcast
    "q_samp10_token_shards" -> Seq("windowspecdefinition\\(__b",
      "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"),
    // HTML extraction: one codegen'd regexp chain per row — no join,
    // window or aggregate may ever appear
    "q_txt14_html_extract" -> Seq("codegen id", "!Join", "!Window",
      "!HashAggregate"),
    // hourly rollup: plain hash aggregation with map-side partials —
    // never an event-time window function or a join
    "q_w1_hourly_window" -> Seq("HashAggregate", "codegen id", "!Window",
      "!Join"),
    // MinHash LSH: candidates form ONLY inside (band, slice) buckets —
    // the equi-join family, never an all-pairs nested loop
    "q_dd3_minhash_lsh" -> Seq("!CartesianProduct",
      "!BroadcastNestedLoopJoin", "!Window"),
    // embedding near-dup: pairs form inside label buckets via an
    // equi-join — never an all-pairs comparison of the corpus
    "q_dd5_embed_neardup" -> Seq(
      "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
      "!CartesianProduct", "!BroadcastNestedLoopJoin"),
    // banded SimHash pairs: same bucket-only contract as dd3
    "q_dd8_simhash_pairs" -> Seq("!CartesianProduct",
      "!BroadcastNestedLoopJoin", "!Window"),
    // incremental near-dup: batch-vs-corpus candidates ride band-slice
    // equi-joins; cost must stay ∝ batch, never corpus²
    "q_dd9_incremental_neardup" -> Seq("!CartesianProduct",
      "!BroadcastNestedLoopJoin", "!Window"),
    // SemDeDup: pairs form within quantizer cells only — the cell id is
    // an equi-join key, never a corpus-wide cross comparison
    "q_dd10_semantic_dedup" -> Seq("!CartesianProduct", "!Window"),
    // CDC chunk dedup: sharing stats are ONE hash aggregation on the
    // chunk fingerprint — no join, no window, no pairwise anything
    "q_dd13_cdc_chunks" -> Seq("HashAggregate", "!Join",
      "!CartesianProduct", "!Window"),
    // ensemble consensus: both pair families and their intersection are
    // equi-joins — never a nested loop
    "q_dd14_ensemble_consensus" -> Seq("!CartesianProduct",
      "!BroadcastNestedLoopJoin", "!Window"),
    // LSH ANN: bucket equi-join (queries broadcast) + bounded top-k
    // aggregate — never a window, never a raw cross join
    "q_sim2_lsh_ann" -> Seq("BroadcastHashJoin", "ObjectHashAggregate",
      "!Window", "!CartesianProduct"),
    // IVF ANN: probe-cell equi-join + bounded top-k aggregate; the
    // corpus assignment scan is shuffle-free per-row math
    "q_sim3_ivf_ann" -> Seq("BroadcastHashJoin", "ObjectHashAggregate",
      "!Window", "!CartesianProduct"),
    // filtered ANN: the label predicate must reach the corpus parquet
    // scan (pre-filtering — the candidate lists shrink before distance
    // math); retrieval contract otherwise identical to sim3
    "q_sim12_filtered_ann" -> Seq("PushedFilters: \\[.*LessThan\\(label",
      "BroadcastHashJoin", "ObjectHashAggregate", "!Window",
      "!CartesianProduct"),
    // classifier-gated ANN (cls1 × sim12): the NB gate semi-joins the
    // corpus BROADCAST (at scale the score is a materialized column and
    // a pushed predicate — sim12's plan); retrieval stays cell-bound —
    // probe-cell equi-join + bounded top-k agg, the corpus never
    // shuffles and nothing goes cartesian
    "q_sim13_classifier_gated_ann" -> Seq("BroadcastHashJoin",
      "LeftSemi", "ObjectHashAggregate", "!CartesianProduct",
      "!SortMergeJoin"),
    // multi-probe: probe-set explode rides the same bucket equi-join
    // (the exact-side BNLJ is the broadcast baseline, allowed)
    "q_sim9_multiprobe" -> Seq("ObjectHashAggregate", "!Window",
      "!CartesianProduct"),
    // IVF recall sweep: every retrieval path is bucket/broadcast-bound
    "q_sim10_ivf_recall" -> Seq("ObjectHashAggregate", "!Window",
      "!CartesianProduct"),
    // index maintenance: assignment is a literal-backed per-row map
    // pass + ONE hash aggregation on (cell) per role — no join of the
    // vectors, no window
    "q_sim11_index_maintenance" -> Seq("HashAggregate", "!Window",
      "!CartesianProduct", "!BroadcastNestedLoopJoin"),
    // hopping windows: the 4× window assignment expands map-side
    // (explode inside codegen) into ONE hash aggregation — never an
    // analytic Window function or a join against a window dimension
    "q_w6_sliding_window" -> Seq("HashAggregate", "codegen id", "!Window",
      "!Join"),
    // incremental maintenance: two partial aggregates merged by a THIRD
    // hash aggregate over their union — monoid merges only; no join of
    // base against delta, no window
    "q_inc1_incremental_agg" -> Seq("HashAggregate", "!Window", "!Join",
      "!CartesianProduct"),
    // PageRank: iterations materialize inside the operator (each round's
    // plan shape is pinned by GraphFunctionsSpec); the returned frame
    // must read the CACHED final ranks — re-deriving five join rounds
    // per downstream consumer would quintuple the work at scale
    "q_gr1_pagerank" -> Seq("InMemoryTableScan", "!CartesianProduct",
      "!Window"),
    // chunking: tokenize → explode → slice is pure map-side codegen;
    // no shuffle before the output sort — no join, window or aggregate
    "q_txt15_chunk" -> Seq("codegen id", "!Join", "!Window",
      "!HashAggregate"),
    // sketch merge: two aggregation levels (per-batch sketch build,
    // union of the sketches) — no join, no window, state = sketch bytes
    "q_inc2_sketch_merge" -> Seq("ObjectHashAggregate|HashAggregate",
      "!Join", "!Window", "!CartesianProduct"),
    // heavy-hitters sketch: agg levels only, deterministic bounded top-k
    "q_inc3_topk_sketch" -> Seq("ObjectHashAggregate|HashAggregate",
      "TakeOrderedAndProject", "!Join", "!Window", "!CartesianProduct"),
    // record linkage: exact-collapse agg BEFORE an equi-join on the block
    // key — pairs never leave a block, no cross-join, no window
    "q_er1_fuzzy_join" -> Seq("HashAggregate",
      "SortMergeJoin|BroadcastHashJoin", "!CartesianProduct",
      "!BroadcastNestedLoopJoin", "!Window"),
    // gap-fill: raw rows collapse to the (type,hour) aggregate FIRST;
    // the forward-fill Window runs over the bounded grid (a deliberate,
    // documented Window — partition is O(hours), not O(events)); the
    // 1-row bounds aggregate broadcasts (BNLJ-on-one-row, like txt10)
    "q_ts1_gap_fill" -> Seq("HashAggregate", "Window",
      "!CartesianProduct"),
    // pinned-values PIVOT: aggregation passes only (no distinct-scan of
    // the pivot column, no join, no window) — the output schema is a
    // compile-time contract, not data-dependent
    "q_a11_pivot" -> Seq("HashAggregate", "!Join", "!Window",
      "!CartesianProduct"),
    // coverage sampling: assignment is a literal-backed map pass and
    // the per-cell cut is the bounded top-k aggregate — k rows of state
    // per cell, never a window over the corpus, no pair formation
    "q_samp8_coverage_sample" -> Seq("ObjectHashAggregate", "!Window",
      "!CartesianProduct", "!BroadcastNestedLoopJoin"),
    // CUBE: all grouping sets in one pass — Expand + ONE aggregation,
    // never k separate scans unioned
    "q_a10_cube" -> Seq("Expand", "HashAggregate", "!Union", "!Join",
      "!Window"),
    // bigram LM: counts pre-aggregate at (doc,bigram) before anything is
    // keyed by a term alone; count joins are term-keyed equi-joins. The
    // vocab scalar V rides in-plan as a broadcast 1-ROW aggregate (same
    // contract as txt10: a BNLJ on one row is a broadcast, not a
    // cartesian) — so the check pins !CartesianProduct, not !BNLJ.
    "q_txt16_bigram_lm" -> Seq("HashAggregate",
      "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
      "!CartesianProduct", "!Window"),
    // triangles: orientation/wedge/closure are all hash equi-joins and
    // the counts hash-aggregate — no window, no cartesian, no
    // nested-loop anywhere (the degree-ordered fan-out bound only holds
    // if the wedge join really is an equi-join on the pivot key)
    "q_gr2_triangles" -> Seq("HashAggregate",
      "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
      "!CartesianProduct", "!BroadcastNestedLoopJoin", "!Window"),
    // k-core: alive sets materialize per round inside the operator (the
    // returned frame reads the cached final set, gr1 contract); every
    // restriction is an equi-join, the degree count a hash agg
    "q_gr3_kcore" -> Seq("InMemoryTableScan", "HashAggregate",
      "!CartesianProduct", "!BroadcastNestedLoopJoin", "!Window"),
    // harmonic r2: the wedge expansion is an equi-join on the pivot,
    // the distance-1 subtraction a LeftAnti equi-join, counts hash aggs
    "q_gr4_harmonic" -> Seq("HashAggregate", "LeftAnti",
      "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
      "!CartesianProduct", "!BroadcastNestedLoopJoin", "!Window"),
    // kmv neighborhood: sketch rounds are equi-join + hash re-agg
    // (objecthashagg for the collect_set k-min) — never a window or a
    // pair-set materialization
    "q_gr5_kmv_neighborhood" -> Seq("HashAggregate",
      "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
      "!CartesianProduct", "!BroadcastNestedLoopJoin", "!Window"),
    // anomaly scan: raw events collapse to the (type,hour) aggregate
    // FIRST; the rolling frame is a deliberate bounded Window over that
    // grid, partitioned by type — same contract as ts1
    "q_ts2_anomaly" -> Seq("HashAggregate", "Window",
      "windowspecdefinition\\(event_type", "!Join", "!CartesianProduct"),
    // star join: nation/region broadcast, the customer edge is a
    // shuffled fact-fact equi-join (merge-hinted — the production
    // shape; customer scales with the data), both selective predicates
    // reach their scans, nothing cartesians
    "q_j12_star_join" -> Seq("BroadcastHashJoin",
      "SortMergeJoin|ShuffledHashJoin",
      "PushedFilters: \\[.*EqualTo\\(r_name",
      "PushedFilters: \\[.*GreaterThanOrEqual\\(o_orderdate",
      "!CartesianProduct", "!BroadcastNestedLoopJoin"),
    // lag deltas: agg-first grid, per-type bounded Window (ts1 contract)
    "q_w7_lag_delta" -> Seq("HashAggregate", "Window",
      "windowspecdefinition\\(event_type", "!Join", "!CartesianProduct"),
    // bucketed co-located join: the WHOLE POINT is that neither join
    // key ever appears under an Exchange — the bucketed scans'
    // HashPartitioning satisfies the join's distribution requirement
    // (the aggregate's exchange on o_orderpriority is expected and
    // unmatched by these patterns)
    "q_j11_bucketed_join" -> Seq("SortMergeJoin|ShuffledHashJoin",
      "!hashpartitioning\\(o_orderkey",
      "!hashpartitioning\\(l_orderkey",
      "!BroadcastHashJoin", "!CartesianProduct"),
    // KL drift: both sides collapse to (lang, term) counts before the
    // term-keyed equi-join; per-lang scalars broadcast — no window, no
    // cartesian, nothing keyed on lang alone... except the bounded
    // per-lang scalar tables (5 rows), which is why lang-shuffle is NOT
    // asserted here; the corpus-sized frames join on (lang, term)
    "q_txt18_kl_drift" -> Seq("HashAggregate", "BroadcastHashJoin",
      "!Window", "!CartesianProduct"),
    // Zipf fit: corpus rows collapse to (group, term) counts FIRST; the
    // rank Window partitions by group over the VOCABULARY-sized
    // aggregate (bounded, ts1 contract), and the fit is one more hash
    // aggregation — no join anywhere
    "q_txt17_zipf" -> Seq("HashAggregate", "windowspecdefinition\\(grp",
      "!Join", "!CartesianProduct"),
    // EWMA: daily hash agg FIRST, then the fold inside ONE
    // ObjectHashAggregate row per type (bounded O(days) state) — no
    // analytic Window, no join, never a scan over raw events per step
    "q_ts3_ewma" -> Seq("HashAggregate", "ObjectHashAggregate", "!Window",
      "!Join", "!CartesianProduct"),
    // group-wise OLS: two chained hash aggregations + one equi-join for
    // the per-user rebase — closed-form regression, no window, no
    // iteration, no cartesian
    "q_a12_trend_ols" -> Seq("HashAggregate",
      "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
      "!Window", "!CartesianProduct"),
    // all-pairs prefix filter: candidates form ONLY on (block, token)
    // equality and verification is id-keyed equi-joins — the whole
    // point is that nothing ever cartesians and nothing windows. No
    // shuffle may ever key on the block column ALONE (the
    // dominant-language shuffle would be the dd6 anti-pattern); the
    // candidate join's composite (blk, tok) key is fine — the rare
    // token is what spreads it
    "q_dd15_allpairs" -> Seq("HashAggregate",
      "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
      "!CartesianProduct", "!BroadcastNestedLoopJoin", "!Window",
      "!hashpartitioning\\(blk#\\d+, \\d+\\)",
      "!hashpartitioning\\(lang"),
    // calibration: the exact-pair machinery (dd15 contract) + two
    // id-keyed signature joins — nothing cartesians, nothing windows
    "q_dd17_minhash_calibration" -> Seq("HashAggregate",
      "!CartesianProduct", "!Window", "!hashpartitioning\\(lang"),
    // incremental all-pairs probe: same contract as dd15 — every step
    // an equi-join/hash agg, nothing keyed on the block column alone
    "q_dd16_incremental_allpairs" -> Seq("HashAggregate",
      "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
      "!CartesianProduct", "!BroadcastNestedLoopJoin", "!Window",
      "!hashpartitioning\\(blk#\\d+, \\d+\\)",
      "!hashpartitioning\\(lang"))

  /** AQE-ON audits for the skew paths: these EXECUTE the query under an
    * adaptive session and assert against the FINAL adaptive plan — the
    * plan AQE actually ran, not the compile-time plan the static checks
    * pin. What must survive AQE's rewrites:
    *   - q_j10: the manual salt. AQE's own skew-join splitter only
    *     handles sort-merge joins whose skew it can observe at the
    *     shuffle boundary; the salted exchange hashes on (key, __salt)
    *     BEFORE AQE sees partition sizes, so the salt spread must still
    *     be present in the executed exchanges, and the join must remain
    *     a shuffled equi-join. The two mechanisms COMPOSE: the salt
    *     bounds any single reducer's share of a hot key by construction
    *     (deterministic, planner-independent), and AQE can still split
    *     residual imbalance; neither disables the other.
    *   - dd3/dd8 band-bucket joins: the candidate join must stay a
    *     shuffled equi-join on the band key (AQE may coalesce partitions
    *     or insert AQEShuffleRead — fine; it must never degrade to a
    *     nested-loop/cartesian).
    * Final-plan regexes are matched against explainString of the
    * EXECUTED DataFrame (AdaptiveSparkPlan isFinalPlan=true). */
  val adaptiveChecks: Seq[(String, Seq[String])] = Seq(
    "q_j10_salted_join" -> Seq("isFinalPlan=true",
      "SortMergeJoin|ShuffledHashJoin", "hashpartitioning\\([^)]*__salt",
      "!CartesianProduct", "!BroadcastNestedLoopJoin"),
    "q_dd3_minhash_lsh" -> Seq("isFinalPlan=true",
      "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
      "!CartesianProduct", "!BroadcastNestedLoopJoin"),
    "q_dd8_simhash_pairs" -> Seq("isFinalPlan=true",
      "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
      "!CartesianProduct", "!BroadcastNestedLoopJoin"),
    // SemDeDup: the within-cell pair join must stay an equi-join on the
    // cell key through AQE's rewrites (a nested loop here is the
    // corpus-wide cross comparison the cells exist to prevent)
    "q_dd10_semantic_dedup" -> Seq("isFinalPlan=true",
      "!CartesianProduct", "!BroadcastNestedLoopJoin"),
    // winnowing substring dedup: candidates only inside fingerprint
    // buckets — same no-degradation contract as dd3/dd8
    "q_dd12_substring_dup" -> Seq("isFinalPlan=true",
      "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
      "!CartesianProduct", "!BroadcastNestedLoopJoin"))

  /** Execute each adaptive check under `spark` (which must have AQE on)
    * and match patterns against the final adaptive plan. The DataFrame's
    * OWN plan must execute — `df.count()` would wrap it in a new
    * aggregate QueryExecution and leave this one un-finalized — so the
    * rows drain through toLocalIterator (small at the audit's fixture
    * scale). Same return contract as [[audit]]. */
  def auditAdaptive(spark: SparkSession, sfDir: String): Seq[(String, Seq[String], String)] =
    adaptiveChecks.flatMap { case (name, patterns) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.toLocalIterator().forEachRemaining(_ => ()) // finalize AQE
      val plan = df.queryExecution.executedPlan.toString
      val missing = patterns.filterNot { p =>
        if (p.startsWith("!")) p.drop(1).r.findFirstIn(plan).isEmpty
        else p.r.findFirstIn(plan).isDefined
      }
      if (missing.isEmpty) None
      else Some((name, missing, plan.linesIterator.take(40).mkString("\n")))
    }

  /** Run every check; returns (name, missing-patterns, plan-excerpt) for
    * failures — the excerpt is what diagnoses a CI-only regression
    * without re-running the query by hand. */
  def audit(spark: SparkSession, sfDir: String): Seq[(String, Seq[String], String)] =
    checks.flatMap { case (name, patterns) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // "!pat" asserts the pattern is ABSENT from the plan.
      val missing = patterns.filterNot { p =>
        if (p.startsWith("!")) p.drop(1).r.findFirstIn(plan).isEmpty
        else p.r.findFirstIn(plan).isDefined
      }
      if (missing.isEmpty) None
      else Some((name, missing, plan.linesIterator.take(40).mkString("\n")))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = HarnessSession.local(logLevel = "ERROR")
    // AQE off here: its pre-execution plan hides codegen annotations;
    // production sessions keep AQE on (Verify/Bench).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val misses = audit(spark, sfDir)
    checks.foreach { case (name, _) =>
      misses.find(_._1 == name) match {
        case None => println(s"[audit] OK   $name")
        case Some((_, missing, excerpt)) =>
          println(s"[audit] MISS $name -> ${missing.mkString("; ")}")
          println(excerpt)
      }
    }
    println(s"[audit] done, ${misses.size} misses")
    spark.stop()
  }
}
