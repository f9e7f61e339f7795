package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY §2 (and the north-star extensions) is
  * registered here as a named query over a scale-factor directory; each
  * SQL-expressible one carries a DuckDB oracle in [[oracleSql]] with
  * IDENTICAL output column names and ordering.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the star-join revenue rollup — scan, broadcast joins, shuffle agg. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q03(spark, "/root/testdata/sf0.001")

  /** Exact "truth twin" → scale-path deploy form(s). These three gate
    * queries exist as oracle-exact twins of approximate/capped
    * production operators and are documented `weak` at 100× BY DESIGN:
    * q18's exact percentile buffers O(n/group) per reducer (deploy path:
    * q26 GK sketches / q28 mergeable histogram union), d03's uncapped
    * n-gram Jaccard is the truth side of the df-capped d08, and d06's
    * exact quadratic cosine tier is the truth side of d09 (LSH+verify)
    * and d11 (SemDeDup cells). Published machine-readably by Verify and
    * Bench so an artifact consumer can never mistake a truth twin for
    * the deploy path (round-9 verdict item 7). */
  val exactTwins: Map[String, Seq[String]] = Map(
    "q18_percentiles" -> Seq("q26_approx_percentile", "q28_quantile_union"),
    "d03_ngram_jaccard" -> Seq("d08_ngram_jaccard_capped"),
    "d06_embedding_neardup" -> Seq("d09_lsh_cosine_neardup", "d11_semantic_dedup"),
    // s07's exhaustive ADC scans all n code rows per query batch; s09
    // restricts the same scoring to the probed cells — the capped
    // deploy form of the identical quantizer (round-12 verdict item 4)
    "s07_pq_adc" -> Seq("s09_ivf_pq"),
    // d17's exact directional intersections vs d18's bottom-k sample
    // estimate + restricted exact verify (round-17 verdict item 3)
    "d17_containment_dedup" -> Seq("d18_sketch_containment"))

  /** One entry per implemented operator from SURVEY.md §2. Each call
    * is one [[graft.core.Stages.scoped]] block: the stages a query materializes
    * are released once its result no longer references them. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Relational surface (north-star extensions; SURVEY §2.2)
    "q01_agg_pushdown" -> (Relational.q01 _),
    "q02_topk" -> (Relational.q02 _),
    "q03_join_agg" -> (Relational.q03 _),
    "q04_semijoin" -> (Relational.q04 _),
    "q05_antijoin" -> (Relational.q05 _),
    "q06_filter_sum" -> (Relational.q06 _),
    "q07_window_topn" -> (Relational.q07 _),
    "q08_rollup" -> (Relational.q08 _),
    "q09_setops" -> (Relational.q09 _),
    "q10_distinct_agg" -> (Relational.q10 _),
    "q11_time_bucket" -> (Relational.q11 _),
    "q12_asof_join" -> (Relational.q12 _),
    "q13_scalar_subquery" -> (Relational.q13 _),
    "q14_scalar_funcs" -> (Relational.q14 _),
    "q15_string_agg" -> (Relational.q15 _),
    "q16_cube" -> (Relational.q16 _),
    "q17_outer_join" -> (Relational.q17 _),
    "q18_percentiles" -> (Relational.q18 _),
    "q19_regexp_date" -> (Relational.q19 _),
    "q20_window_correlated" -> (Relational.q20 _),
    "q21_except" -> (Relational.q21 _),
    "q22_not_in" -> (Relational.q22 _),
    "q23_approx_distinct" -> (Relational.q23 _),
    "q24_window_funcs" -> (Relational.q24 _),
    "q25_moving_window" -> (Relational.q25 _),
    "q26_approx_percentile" -> (Relational.q26 _),
    // q27 materializes per-day HLL sketches and UNIONS them — the
    // mergeable-sketch pipeline shape q23's inline sketch can't show
    "q27_sketch_union" -> (Relational.q27 _),
    // JSON / codec surface (SURVEY §2.1 #3-16)
    "c01_json_get_plain" -> (JsonOps.plainGet _),
    "c02_json_get_variant" -> (JsonOps.variantGet _),
    "c03_jsonc_get" -> (JsonOps.jsoncGet _),
    "c04_shred_agg" -> (JsonOps.shreddedAgg _),
    "c05_shred_filter" -> (JsonOps.shreddedFilter _),
    "c08_jsonc_array_get" -> (JsonOps.jsoncArrayGet _),
    // c09-c12: the reference's own EP3 literal assertions
    // (benches/query.rs:46-67) as oracle-gated queries per codec
    "c09_ep3_canada_type" -> (JsonOps.c09CanadaType _),
    "c10_ep3_citm_area" -> (JsonOps.c10CitmArea _),
    "c11_ep3_citm_topic" -> (JsonOps.c11CitmTopic _),
    "c12_ep3_twitter_max_id" -> (JsonOps.c12TwitterMaxId _),
    // Text analysis (north-star; documents table)
    "t01_tokens" -> (TextOps.t01Tokens _),
    "t02_quality" -> (TextOps.t02Quality _),
    "t03_langid" -> (TextOps.t03LangId _),
    "t04_fingerprint" -> (TextOps.t04Fingerprint _),
    "t05_tfidf" -> (TextOps.t05TfIdf _),
    "t06_bpe_tokens" -> (TextOps.t06BpeTokens _),
    "t07_normalize" -> (TextOps.t07Normalize _),
    // t08 chunks documents into overlapping fixed-char context windows
    "t08_chunks" -> (TextOps.t08Chunks _),
    // t09: Gopher-style within-doc repetition (duplicate 3-gram frac)
    "t09_repetition" -> (TextOps.t09Repetition _),
    // t10 rare-token census — corpus-relative frequency quality signal
    "t10_rare_tokens" -> (TextOps.t10RareTokens _),
    // t11 PII census/redaction — gated face carries a deterministic
    // canary (the corpus itself has no PII; d10-canary pattern)
    "t11_pii_census" -> (TextOps.t11PiiCensusGated _),
    // t12 duplicated-span coverage — per-doc exact-substring dup signal
    // (the census face of the d03/d08 inverted index)
    "t12_dup_spans" -> (TextOps.t12DupSpans _),
    // Deduplication (north-star; documents + embeddings)
    "d01_exact_dedup" -> (Dedup.d01Exact _),
    "d02_norm_dedup" -> (Dedup.d02Normalized _),
    "d03_ngram_jaccard" -> (Dedup.d03NgramJaccard _),
    "d04_minhash_lsh" -> (Dedup.d04MinHashLsh _),
    // d05 gate = catch-rate invariant vs the d03 truth set (the raw
    // simhash pairs are engine-specific; Dedup.d05SimHash is the
    // operator, this row is its oracle-able face)
    "d05_simhash" -> (Dedup.d05SimHashCatch _),
    "d06_embedding_neardup" -> (Dedup.d06EmbeddingNearDup _),
    "d07_dedup_clusters" -> (Dedup.d07DedupClusters _),
    "d08_ngram_jaccard_capped" -> (Dedup.d08NgramJaccardCapped _),
    // d17: shingle containment — Broder's asymmetric measure; flags a
    // short doc substantially quoted inside a long one where Jaccard
    // stays low (directional rows, d08's capped-postings scale shape)
    "d17_containment_dedup" -> (Dedup.d17ContainmentDedup _),
    // d18: containment at the sketch tier — bottom-k sample estimate,
    // candidates at tau-margin, exact verify on survivors (d17 = twin)
    "d18_sketch_containment" -> (Dedup.d18SketchContainment _),
    "d09_lsh_cosine_neardup" -> (Dedup.d09LshCosineNearDup _),
    // d11 SemDeDup — k-means cells + within-cell cosine census (the
    // n²/K scale answer to d06's exact quadratic tier)
    "d11_semantic_dedup" -> (Similarity.d11SemanticDedup _),
    // d12: SemDeDup over the two-level (coarse×fine) quantizer — the
    // production form past d11's flat K=4096 ceiling
    "d12_semdedup_2level" -> (Similarity.d12SemanticDedup2Level _),
    // d10 decontamination — train×holdout long-n-gram overlap; the
    // gated face injects a deterministic canary pair so the gate is
    // non-vacuous at every SF (r7 verdict item 3)
    "d10_decontamination" -> (Dedup.d10DecontaminationGated _),
    // d13: incremental (delta-vs-index) dedup — new batch against the
    // persisted bucketed MinHash index, corpus side never re-shuffled
    "d13_incremental_dedup" -> (Dedup.d13IncrementalDedup _),
    // q28: mergeable per-month quantile-sketch union (fixed-bin
    // histograms group-summed, rank targets in integer arithmetic —
    // hash-exact in both engines, no invariant row needed)
    "q28_quantile_union" -> (Relational.q28 _),
    // q29: pure range (interval) join via the bucketing rewrite — the
    // non-equi join Spark would otherwise plan as a nested loop
    "q29_range_join" -> (Relational.q29 _),
    // q30: pivot with an explicit value list (no distinct-values job)
    "q30_pivot" -> (Relational.q30 _),
    // q31: as-of (temporal) join via the union + ordered-window
    // rewrite — zero join nodes, one user_id shuffle; oracle is
    // DuckDB's native ASOF JOIN
    "q31_asof_join" -> (Relational.q31 _),
    // Similarity search (north-star; embeddings)
    "s01_knn_brute" -> (Similarity.s01KnnBrute _),
    // s02 gate = recall invariant vs the exact top-k (bucket layout is
    // engine-specific; Similarity.s02AnnLsh is the operator)
    "s02_ann_lsh" -> (Similarity.s02AnnLshRecall _),
    "s03_ann_ivf" -> (Similarity.s03AnnIvf _),
    "s04_ann_ivf_kmeans" -> (Similarity.s04AnnIvfKmeans _),
    // s05 int8 quantization census — order-free integer micro-units
    "s05_quantize_census" -> (Similarity.s05QuantizeCensus _),
    // s06: ANN search through the two-level (coarse×fine) IVF — the
    // search face of the d12 quantizer, hierarchical probe at O(√K)
    // centroid distances per query
    "s06_ann_ivf_2level" -> (Similarity.s06AnnIvf2Level _),
    // s15: cost-based probe policy — per-query nprobe chosen from the
    // inverted file's population census under a constant CANDIDATE
    // budget (~3 average cells), instead of s06's constant nprobe=4;
    // n_probes rides on every row so the gate pins the policy itself
    "s15_adaptive_probes" -> (Similarity.s15AdaptiveProbes _),
    // s07: product-quantization ADC search — M=8 4-bit codes per
    // vector (64× compression), query-side distance tables in integer
    // micro-units, candidates scored by summed table lookups
    "s07_pq_adc" -> (Similarity.s07PqAdc _),
    // s09: IVF-PQ — s06's hierarchical cell pruning composed with
    // s07's ADC scoring; the code scan is restricted to probed cells
    // BEFORE any distance lookup (the FAISS IndexIVFPQ shape)
    "s09_ivf_pq" -> (Similarity.s09IvfPq _),
    // s11: IVF-PQ against the PERSISTED index — the serving face:
    // centroids/codebooks/cell-bucketed codes stored once, query
    // batches touch only the artifacts (zero training, zero
    // corpus-side exchange); oracle shared with s09 (persistence
    // must be semantically invisible)
    "s11_persisted_ivf_pq" -> (Similarity.s11PersistedIvfPq _),
    // s10: IVF-PQ + exact re-rank — the refine stage: ADC nominates
    // top-R, only those R rows read full vectors and re-rank by exact
    // cosine (recovers the recall PQ's 4-bit resolution loses)
    "s10_ivf_pq_rerank" -> (Similarity.s10IvfPqRerank _),
    // s17: SQ8 rerank — the middle refine tier: the same ADC nominees
    // re-ranked from int8 scalar-quantized vectors (8x less refine
    // I/O); integer-exact scoring up to one IEEE division
    "s17_sq8_rerank" -> (Similarity.s17Sq8Rerank _),
    // s12: incremental fold-in for the persisted IVF-PQ index — the
    // index builds over the base slice, the delta folds in through the
    // FROZEN centroids/codebooks (the FAISS add() contract), and the
    // search runs over the folded store through s11's serve path
    "s12_ivf_pq_foldin" -> (Similarity.s12IncrementalIvfPq _),
    // s13: compaction of the folded code store — build base, fold the
    // delta, REWRITE each bucket's sliver pile as one sorted file
    // (zero-exchange bucketed-scan→bucketed-write), then search the
    // compacted store; must hash-match the fragmented-store search
    "s13_compacted_ivf_pq" -> (Similarity.s13CompactedIvfPq _),
    // s16: tombstone DELETES on the persisted index — the last CRUD
    // verb (s11 build, s12 add, s13 compact): delete = an O(deletes)
    // tombstone write, serve = broadcast anti-join mask BEFORE ADC
    // scoring, purge = the tombstones dropped inside s13's
    // zero-exchange bucket rewrite; the model stays frozen throughout
    "s16_deleted_ivf_pq" -> (Similarity.s16DeletedIvfPq _),
    // s19: range (radius) search — the FAISS range_search verb through
    // the same two-level probe; all candidates in probed cells at
    // cos ≥ τ, zero-hit queries kept as sentinel rows
    "s19_range_search" -> (Similarity.s19RangeSearch _),
    // s18: MMR diversity re-rank — greedy λ·rel − (1−λ)·maxsim
    // selection over the exact top-R pool on the integer micro-unit
    // grid; the result-diversification tier between ranking and serving
    "s18_mmr_rerank" -> (Similarity.s18MmrRerank _),
    // s14: HYBRID retrieval — BM25 and cosine pools ranked
    // independently, merged by exact-integer reciprocal rank fusion
    // (no cross-system score calibration; ranks always compare)
    "s14_hybrid_rrf" -> (Similarity.s14HybridRrf _),
    // Multimodal binary-column plumbing (north-star)
    "m01_binary_meta" -> (Multimodal.m01BinaryMeta _),
    "m02_media_features" -> (Multimodal.m02Features _),
    "m03_frame_sample" -> (Multimodal.m03FrameSample _),
    // m04: exact media dedup — content-hash census per modality
    "m04_media_dedup" -> (Multimodal.m04MediaDedup _),
    // m05: NEAR-dup media dedup — banded dHash + full-hash content
    // tiers over perceptualHashes, with a constructed BMP canary pair
    // (Hamming exactly 1) keeping the dhash tier non-vacuous
    "m05_media_neardup" -> (Multimodal.m05MediaNeardup _),
    // Codec lifecycle census (SURVEY §2.1 #3-13 as driver-gate queries)
    "c06_roundtrip" -> (CodecLifecycle.c06RoundTrip _),
    "c07_flush_load" -> (CodecLifecycle.c07FlushLoad _),
    // c13: CSV source/sink roundtrip — RFC-4180 quoting stressed by
    // the JSON props column (commas/quotes/braces inside one field);
    // FAILFAST read, census vs the original parquet
    "c13_csv_roundtrip" -> (CodecLifecycle.c13CsvRoundTrip _),
    // c14: NDJSON SINK roundtrip — the write half of the NDJSON
    // source; the JSON-string props column must re-embed escaped and
    // return byte-identical (the interchange tier complete)
    "c14_json_roundtrip" -> (CodecLifecycle.c14JsonRoundTrip _),
    // Partitioned sink + skew-safe join (100 TB storage/shuffle posture)
    "p01_partitioned_sink" -> (Sinks.p01PartitionedSink _),
    "p02_salted_join" -> (Sinks.p02SaltedJoin _),
    "p03_bucketed_join" -> (Sinks.p03BucketedJoin _),
    "p04_split_census" -> (Sinks.p04SplitCensus _),
    // p12: CDC MERGE (upsert by key) with copy-on-write partition
    // rewrite — only the buckets the change batch touches are re-landed
    "p12_merge_upsert" -> (Sinks.p12MergeUpsert _),
    // p13: TIME TRAVEL over a versioned snapshot table — two CDC
    // commits land as copy-on-write versions routed by a (snap, pk,
    // dver) manifest; all three snapshots read back concurrently as
    // plain pruned scans (the Iceberg/Delta snapshot discipline)
    "p13_time_travel" -> (Sinks.p13TimeTravel _),
    // p15: incremental materialized-view maintenance — a stored
    // aggregate folds in only the delta (new day + late corrections),
    // dynamic-overwriting touched day partitions; oracle = the full
    // recompute, so hash equality proves incremental == full
    "p15_incremental_view" -> (Sinks.p15IncrementalView _),
    // p14: vacuum — expire snapshot 0 in manifest space, delete only
    // the dirs no surviving manifest row references (cross-snapshot
    // file sharing respected), survivors re-read and re-oracled
    "p14_vacuum" -> (Sinks.p14VacuumedSnapshots _),
    // p05 stratified sample census — engine-invariant hash membership
    "p05_stratified_sample" -> (Sinks.p05StratifiedSample _),
    // p06 target-size binning — scalable two-phase prefix sum
    "p06_size_bins" -> (Sinks.p06SizeBins _),
    // p07 runtime bloom-filter semi-join reduction — probe rows pruned
    // before the shuffle with the engine's own bloom primitives
    "p07_bloom_semijoin" -> (Sinks.p07BloomSemiJoin _),
    // p08 Z-order layout census — Morton-interleaved multi-dim
    // clustering (the OPTIMIZE ZORDER shape) with per-file bounding
    // boxes as the expected-scan-cost metric vs the ts-only layout
    "p08_zorder_layout" -> (Sinks.p08ZorderLayout _),
    // SQL-surface sessionization (batch face of the streaming op)
    "st01_session_window" -> (graft.streaming.StreamingOps.st01SessionWindow _),
    // st02 runs the STREAMING runtime to completion inside the query
    // (readStream → watermark → windowed agg → memory sink) and gates
    // it on batch equivalence — the streaming engine itself is under
    // the driver gate, not just its batch faces
    "st02_streaming_counts" -> (graft.streaming.StreamingOps.st02StreamingCounts _),
    // st03/st04: streaming dedup and stream-stream join runtimes under
    // the gate, same pattern (bounded-source execution + batch-
    // equivalence invariant row)
    "st03_streaming_dedup" -> (graft.streaming.StreamingOps.st03StreamingDedup _),
    "st04_streaming_join" -> (graft.streaming.StreamingOps.st04StreamingJoin _),
    // st05: the foreachBatch partitioned sink — streamed files must
    // census identically to the batch sink (p01's oracle, verbatim)
    "st05_streaming_sink" -> (graft.streaming.StreamingOps.st05StreamingSink _),
    // t13: Count-Min-sketch heavy hitters — mergeable frequency
    // sketch (4×1024 cells total); gate = exact top-k + CMS
    // guarantee invariants (q23 pattern)
    "t13_cms_heavy_hitters" -> (TextOps.t13CmsHeavyHitters _),
    // t14: bigram LM quality score — Laplace-smoothed self-perplexity
    // in integer 1e-4-nat units (the CCNet-style LM fluency filter)
    "t14_lm_score" -> (TextOps.t14LmScore _),
    // t15: DSIR importance weights + top-⌈n/5⌉ selection — the
    // data-selection step (target = the en slice) after the quality
    // tier; integer log-weights, TakeOrderedAndProject top-k
    "t15_dsir_weights" -> (TextOps.t15DsirWeights _),
    // d14: canonical-doc selection — the survivor-choice step after
    // clustering: keep the highest-quality member per near-dup
    // cluster (t02 blend; tie → lowest id), full-corpus keep/drop
    "d14_canonical_docs" -> (Dedup.d14CanonicalDocs _),
    // d15: the deploy form of d14 — survivor selection over the
    // df-capped d08 pair graph (the chain that actually runs at scale)
    "d15_canonical_capped" -> (Dedup.d15CanonicalCapped _),
    // d16: edit-distance self-join (Ed-Join) — CHARACTER-level dedup
    // semantics: all pairs within Levenshtein k, via the lossless
    // rarest-first q-gram prefix filter + banded threshold verify
    "d16_edit_join" -> (Dedup.d16EditJoin _),
    // s08: filtered ("hybrid") vector search — top-k within the
    // query's label class; the metadata predicate is a join key, so
    // candidates partition by class instead of scan-then-discard
    "s08_filtered_knn" -> (Similarity.s08FilteredKnn _),
    // m06: audio near-dup census — the audio face of m05: windowed-
    // energy difference fingerprints, same 4×16 banding + caps,
    // canary WAV pair keeps the tier non-vacuous
    "m06_audio_neardup" -> (Multimodal.m06AudioNeardup _),
    // m07: video-level near-dup census — per-video SimHash over m03's
    // per-frame fingerprints through the same banded census; canary
    // GIF pair (signature Hamming 1) keeps the tier non-vacuous
    "m07_video_neardup" -> (Multimodal.m07VideoNeardup _),
    // m08: incremental media dedup — the d13 ingest cycle in hash
    // space: delta payloads dedup against the persisted (band, bh)-
    // bucketed dHash index, corpus never re-decoded or re-shuffled
    "m08_incremental_media_dedup" -> (Multimodal.m08IncrementalMediaDedup _),
    // m10: audio energy segmentation (VAD-style) — per-file voiced-run
    // census via the shared WAV decode; canary WAVs with explicit
    // block/alternating structure keep every face live
    "m10_audio_segments" -> (Multimodal.m10AudioSegments _),
    // m09: cross-modal retrieval — "find videos containing a frame
    // similar to this image": m03 frame fingerprints → encoder
    // stand-in embeddings → the s11 persisted IVF-PQ serving path,
    // composed end to end (the e01 interop argument across surfaces)
    "m09_cross_modal" -> (Multimodal.m09CrossModalSearch _),
    // p09: dynamic partition overwrite — backfill one partition in
    // place; siblings must survive (the lakehouse rewrite primitive)
    "p09_dynamic_overwrite" -> (Sinks.p09DynamicOverwrite _),
    // q32: conversion funnel — first signup + purchases within the
    // 7-day attribution window, non-converters kept with zeros
    "q32_funnel" -> (Relational.q32 _),
    // q33: retention cohorts — distinct actives per (signup-week
    // cohort, week offset); one keyed join, window-free
    "q33_retention_cohorts" -> (Relational.q33 _),
    // t06b: REAL BPE merge trainer — iterative pair-count aggregations
    // over the frequency-weighted word vocabulary, most-frequent pair
    // merged per round via identical literal-replace semantics in both
    // engines; output = the merge table + the compression curve
    "t06b_bpe_merges" -> (TextOps.t06bBpeMerges _),
    // t06c: ENCODE through the learned merge table — the apply half of
    // t06b (train → apply): per-doc piece census via one broadcast
    // join of the exploded corpus against the vocabulary-sized model
    "t06c_bpe_encode" -> (TextOps.t06cBpeEncode _),
    // t17: LEARNED quality classifier — logistic regression trained as
    // DataFrame aggs (integer micro-unit GD rounds on the teacher-
    // labeled sample), applied map-side corpus-wide; the FineWeb-Edu
    // operator shape with t02's blend as the stand-in teacher
    "t17_quality_classifier" -> (TextOps.t17QualityClassifier _),
    // t18: BM25 lexical retrieval — keyword top-k through an inverted
    // index (postings-lookup first, never a corpus scan); rational-idf
    // BM25 on the integer micro-unit grid so both engines rank
    // identically (ln is the one op IEEE leaves engine-defined)
    "t18_bm25" -> (TextOps.t18Bm25 _),
    // t18b: BM25 against the PERSISTED term-bucketed inverted index —
    // tokenize once at ingest, serve from stored artifacts only (the
    // s11 lifecycle on the lexical side); shares t18's oracle verbatim
    "t18b_persisted_bm25" -> (TextOps.t18bPersistedBm25 _),
    // t19: domain-mixture resampling — weighted per-domain targets on
    // the integer grid, hash-membership sampling (p05 discipline)
    "t19_domain_mix" -> (TextOps.t19DomainMix _),
    // t20: cross-perplexity — the bigram LM trains on the base slice
    // and scores the delta (the CCNet filter run against a REFERENCE
    // corpus; exercises the OOV paths t14's self-scoring never hits)
    "t20_cross_ppl" -> (TextOps.t20CrossPpl _),
    // t21: exact-substring span excision (Lee et al. 2022) — dup
    // L-gram census + per-doc interval union names the exact spans to
    // cut, the position-level tier below whole-doc dedup
    "t21_span_excision" -> (TextOps.t21SpanExcision _),
    // t27: unbounded-span exact-substring dedup — winnowed rare
    // anchors + extension to maximal cross-doc matches >= 50 tokens
    // (Lee et al. 2022); brute-force oracle proves anchor losslessness
    "t27_long_dup_spans" -> (TextOps.t27LongDupSpans _),
    // t06d: byte-level BPE — GPT-2-class regex pre-split + UTF-8 byte
    // alphabet (hex-pair atoms), zero OOV; t06b's merge loop verbatim
    "t06d_byte_bpe" -> (TextOps.t06dByteBpe _),
    // q34: explicit GROUPING SETS — caller-named grains next to q08
    // rollup / q16 cube; sentinel-coalesced slots, one Expand pass
    "q34_grouping_sets" -> (Relational.q34 _),
    // q35: integer-grid PageRank over the customer–supplier graph —
    // iterative centrality next to d07's CC, oracle-replayed as CTEs
    "q35_pagerank" -> (Relational.q35PageRank _),
    // q36: dataset profiling + constraint validation (the deequ /
    // ANALYZE shape) — per-column null/NDV/bounds census and
    // completeness/uniqueness/range checks in ONE aggregate pass; a
    // null-bearing canary row keeps the failing-constraint face live
    "q36_profile_constraints" -> (Relational.q36 _),
    // p11: schema evolution — two landed file generations served by
    // one mergeSchema read; era census pins no-loss/no-default
    "p11_schema_evolution" -> (Sinks.p11SchemaEvolution _),
    // p10: hive-partitioned sink compaction — deterministic
    // fragmentation contract (4 files/partition) collapsed to 1,
    // content invariance pinned by the cents sum
    "p10_sink_compaction" -> (Sinks.p10SinkCompaction _),
    // t16: sequence-packing census — docs concatenated in id order,
    // cut into fixed 512-token training sequences; per-doc global
    // offset + spanned sequences (p06's two-phase prefix sum)
    "t16_seq_packing" -> (TextOps.t16SeqPacking _),
    // st06: the EventTimeTimeout sessionizer (the unbounded-feed state
    // machine) run as a real streaming query and oracled against the
    // lag-based SQL sessionization — the stateful face of st01
    "st06_streaming_sessionize" -> (graft.streaming.StreamingOps.st06StreamingSessionize _),
    // st07: the incremental-dedup ingest cycle under the streaming
    // runtime — delta files stream against the persisted d13 index
    // (stream-static band join + static shingle-store verify)
    "st07_streaming_delta_dedup" -> (graft.streaming.StreamingOps.st07StreamingDeltaDedup _),
    // st08: watermark late-data accounting — a deterministic
    // out-of-order feed; the gate proves which rows the engine DROPS
    // (window.end ≤ watermark) and censuses kept/dropped
    "st08_streaming_late_data" -> (graft.streaming.StreamingOps.st08StreamingLateData _),
    // st09: checkpoint restart recovery — the query is stopped after
    // the even batch and restarted from its checkpoint; the restored
    // watermark must drop the late odds exactly as an unbroken run
    "st09_streaming_restart" -> (graft.streaming.StreamingOps.st09StreamingRestart _),
    // st10: streaming vector ingest — embedding deltas fold into the
    // persisted IVF-PQ index micro-batch by micro-batch through the
    // frozen stored model (the continuous face of s12; st07's twin on
    // the retrieval side); search over the folded store is the gate
    "st10_streaming_vector_ingest" ->
      (graft.streaming.StreamingOps.st10StreamingVectorIngest _),
    // st11: streaming media ingest-dedup — media deltas stream against
    // the persisted m08 banded index (text st07 / vector st10 / media
    // st11: the continuous-ingest symmetry complete); invariant row
    // proves the streamed pair multiset equals the batch m08
    "st11_streaming_media_ingest" ->
      (graft.streaming.StreamingOps.st11StreamingMediaIngest _),
    // e01: the end-to-end curation chain (quality → capped dedup with
    // survivor choice → holdout decontamination → sequence packing)
    // run as ONE job with per-stage retention census — the gate that
    // catches stage-interop drift per-operator gates can't see
    "e01_curation_pipeline" -> (Pipeline.e01Curation _),
    // e02: INCREMENTAL curation — the delta-only run of the chain
    // against persisted base state (quality → dedup-vs-base →
    // dedup-within → global-holdout decontam → pack), every stage
    // delta-sized; the fold-in discipline applied to the pipeline
    "e02_incremental_curation" -> (Pipeline.e02IncrementalCuration _),
    // e03: leakage-safe split — assignment at the near-dup-CLUSTER
    // level so no d08 pair straddles train/val/test by construction
    "e03_cluster_split" -> (Pipeline.e03ClusterSplit _),
    // e04: cross-split leakage AUDIT — the completeness critic for
    // e03: cross-split counts at every tier (exact-prefix, lexical,
    // semantic, substring grams); lexical must audit to zero, the
    // uncontrolled tiers report the leakage the split didn't cover
    "e04_leakage_audit" -> (Pipeline.e04LeakageAudit _),
    // st12: streaming CDC merge — p12's copy-on-write upsert applied
    // per micro-batch inside foreachBatch; batch boundaries commute
    "st12_streaming_cdc_merge" ->
      (graft.streaming.StreamingOps.st12StreamingCdcMerge _),
    // st13: stream-stream LEFT OUTER join — watermark-gated null
    // emission (unmatched purchases emit only at state eviction); the
    // st08 deterministic feed builds the eviction regime, the gate
    // compares against the batch LEFT JOIN replay
    "st13_streaming_outer_join" ->
      (graft.streaming.StreamingOps.st13StreamingOuterJoin _),
    // st14: bounded-state dedup (dropDuplicatesWithinWatermark) — the
    // production form of st03: state evicts at the watermark, so a
    // within-delay duplicate drops and a post-eviction re-occurrence
    // re-emits; both faces deterministic via the constructed feed
    "st14_streaming_ttl_dedup" ->
      (graft.streaming.StreamingOps.st14StreamingTtlDedup _),
    // q38: RANGE-frame window — trailing-24h per-user aggregates with
    // a VALUE-based frame (the window semantics ROWS frames can't
    // state deterministically over tied sort keys)
    "q38_range_frame" -> (Relational.q38 _),
    // q37: time-series gap-fill / resample — per-key calendar
    // densification with LOCF and linear-interpolation fills on the
    // integer cents grid; windows run over calendar-sized rows only
    "q37_gap_fill" -> (Relational.q37 _),
    // p16: file-level min/max data skipping (zone maps) — a value-
    // range predicate on a NON-partition column prunes whole files
    // from a per-file stats manifest before any scan (the Delta/
    // Iceberg data-skipping tier); pruning census rides the result
    "p16_stats_skipping" -> (Sinks.p16StatsSkipping _),
    // s20: binary (1-bit) quantization + exact re-rank — the last
    // rung of the quantization ladder: sign-bit signatures (16 B/row),
    // Hamming candidate generation, exact cosine re-rank of the top-R
    "s20_binary_rerank" -> (Similarity.s20BinaryRerank _),
    // st15: streaming incremental view maintenance — p15's refresh
    // run per micro-batch inside foreachBatch; mergeable partials make
    // any batch split compose, so the streamed view must equal the
    // full recompute (p15's oracle verbatim)
    "st15_streaming_view" ->
      (graft.streaming.StreamingOps.st15StreamingViewMaintenance _),
    // st16: streaming CMS maintenance — each micro-batch folds its own
    // 4×1024 cell grid into the stored sketch by cellwise sum (the
    // mergeable-sketch property run as a streaming fold); heavy-hitter
    // report from the streamed grid shares t13's oracle verbatim
    "st16_streaming_cms" ->
      (graft.streaming.StreamingOps.st16StreamingCms _),
    // st17: streaming lexical-index maintenance — BM25 postings/dl
    // append bucket-compatibly per micro-batch, df/corpus-stats merge
    // by term-wise sum into version-addressed dirs; serve from the
    // folded artifacts shares t18's oracle verbatim
    "st17_streaming_lexical" ->
      (graft.streaming.StreamingOps.st17StreamingLexical _),
    // s21: the persisted form of s20 — signatures written once at
    // ingest (16 B/row), query batches serve from the stored artifact
    // alone; deterministic packing ⇒ shares s20's oracle verbatim
    "s21_persisted_binary" -> (Similarity.s21PersistedBinary _),
    // m11: reverse image search — the retrieval verb on the persisted
    // m08 media index (banded dHash probe + Hamming verify; content
    // tier for undecodable probes; sentinel rows for empty queries)
    "m11_reverse_image_search" -> (Multimodal.m11ReverseImageSearch _),
    // t22: phrase search via positional postings — the adjacency-
    // aware lexical tier BM25 can't express; postings-lookup-first,
    // corpus-derived deterministic query bigrams
    "t22_phrase_search" -> (TextOps.t22PhraseSearch _),
    // p17: partition-spec evolution — historical files keep the old
    // layout (day=), new data lands at the finer grain (day=/hr=);
    // one logical query adapts per era (dir pruning vs pushed filter)
    "p17_partition_evolution" -> (Sinks.p17PartitionEvolution _),
    // e05: the retrieval SERVING pipeline — lexical + vector → RRF
    // fusion → MMR diversification as ONE job (the e01 composition
    // argument on the query side; fused grid rescaled exactly onto
    // the MMR micro-unit grid)
    "e05_serving_pipeline" -> (Pipeline.e05ServingPipeline _),
    // t23: unigram-LM tokenizer trainer (SentencePiece-class) — seed
    // from frequent substrings, hard-EM rounds (Viterbi E-step as an
    // unrolled DP, Laplace M-step), bottom-quarter prune, nat-grid
    // renormalization; model rows per round
    "t23_unigram_lm" -> (TextOps.t23UnigramLm _),
    // p18: merge-on-read deletes — a delete batch lands as its own
    // delete file (O(deletes), data files untouched), reads anti-join
    // it inline, compaction folds it in; both phases hash-checked
    "p18_merge_on_read_deletes" -> (Sinks.p18MergeOnReadDeletes _),
    // s22: distributed k-NN graph construction — the exact top-k
    // neighbor graph for EVERY corpus vector: corpus-as-queries IVF-PQ
    // cell nomination (never corpus×corpus), exact-cosine refine
    "s22_knn_graph" -> (Similarity.s22KnnGraph _),
    // s23: beam-search serve over the s22 graph — the graph-ANN query
    // verb: bounded-frontier greedy walk from a deterministic entry,
    // k unrolled rounds, visited-set ranking + walk censuses
    "s23_graph_search" -> (Similarity.s23GraphSearch _),
    // s24: occlusion-pruned (diversified) graph — the HNSW/Vamana
    // edge-selection heuristic over the s22 candidates: drop an edge
    // when a kept neighbor occludes it (α=1 RNG rule), one kept edge
    // per unrolled round
    "s24_diverse_graph" -> (Similarity.s24DiverseGraph _),
    // s25: beam-search serve over the PRUNED s24 graph — the
    // composition the occlusion prune exists for: s23's walk with 40%
    // fewer edge slots per node, recall floor kept (spec-pinned)
    "s25_pruned_search" -> (Similarity.s25PrunedSearch _),
    // s26: incremental graph insert — delta vectors fold into the
    // base-built k-NN graph through the frozen quantizer (forward
    // edges delta-vs-index) plus FreshDiskANN back-links so inserted
    // nodes become reachable; both faces delta-bounded
    "s26_graph_insert" -> (Similarity.s26GraphInsert _),
    // st18: streaming graph ingest — s26's fold per micro-batch on the
    // frozen base model, back-links merge-on-read versioned; three
    // streamed folds must equal the one-shot insert (s26's oracle)
    "st18_streaming_graph" ->
      (graft.streaming.StreamingOps.st18StreamingGraphIngest _),
    // s27: graph deletes — tombstone the id set, consolidate by
    // re-linking through deleted nodes' surviving neighbors
    // (FreshDiskANN delete+consolidate on the s22 store)
    "s27_graph_delete" -> (Similarity.s27GraphDelete _),
    // st19: streaming snapshot commits — p13's versioned table written
    // per micro-batch (batchId-keyed manifest dirs, marker-last,
    // overwrite-idempotent); time travel across the micro-batch history
    "st19_streaming_snapshots" ->
      (graft.streaming.StreamingOps.st19StreamingSnapshots _),
    // st20: commit-log retention — HWM + vacuum over st19's per-batch
    // manifest dirs, with a forced replay AFTER vacuum required to be
    // a no-op in-gate; time travel still equals batch p13
    "st20_commit_log_vacuum" ->
      (graft.streaming.StreamingOps.st20CommitLogVacuum _),
    // s29: persisted-graph serve — the walk over the src-bucketed
    // stored artifact's files alone (fresh parquet read, no memo);
    // shares s23's oracle (persistence semantically invisible)
    "s29_persisted_graph_search" -> (Similarity.s29PersistedGraphSearch _),
    // s30: graph-store compaction — base + fold slivers rewritten to
    // one sorted file per bucket with zero exchange; lifecycle faces
    // read back from the compacted files (s26's oracle verbatim)
    "s30_compacted_graph_store" -> (Similarity.s30CompactedGraphStore _),
    // s28: label-filtered beam-search serve — s08's predicate at the
    // graph tier (Filtered-DiskANN): expand through any node, rank
    // only label-matching visited candidates
    "s28_filtered_graph_search" -> (Similarity.s28FilteredGraphSearch _),
    // t26: late-interaction MaxSim retrieval — per-chunk vectors from
    // the deterministic trigram encoder, postings-first candidates,
    // per-term max-over-chunks then sum (ColBERT's scoring structure)
    "t26_maxsim" -> (TextOps.t26MaxSim _),
    // t24: interpolated Kneser–Ney bigram LM — the production
    // smoothing family (KenLM default) next to t14's Laplace baseline;
    // D=3/4 clears denominators so both engines score exact rationals
    "t24_kneser_ney" -> (TextOps.t24KneserNey _),
    // t25: content-defined chunking dedup — the shift-resistant dedup
    // family (FastCDC at word granularity): hash-decided boundaries
    // re-sync after an insertion, per-doc dup-chunk coverage census
    "t25_cdc_chunk_dedup" -> (TextOps.t25CdcChunkDedup _),
    // p21: positional delete files — the Iceberg-v2 (file_path, pos)
    // tier: deletes land keyless, apply via the scan's _metadata
    // columns, compact at file granularity
    "p21_positional_deletes" -> (Sinks.p21PositionalDeletes _),
    // p22: both v2 delete forms on one table — equality + positional
    // anti-joins stacked on one scan; positional compaction ordered
    // before equality's bucket rewrites (the dangling-reference hazard)
    "p22_combined_deletes" -> (Sinks.p22CombinedDeletes _),
    // p23: parquet bloom-filter row-group skipping — the point-lookup
    // complement of p16's zone maps on a high-NDV unsorted column;
    // census invariants measured from the file's own footer
    "p23_bloom_skipping" -> (Sinks.p23BloomSkipping _),
    // p24: the Z-order layout actually served — p08's Morton layout
    // landed, 2-D predicate routed through per-file box manifests on
    // both layouts, scanned-file counts hash-checked in the result
    "p24_zorder_serve" -> (Sinks.p24ZorderServe _),
    // p25: schema evolution across snapshots — commit 2 adds a column,
    // old files stay byte-identical, reads reconcile both physical
    // schemas with null backfill, time travel shows schema-as-of
    "p25_schema_evolution" -> (Sinks.p25SchemaEvolution _),
    // p26: schema evolution beyond add-column — int→long widening
    // (mixed physical types served through the manifest-declared read
    // schema with cast-on-read) and metadata-only column drop
    "p26_schema_evolution2" -> (Sinks.p26SchemaEvolution2 _),
    // p19: dynamic partition pruning — dim-attribute predicate becomes
    // a RUNTIME partition filter on the day-partitioned fact scan
    // (PlanSpec pins the dynamicpruning expression)
    "p19_dynamic_pruning" -> (Sinks.p19DynamicPruning _),
    // p20: write-audit-publish — a candidate batch commits to a branch
    // manifest readers never route through, a constraint audit gates
    // it, publish = metadata-only manifest append; a failing audit
    // leaves the published namespace untouched
    "p20_write_audit_publish" -> (Sinks.p20WriteAuditPublish _),
    // e06: graph-based semantic curation — threshold the s22 graph,
    // pointer-jumping CC, per-vector keep/drop verdict with cluster
    // census (the transitive SemDeDup d11's cells cannot express)
    "e06_graph_curation" -> (Pipeline.e06GraphCuration _),
    // e07: incremental graph curation — e06 over an s26-folded graph,
    // recomputing only the delta-affected components
    "e07_incremental_curation" -> (Pipeline.e07IncrementalCuration _),
    // NDV-controlled generator invariants (SURVEY §2.1 #21)
    "g01_generator_ndv" -> (graft.gen.EventsGenerator.g01 _),
    // g02: planted-documents generator ground truth — the corpus the
    // dedup tiers validate against, generated by the product (not test
    // tooling) and censused by the same pair pipeline d03 gates
    "g02_generator_docs" -> (graft.gen.DocsGenerator.g02 _)
  ).map { case (n, q) => n -> ((s: SparkSession, d: String) => graft.core.Stages.scoped(q(s, d))) }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ JsonOps.oracles ++ TextOps.oracles ++
      Dedup.oracles ++ Similarity.oracles ++ Multimodal.oracles ++
      Pipeline.oracles ++
      CodecLifecycle.oracles ++ Sinks.oracles ++
      graft.streaming.StreamingOps.oracles ++
      graft.gen.EventsGenerator.oracles ++ graft.gen.DocsGenerator.oracles
}
