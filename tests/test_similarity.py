"""Similarity/dedup operator properties: plan shape, recall vs the
exact audit, determinism of the k-means quantizer.

The recall numbers pinned here are DETERMINISTIC (md5-derived
hyperplanes, seeded centroids, fixed testdata), so the floors are
tight — a drop means the operator or its parameters changed, not
noise.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from healthkit_to_sqlite_spark.catalog import load_table
from healthkit_to_sqlite_spark.operators.dedup import ngram_jaccard_pairs
from healthkit_to_sqlite_spark.operators.similarity import (
    ann_ivf_topk,
    brute_force_embedding_pairs,
    dedup_embedding_pairs,
    topk_cosine,
)
from healthkit_to_sqlite_spark.plans import formatted_plan

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


def test_dedup_embedding_is_equi_join(spark, emb):
    # VERDICT r1 #4: the registered dedup query must never plan a
    # nested-loop/cartesian — the banded LSH form is a bucket equi-join
    plan = formatted_plan(dedup_embedding_pairs(emb))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_embedding_exact_within_candidates(spark, emb):
    # exact verification ⇒ zero false positives vs the brute audit;
    # recall at this corpus's near-threshold pairs (cos≈0.4, the
    # hardest regime for sign-LSH — collision prob 1-θ/π ≈ 0.65/bit)
    # measures 34/66 with 16 planes / 4 bands (was 23/66 at 8/2 —
    # round-2 advisor finding); true duplicates (cos→1) collide w.p.→1
    lsh = {(r.vec_a, r.vec_b) for r in dedup_embedding_pairs(emb).collect()}
    brute = {(r.vec_a, r.vec_b)
             for r in brute_force_embedding_pairs(emb).collect()}
    assert lsh <= brute
    assert len(lsh) >= 0.5 * len(brute)


def test_ivf_nprobe_widens_recall(spark, emb):
    # recall@k vs the exact scan must be monotone in nprobe and reach
    # 1.0 when every cell is probed (nprobe=K ⇒ full scan)
    exact = [r.vec_id for r in topk_cosine(emb, k=5).collect()]

    def recall(nprobe):
        got = [r.vec_id for r in
               ann_ivf_topk(emb, k=5, nprobe=nprobe).collect()]
        return len(set(got) & set(exact)) / len(exact)

    r1, r2, r_all = recall(1), recall(2), recall(8)
    assert r1 <= r2 <= r_all
    assert r_all == 1.0


def test_pq_codes_shape_and_determinism(spark, emb):
    # codes: one row per vector, m code columns each in [0, K);
    # repeated encoding is bit-identical (decimal-exact centroids)
    from healthkit_to_sqlite_spark.operators.similarity import (
        PQ_K, PQ_M, ann_pq_topk, pq_codes)
    codes, books = pq_codes(emb)
    assert codes.count() == emb.count()
    for j in range(PQ_M):
        lo, hi = codes.agg(F.min(f"code{j}"), F.max(f"code{j}")).collect()[0]
        assert 0 <= lo and hi < PQ_K
    a = sorted(tuple(r) for r in ann_pq_topk(emb).collect())
    b = sorted(tuple(r) for r in ann_pq_topk(emb).collect())
    assert a == b


def test_ngram_jaccard_hot_shingle_bound(spark):
    # VERDICT r1 #5: a stop-phrase shingle shared by D ≫ max_df docs
    # must NOT contribute its D·(D-1)/2 pairs — the df cap drops it
    # before the pair join
    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("the quick brown fox jumps unique"),
                 F.col("id").cast("string")).alias("text"))
    capped = ngram_jaccard_pairs(docs, threshold=0.0, max_df=50)
    assert capped.count() == 0
    uncapped = ngram_jaccard_pairs(docs, threshold=0.0, max_df=10_000)
    assert uncapped.count() == 100 * 99 // 2


def test_semantic_dedup_drops_exact_twins(spark):
    # two identical vectors must land in the same k-means cell and the
    # higher-id one must lose its keep flag; a distant vector keeps it
    from healthkit_to_sqlite_spark.operators.similarity import semantic_dedup

    base = [1.0] + [0.0] * 63
    far = [0.0] * 32 + [1.0] + [0.0] * 31
    rows = [(0, base, "a"), (1, base, "a_dup"), (2, far, "b")]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label string")
    # 2 centroids seeded from vec 0/1 (identical) — vec 1's centroid
    # loses all members after round 1 and drops out; all three vectors
    # then assign deterministically
    out = {r["vec_id"]: (r["cell"], r["keep"])
           for r in semantic_dedup(df, min_cosine=0.9,
                                   n_centroids=2, iters=1).collect()}
    assert out[0][1] is True          # lowest id kept
    assert out[1][1] is False         # identical twin dropped
    assert out[2][1] is True          # distant vector kept
    assert out[0][0] == out[1][0]     # twins share a cell


def test_incremental_dedup_only_flags_batch_docs(spark):
    # output doc_ids must all come from the batch side (src10+), and
    # every first_corpus_dup from the corpus side (src0-src9)
    from healthkit_to_sqlite_spark.operators.dedup import incremental_dedup

    docs = load_table(spark, SF, "documents")
    out = incremental_dedup(docs).collect()
    assert len(out) > 0
    src = {r["doc_id"]: r["source"] for r in
           docs.select("doc_id", "source").collect()}
    for r in out:
        assert int(src[r["doc_id"]][3:]) >= 10
        assert int(src[r["first_corpus_dup"]][3:]) < 10
        assert r["n_corpus_dups"] >= 1


def test_pq_rerank_recall_floor(spark):
    """PQ ADC shortlist + exact re-rank must recover (nearly) the
    exact top-k — the re-rank is what makes the coarse m=4/K=8
    codebook usable.  Deterministic corpus+quantizer ⇒ a drop below
    the floor means the codebook, shortlist size, or ADC changed, not
    noise.  Measured: 1.0 at sf0.01 with rerank_factor=8 (0.4 with no
    re-rank)."""
    from healthkit_to_sqlite_spark.operators.similarity import ann_pq_topk

    emb01 = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    exact = [r.vec_id for r in topk_cosine(emb01, k=5).collect()]
    got = [r.vec_id for r in ann_pq_topk(emb01, k=5).collect()]
    assert len(set(got) & set(exact)) / 5 >= 0.8


def test_ann_lsh_pairs_recall_floor(spark):
    """Banded sign-LSH ANN pairs vs the exact audit at the cos≥0.2
    ANN threshold: zero false positives (exact verify) and recall
    above the floor.  Measured 0.384 at sf0.01 with 16 planes /
    4 bands (the round-3 AND-only 8-bit bucket join measured 0.013 —
    the floor exists to stop any such regression).

    The banding parameters are PINNED alongside the floor (VERDICT r4
    item 4): the r4 move 8×2 → 16×4 bought recall 0.013 → 0.384 for
    ~2× kernel seconds (SCALE.md "Recall/cost operating points"), so
    any future change to these constants must consciously re-measure
    BOTH sides of that trade, not drift silently."""
    from healthkit_to_sqlite_spark.operators.similarity import (
        N_EMB_BANDS,
        N_EMB_PLANES,
        ann_lsh_pairs,
    )

    assert (N_EMB_PLANES, N_EMB_BANDS) == (16, 4), \
        "banding changed: re-measure recall AND seconds, update " \
        "SCALE.md 'Recall/cost operating points', then re-pin here"

    emb01 = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    lsh = {(r.vec_a, r.vec_b) for r in ann_lsh_pairs(emb01).collect()}
    brute = {(r.vec_a, r.vec_b) for r in
             brute_force_embedding_pairs(emb01, min_cosine=0.2).collect()}
    assert lsh <= brute            # exact verify ⇒ no false positives
    assert len(lsh & brute) / len(brute) >= 0.3


def test_quantized_topk_tracks_exact_and_saturates_absmax(spark):
    """int8 quantization at 64-d loses almost nothing: the quantized
    top-10 must overlap the exact top-10 in ≥8 slots (deterministic —
    fixed codes, fixed data), and every vector's absmax element must
    quantize to exactly ±127 (n_saturated ≥ 1) or the scale is wrong."""
    from healthkit_to_sqlite_spark.operators.similarity import quantized_topk

    emb01 = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    exact = [r.vec_id for r in topk_cosine(emb01, k=10).collect()]
    rows = quantized_topk(emb01, k=10).collect()
    quant = [r.vec_id for r in rows]
    assert len(set(exact) & set(quant)) >= 8, (exact, quant)
    assert all(r.n_saturated >= 1 for r in rows)


def test_ivfpq_recall_floor_and_probe_monotonicity(spark):
    """Composed IVF+PQ vs the exact top-k: with nprobe=2 of 8 cells
    the pruned ADC+re-rank must keep most of the exact answer, and
    widening the probe must never lose recall (same monotonicity
    contract the standalone IVF pins).  Measured at sf0.01: 0.8 at
    nprobe=2, 1.0 at nprobe=8 (deterministic ⇒ tight floors)."""
    from healthkit_to_sqlite_spark.operators.similarity import ann_ivfpq_topk

    emb01 = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    exact = {r.vec_id for r in topk_cosine(emb01, k=5).collect()}
    narrow = {r.vec_id for r in ann_ivfpq_topk(emb01, k=5, nprobe=2).collect()}
    wide = {r.vec_id for r in ann_ivfpq_topk(emb01, k=5, nprobe=8).collect()}
    assert len(narrow & exact) / 5 >= 0.6
    assert len(wide & exact) >= len(narrow & exact)


def test_knn_graph_ranks_and_degree_bound(spark):
    """Every node's list is its exact per-node cosine ranking of the
    verified candidate edges: rank 1 is the max, ranks are dense from
    1, degree <= k, and edges are symmetric candidates (src appears in
    dst's candidate set at SOME rank iff the pair verified)."""
    from healthkit_to_sqlite_spark.operators.similarity import knn_graph

    emb = load_table(spark, SF, "embeddings")
    rows = knn_graph(emb, k=5).collect()
    by_src: dict[int, list] = {}
    for r in rows:
        by_src.setdefault(r.src, []).append(r)
    assert by_src
    for src, es in by_src.items():
        es.sort(key=lambda r: r.rank)
        assert [e.rank for e in es] == list(range(1, len(es) + 1))
        assert len(es) <= 5
        sims = [e.cosine_sim for e in es]
        assert sims == sorted(sims, reverse=True)


def test_rrf_prefers_docs_in_both_lists(spark):
    """An id present in BOTH contract lists at decent ranks must
    outrank an id present in only one list at a middling rank —
    1/(60+ra)+1/(60+rb) > 1/(60+rc) for any ra,rb when rc >= 2·min;
    concretely the top fused id must appear in at least one list's
    top 3, and every fused score is positive and <= 2/61."""
    from healthkit_to_sqlite_spark.operators.similarity import rrf_fusion

    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")
    got = rrf_fusion(docs, emb).collect()
    assert 0 < len(got) <= 10
    assert all(0 < r.rrf <= round(2 / 61, 6) + 1e-9 for r in got)
    both = [r for r in got if r.bm25_rank is not None
            and r.cos_rank is not None]
    single = [r for r in got if (r.bm25_rank is None) != (r.cos_rank is None)]
    for b in both:
        for s in single:
            if (s.bm25_rank or s.cos_rank) >= max(b.bm25_rank, b.cos_rank):
                assert b.rrf > s.rrf


def test_negative_pairs_exclude_neighbors_and_self(spark):
    """No mined negative may be the anchor itself or any pair the
    near-dup surface verified at the ANN threshold; every anchor gets
    at most k negatives with dense ranks in draw order."""
    from healthkit_to_sqlite_spark.operators.similarity import negative_pairs

    emb = load_table(spark, SF, "embeddings")
    negs = negative_pairs(emb, k=4).collect()
    near = {(r.vec_a, r.vec_b) for r in
            dedup_embedding_pairs(emb, min_cosine=0.2).collect()}
    near |= {(b, a) for a, b in near}
    by_anchor: dict[int, list] = {}
    for r in negs:
        assert r.vec_id != r.neg_id
        assert (r.vec_id, r.neg_id) not in near
        by_anchor.setdefault(r.vec_id, []).append(r)
    assert by_anchor
    for anchor, rows in by_anchor.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 4
        draws = [r.draw for r in rows]
        assert draws == sorted(draws)  # first surviving draws win


def test_mrl_rerank_recall_floor_vs_exact(spark):
    """Prefix-rank + exact re-rank must recover most of the true
    top-10 (recall floor pinned so a prefix/shortlist change can't
    silently trash quality), and every returned cosine must be exact
    (equal to the brute-force score for that vec_id)."""
    from healthkit_to_sqlite_spark.operators.similarity import (
        mrl_rerank_topk,
        topk_cosine,
    )

    emb = load_table(spark, SF, "embeddings")
    exact = {r.vec_id: r.cosine_sim for r in topk_cosine(emb, k=10).collect()}
    got = mrl_rerank_topk(emb).collect()
    assert len(got) == 10
    overlap = len(exact.keys() & {r.vec_id for r in got})
    assert overlap >= 8  # recall@10 floor (32-dim prefix, 100 shortlist)
    # k must stay bounded: TakeOrdered allocates an O(k) heap per
    # partition, so a huge limit OOMs the JVM — size it to the table
    full = {r.vec_id: r.cosine_sim
            for r in topk_cosine(emb, k=emb.count()).collect()}
    for r in got:
        assert r.cosine_sim == full[r.vec_id]
        assert -1.0 <= r.prefix_sim <= 1.0


def test_ann_brp_lsh_recall_floor_and_no_false_positives(spark, emb):
    """pyspark.ml BucketedRandomProjectionLSH (q_ann_brp, rows-only
    contract) now carries a QUANTITATIVE pin like every other sketch/
    ANN query (VERDICT r4 item 7): approxSimilarityJoin post-filters
    by true distance, so the output must be a SUBSET of the exact
    L2≤threshold pair set (zero false positives), and the seeded
    3-table OR-amplification must keep recall above a floor.
    Measured: 1388/1478 = 0.939 at sf0.001 (seed=42 ⇒ deterministic,
    so a drop means parameters changed, not noise)."""
    import numpy as np

    from healthkit_to_sqlite_spark.operators.udx import ann_brp_lsh

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r.vec_id for r in rows]
    x = np.array([r.embedding for r in rows])
    d = np.sqrt(((x[:, None, :] - x[None, :, :]) ** 2).sum(-1))
    exact = {(min(ids[i], ids[j]), max(ids[i], ids[j]))
             for i in range(len(ids)) for j in range(i + 1, len(ids))
             if d[i, j] <= 1.2}
    got = {(r.vec_a, r.vec_b) for r in ann_brp_lsh(emb).collect()}
    assert got <= exact                      # exact post-filter ⇒ no FPs
    assert len(got & exact) / len(exact) >= 0.85


def test_ml_minhash_pairs_recall_floor_and_no_false_positives(spark):
    """pyspark.ml MinHashLSH (q_dedup_near, rows-only) quantitative
    pin: every returned pair must ALSO pass the exact shingle-Jaccard
    ≥0.6 test (the hashed-TF space at 2^18 features makes collisions
    negligible at this scale), and the 5-table OR-amplification must
    find nearly all true pairs.  Measured: 28/28 = 1.0 at sf0.001
    (seed=42 ⇒ deterministic)."""
    from healthkit_to_sqlite_spark.operators.dedup import (
        ml_minhash_lsh_pairs,
    )

    docs = load_table(spark, SF, "documents")
    got = {(r.doc_a, r.doc_b) for r in ml_minhash_lsh_pairs(docs).collect()}
    exact = {(r.doc_a, r.doc_b) for r in
             ngram_jaccard_pairs(docs, threshold=0.6,
                                 max_df=10 ** 9).collect()}
    assert got <= exact
    assert len(got & exact) / max(1, len(exact)) >= 0.9


def test_ivfpq_residual_recall_and_distortion_vs_full_corpus(spark):
    """VERDICT r4 item 6 — residual-encoded IVFADC (q_ann_ivfpq_residual)
    vs the full-corpus-codebook variant at equal m/k:

    (1) encoding DISTORTION: residual quantization MSE must be lower —
        the published claim (Jégou et al. 2011 §IV) and the reason the
        variant exists.  Measured at sf0.01: 0.772 vs 0.828 (~7% —
        modest because the synthetic corpus is near-isotropic and K=8
        coarse cells soak little variance; on clustered real data the
        gap widens).
    (2) end recall@5 at the SHIPPED operating point (rerank_factor=8):
        residual ≥ full-corpus.  Measured 1.0 vs 1.0 (with the
        corpus-spread seeding; the naive first-k residual seeds
        measured 0.6 — the regression this pin guards).
    All kernels are deterministic, so both pins are exact re-checks,
    not statistical."""
    import numpy as np

    from healthkit_to_sqlite_spark.operators.similarity import (
        RES_SEED_STRIDE,
        _assign_cells,
        ann_ivfpq_residual_topk,
        ann_ivfpq_topk,
        kmeans_centroids,
        pq_codes,
    )

    emb01 = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    rows = emb01.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, x = ids[order], x[order]
    q = x[0]
    exact5 = set(ids[np.argsort(((x - q) ** 2).sum(1))][1:6].tolist())

    got_raw = {r.vec_id for r in ann_ivfpq_topk(emb01).collect()}
    got_res = {r.vec_id for r in ann_ivfpq_residual_topk(emb01).collect()}
    recall_raw = len(got_raw & exact5) / 5
    recall_res = len(got_res & exact5) / 5
    assert recall_res >= recall_raw, (recall_res, recall_raw)
    assert recall_res >= 0.8

    # quantization MSE at equal m/k, via the actual engine codebooks
    def encode_mse(frame, stride):
        codes, book = pq_codes(frame, seed_stride=stride)
        crows = {r.vec_id: r for r in codes.collect()}
        brows = {(r.j, r.cid): np.array(r.cemb) for r in book.collect()}
        base = {r.vec_id: np.array(r.embedding, dtype=np.float64)
                for r in frame.select("vec_id", "embedding").collect()}
        mse = 0.0
        for vid, v in base.items():
            c = crows[vid]
            for j in range(4):
                sl = v[j * 16:(j + 1) * 16]
                mse += ((sl - brows[(j, getattr(c, f"code{j}"))]) ** 2).sum()
        return mse / len(base)

    cent = kmeans_centroids(emb01)
    cells = _assign_cells(emb01, cent)
    res = (emb01.select("vec_id", "embedding")
           .join(cells, "vec_id")
           .join(F.broadcast(cent), F.col("cell") == F.col("cid"))
           .select("vec_id",
                   F.zip_with("embedding", "cemb",
                              lambda a, c: a.cast("double") - c)
                   .alias("embedding")))
    mse_res = encode_mse(res, RES_SEED_STRIDE)
    mse_raw = encode_mse(emb01.select("vec_id", "embedding"), 1)
    assert mse_res < mse_raw, (mse_res, mse_raw)


def test_ann_index_append_freezes_quantizers_and_time_travels(spark):
    """Incremental index maintenance invariants: (1) the append pass
    publishes version 2 with cells/codes covering base ∪ new while
    centroids/codebook stay BYTE-identical to version 1 (frozen
    quantizers); (2) version 1 still reads as the pre-append index
    (time travel); (3) appended rows' cells are exactly what frozen
    assignment of the new vectors produces."""
    from healthkit_to_sqlite_spark.operators.similarity import (
        ANN_APPEND_SPLIT,
        _assign_cells,
        build_ann_index_appended,
    )
    from healthkit_to_sqlite_spark.catalog import load_table

    sf = "/root/testdata/sf0.001"
    cat = build_ann_index_appended(spark, sf)
    assert cat.current_version() == 2
    emb = load_table(spark, sf, "embeddings")
    n_total = emb.count()
    assert cat.read(spark, "cells").count() == n_total
    assert cat.read(spark, "codes").count() == n_total
    assert cat.read(spark, "cells", version=1).count() == ANN_APPEND_SPLIT
    c1 = sorted(map(tuple, cat.read(spark, "centroids", version=1).collect()))
    c2 = sorted(map(tuple, cat.read(spark, "centroids").collect()))
    assert c1 == c2  # quantizers frozen across the append
    new = emb.filter(F.col("vec_id") >= ANN_APPEND_SPLIT)
    expect = {(r.vec_id, r.cell) for r in _assign_cells(
        new, cat.read(spark, "centroids")).collect()}
    got = {(r.vec_id, r.cell)
           for r in cat.read(spark, "cells").collect()
           if r.vec_id >= ANN_APPEND_SPLIT}
    assert got == expect


def test_pca_projection_math_properties(spark):
    """Rows-only accuracy pins for q_pca_project (every rows-only
    query carries a quantitative floor): (1) the projected columns'
    POPULATION variances equal the top eigenvalues of the corpus
    covariance, in decreasing order (the defining PCA property);
    (2) distinct components are uncorrelated; (3) the projection is
    deterministic across rebuilds (sign canonicalization makes the
    basis unique)."""
    import numpy as np

    from healthkit_to_sqlite_spark.catalog import load_table
    from healthkit_to_sqlite_spark.operators.similarity import (
        PCA_P,
        build_pca_model,
        pca_project,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    model = build_pca_model(spark, sf)
    rows = pca_project(emb, model=model).collect()
    mat = np.array([[getattr(r, f"pc{c}") for c in range(PCA_P)]
                    for r in rows])
    # raw covariance from numpy as the independent reference
    x = np.array([list(r.embedding) for r in
                  emb.select("embedding").collect()], dtype=np.float64)
    evals = np.sort(np.linalg.eigvalsh(np.cov(x.T, bias=True)))[::-1]
    pvar = mat.var(axis=0)                      # population variance
    assert np.all(np.diff(pvar) <= 1e-9)        # decreasing
    # projection variance == eigenvalue (rounding to 6dp + the
    # covariance's own 6dp rounding bound the drift)
    assert np.allclose(pvar, evals[:PCA_P], atol=1e-3)
    pcov = np.cov(mat.T, bias=True)
    off = pcov - np.diag(np.diag(pcov))
    assert np.abs(off).max() < 1e-3             # decorrelated
    rows2 = pca_project(emb, model=model).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_mahalanobis_mean_equals_p_and_matches_numpy(spark):
    """Rows-only pins for q_mahalanobis: (1) over the whole corpus the
    MEAN rank-p whitened Mahalanobis distance equals p (each whitened
    component has unit variance by construction of the PCA model);
    (2) the Spark scores equal an independent numpy computation."""
    import numpy as np

    from healthkit_to_sqlite_spark.catalog import load_table
    from healthkit_to_sqlite_spark.operators.similarity import (
        PCA_P,
        build_pca_model,
        mahalanobis_topk,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    model = build_pca_model(spark, sf)
    n = emb.count()
    all_rows = mahalanobis_topk(emb, model, k=n).collect()
    md2 = np.array([r.md2 for r in all_rows])
    assert abs(md2.mean() - PCA_P) < 1e-3

    x = np.array([list(r.embedding) for r in
                  emb.select("embedding").collect()], dtype=np.float64)
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    comps = np.zeros((64, PCA_P))
    for r in model.read(spark, "components").collect():
        comps[r.d, r.c] = r.v
    off = np.array([r.off for r in sorted(
        model.read(spark, "offsets").collect(), key=lambda r: r.c)])
    lam = np.array([r.lam for r in sorted(
        model.read(spark, "evals").collect(), key=lambda r: r.c)])
    ref = (((x @ comps) - off) ** 2 / lam).sum(axis=1)
    ref_by_id = dict(zip(ids, ref))
    for r in all_rows:
        assert abs(r.md2 - ref_by_id[r.vec_id]) < 1e-4, r.vec_id


def test_binary_ann_recall_floor_and_packing_invariant(spark):
    """1-bit sign quantization + Hamming shortlist + exact cosine
    re-rank vs the exact top-10.  Deterministic corpus ⇒ tight floor:
    measured 0.9 at sf0.01 with rerank_factor=8 (1.0 at 32 — the
    shortlist, not the re-rank, is the recall limiter).  Packing
    invariant: popcount of the two packed words must equal the count
    of strictly-positive dimensions for EVERY vector — a word-order,
    slice-offset, or sign-convention bug cannot survive it."""
    from healthkit_to_sqlite_spark.operators.similarity import (
        _sign_words,
        binary_ann_topk,
    )

    emb01 = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    exact = [r.vec_id for r in topk_cosine(emb01, k=10).collect()]
    got = [r.vec_id for r in binary_ann_topk(emb01, k=10).collect()]
    assert len(set(got) & set(exact)) / 10 >= 0.9

    w0, w1 = _sign_words()
    bad = (emb01.select(
        (F.bit_count(w0) + F.bit_count(w1)).alias("popcnt"),
        F.size(F.filter(F.col("embedding"),
                        lambda x: x.cast("double") > 0)).alias("n_pos"))
        .filter(F.col("popcnt") != F.col("n_pos")).count())
    assert bad == 0


def test_binary_ann_plan_is_jvm_popcnt_scan(spark, emb):
    """The candidate pass must stay whole-stage-codegen JVM work: no
    Python eval anywhere, the 1-row query side broadcast (the only
    nested-loop nodes), shortlist + re-rank as TakeOrdered heaps —
    never a global sort or a cartesian pair join."""
    from healthkit_to_sqlite_spark.operators.similarity import binary_ann_topk

    plan = formatted_plan(binary_ann_topk(emb))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_mmr_rerank_diversifies_vs_plain_topk(spark):
    """MMR invariants on the deterministic sf0.01 corpus: (1) the
    first pick is exactly the relevance top-1; (2) the selected set's
    maximum pairwise cosine is ≤ the plain top-k's (the entire point
    of the re-rank); (3) scores are non-increasing in step order
    (greedy argmax over a shrinking candidate set with a growing
    penalty); (4) k distinct picks, none the query itself."""
    from healthkit_to_sqlite_spark.functions import cosine_similarity
    from healthkit_to_sqlite_spark.operators.similarity import mmr_rerank

    emb01 = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    out = mmr_rerank(emb01).collect()
    assert len(out) == 10
    picks = [r.vec_id for r in sorted(out, key=lambda r: r.step)]
    assert len(set(picks)) == 10 and 0 not in picks

    exact = [r.vec_id for r in topk_cosine(emb01, k=10).collect()]
    assert picks[0] == exact[0]

    def max_pairwise(ids):
        sub = emb01.filter(F.col("vec_id").isin(ids))
        a = sub.select(F.col("vec_id").alias("i"),
                       F.col("embedding").alias("ea"))
        b = sub.select(F.col("vec_id").alias("j"),
                       F.col("embedding").alias("eb"))
        return (a.crossJoin(b).filter(F.col("i") < F.col("j"))
                .select(cosine_similarity(F.col("ea"), F.col("eb"))
                        .alias("s"))
                .agg(F.max("s")).collect()[0][0])

    assert max_pairwise(picks) <= max_pairwise(exact) + 1e-12

    scores = [r.mmr_score for r in sorted(out, key=lambda r: r.step)]
    assert all(a >= b for a, b in zip(scores, scores[1:]))


def test_mmr_rerank_small_corpus_stops_at_candidate_count(spark):
    """Fewer than k candidates: the greedy stops at the candidate
    count (no NULL-filled steps), mirroring the oracle's winnerless
    steps emitting no row."""
    import random

    from healthkit_to_sqlite_spark.operators.similarity import mmr_rerank

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = mmr_rerank(emb, k=10).collect()
    assert len(out) == 5
    assert all(r.vec_id is not None and r.mmr_score is not None
               for r in out)


def test_ivf_rebalance_overlay_and_time_travel(spark):
    """Rebalance invariants on the contract corpus (r7 VERDICT item
    4): (1) version 1 is a byte-level SHALLOW CLONE of the live index
    (same manifest file lists — zero copy); (2) the overlay pass never
    touches the base cells/codes files (untouched vectors ride the
    same immutable files, so time travel is free); (3) the delta
    covers EXACTLY the members of split + merged cells; (4) overlay
    resolution conserves the corpus (every vec_id exactly once); (5)
    every split child is strictly smaller than its parent and the
    over-threshold cell count does not increase."""
    from healthkit_to_sqlite_spark.operators.similarity import (
        IVF_MERGE_PCT,
        IVF_SPLIT_PCT,
        _rebal_artifacts,
        build_ann_index,
        rebalance_ann_index,
    )

    sf = "/root/testdata/sf0.001"
    base = build_ann_index(spark, sf)
    cat = rebalance_ann_index(spark, sf)
    assert cat.current_version() == 2

    # (1) shallow clone: v1 references the SOURCE catalog's files
    src_tables = base._load(base.current_version())["tables"]
    v1_tables = cat._load(1)["tables"]
    for t in ("centroids", "cells", "codes", "codebook"):
        assert v1_tables[t]["files"] == src_tables[t]["files"]

    # (2) the overlay pass carries base cells/codes files forward
    v2_tables = cat._load(2)["tables"]
    assert v2_tables["cells"]["files"] == v1_tables["cells"]["files"]
    assert v2_tables["codes"]["files"] == v1_tables["codes"]["files"]
    assert "cells_delta" in v2_tables and "codes_delta" in v2_tables

    # classify cells exactly as the pass does (exact-integer bounds)
    occ1 = {r.cell: r.n for r in
            cat.read(spark, "cells", version=1)
            .groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()}
    total, kc = sum(occ1.values()), len(occ1)
    hot = {c for c, n in occ1.items()
           if n * kc * 100 > IVF_SPLIT_PCT * total}
    cold = {c for c, n in occ1.items()
            if n * kc * 100 < IVF_MERGE_PCT * total}
    assert hot and cold  # thresholds chosen so both paths exercise

    # (3) delta = exactly the moved members
    moved_expect = {r.vec_id for r in
                    cat.read(spark, "cells", version=1).collect()
                    if r.cell in hot | cold}
    delta = {r.vec_id: r.cell for r in
             cat.read(spark, "cells_delta").collect()}
    assert set(delta) == moved_expect
    assert {r.vec_id for r in cat.read(spark, "codes_delta").collect()} \
        == moved_expect

    # (4) conservation under overlay resolution
    _, cells2, codes2, _ = _rebal_artifacts(spark, cat)
    n_total = sum(occ1.values())
    assert cells2.count() == n_total
    assert cells2.select("vec_id").distinct().count() == n_total
    assert codes2.count() == n_total

    # the vector-budget batch serve answers every query with k rows
    from healthkit_to_sqlite_spark.operators.similarity import (
        ANN_BATCH_Q,
        ann_batch_query_from_rebalanced_index,
    )
    served = (ann_batch_query_from_rebalanced_index(spark, sf)
              .groupBy("q_id").agg(F.count(F.lit(1)).alias("n"))
              .collect())
    assert len(served) == ANN_BATCH_Q
    assert all(r.n == 5 for r in served)

    # (5) split children strictly shrink, counting only the parent's
    # own members — a child can ALSO be a merge target and receive
    # cold-cell refugees on top.  (No occupancy-IMPROVEMENT claim
    # here: at the 3%-over-mean demo thresholds on a near-uniform
    # corpus there is nothing to fix, so churn can worsen the
    # spread — that improvement pin lives on the skewed fixture in
    # the next test, where maintenance is actually warranted.)
    base_cid = max(occ1) + 1
    v1_cell = {r.vec_id: r.cell for r in
               cat.read(spark, "cells", version=1).collect()}
    parents = sorted(hot)
    for i, parent in enumerate(parents):
        for s in (0, 1):
            child = base_cid + 2 * i + s
            from_parent = sum(1 for v, c in delta.items()
                              if c == child and v1_cell[v] == parent)
            assert from_parent < occ1[parent]


def test_ivf_rebalance_recall_not_degraded_on_skewed_corpus(spark):
    """Recall pin for the case a rebalance is FOR (a genuinely hot
    cell): on a corpus with a dense 200-vector cluster, splitting the
    hot cell must not degrade batch-serve recall@5 at the same nprobe
    (here it holds exactly), while the probed-vector scan cost drops
    (smaller cells = cheaper serving — the point of the split).

    The contract corpus is near-uniform, where ANY reassignment is
    recall-negative at fixed scan (measured 0.675 → 0.45 at sf0.01) —
    precisely the situation q_ann_recall_report exists to catch, so
    the production-thresholds pin lives on this skewed fixture
    instead.  Deterministic: cluster offsets are integer-arithmetic
    perturbations of vector 0, no randomness anywhere."""
    import os
    import tempfile

    from healthkit_to_sqlite_spark.operators.similarity import (
        ANN_BATCH_Q,
        PQ_RERANK,
        RES_SEED_STRIDE,
        _assign_cells,
        _batch_adc_serve,
        _recall_vs_exact,
        _rebal_artifacts,
        _rebalance_pass,
        kmeans_centroids,
        pq_codes,
    )
    from healthkit_to_sqlite_spark.sinks.manifest import ManifestCatalog

    base = (load_table(spark, SF, "embeddings")
            .select("vec_id", "embedding", "label"))
    e0 = base.filter(F.col("vec_id") == 0).first().embedding
    extra = [(500 + i,
              [float(e0[j]) + ((i * 31 + j * 17) % 7 - 3) * 0.01
               for j in range(64)], 99) for i in range(200)]
    emb = (base.unionByName(spark.createDataFrame(
        extra, "vec_id long, embedding array<float>, label int"))
        .localCheckpoint(eager=True))

    cent = kmeans_centroids(emb)
    cells = _assign_cells(emb, cent).localCheckpoint(eager=True)
    res = (emb.select("vec_id", "embedding").join(cells, "vec_id")
           .join(F.broadcast(cent), F.col("cell") == F.col("cid"))
           .select("vec_id",
                   F.zip_with("embedding", "cemb",
                              lambda x, c: x.cast("double") - c)
                   .alias("embedding"))
           .localCheckpoint(eager=True))
    codes, book = pq_codes(res, seed_stride=RES_SEED_STRIDE)
    cat = ManifestCatalog(os.path.join(tempfile.mkdtemp(), "cat"))
    cat.publish_pass({"centroids": cent, "cells": cells,
                      "codes": codes, "codebook": book})

    occ1 = {r.cell: r.n for r in cells.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert max(occ1.values()) > 1.5 * sum(occ1.values()) / len(occ1)

    _rebalance_pass(spark, emb, cat, split_pct=150, merge_pct=50)
    cent2, cells2, codes2, book2 = _rebal_artifacts(spark, cat)

    def serve_recall(c, cl, co, bk):
        approx = _batch_adc_serve(emb, c, cl, co, bk, ANN_BATCH_Q, 5, 2,
                                  PQ_RERANK).select("q_id", "vec_id")
        return _recall_vs_exact(emb, approx, ANN_BATCH_Q, 5) \
            .agg(F.avg("recall")).first()[0]

    pre = serve_recall(cent, cells, codes, book)
    post = serve_recall(cent2, cells2, codes2, book2)
    assert post >= pre  # equality measured: 0.675 == 0.675

    # occupancy improved where it was warranted: the largest
    # probe-able cell shrank (cheaper worst-case serve) and the
    # over-threshold cell count did not increase
    occ2 = {r.cell: r.n for r in cells2.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert max(occ2.values()) < max(occ1.values())
    t1, k1 = sum(occ1.values()), len(occ1)
    t2, k2 = sum(occ2.values()), len(occ2)
    over1 = sum(n * k1 * 100 > 150 * t1 for n in occ1.values())
    over2 = sum(n * k2 * 100 > 150 * t2 for n in occ2.values())
    assert over2 <= over1


def test_filtered_ann_prefilters_and_recalls(spark, emb):
    """Filtered ANN (r9): (1) every result satisfies the predicate
    and k fills — while POST-filtering the unfiltered exact top-k
    keeps only 1 row on this corpus (the under-fill the pre-filter
    design exists to avoid); (2) recall@5 vs the exact FILTERED
    brute-force top-5 ≥ 0.8 at the contract probe budget
    (deterministic corpus → tight floor); (3) the committed-index
    serve equals the in-query variant row-for-row."""
    from healthkit_to_sqlite_spark.operators.similarity import (
        ANN_FILTER_LABELS, ann_filtered_from_index, ann_ivf_filtered_topk,
        cosine_similarity)

    got = ann_ivf_filtered_topk(emb).collect()
    assert len(got) == 5
    assert all(r.label in ANN_FILTER_LABELS for r in got)

    qv = (emb.filter(F.col("vec_id") == 0)
          .select(F.col("embedding").alias("q_emb")))
    exact = (emb.crossJoin(F.broadcast(qv))
             .filter(F.col("vec_id") != 0)
             .select("vec_id", "label",
                     F.round(cosine_similarity(F.col("embedding"),
                                               F.col("q_emb")), 6)
                     .alias("s"))
             .orderBy(F.col("s").desc(), "vec_id"))
    survivors = sum(1 for r in exact.limit(5).collect()
                    if r.label in ANN_FILTER_LABELS)
    assert survivors < 5          # post-filter under-fills k

    exact_ids = {r.vec_id for r in
                 exact.filter(F.col("label").isin(*ANN_FILTER_LABELS))
                 .limit(5).collect()}
    assert len({r.vec_id for r in got} & exact_ids) >= 4  # recall ≥ 0.8

    serve = ann_filtered_from_index(spark, SF).collect()
    assert sorted(map(tuple, serve)) == sorted(map(tuple, got))


def test_dv_rewrite_partial_application(spark):
    """Erasure monitor→actuator at the contract threshold (VERDICT r9
    item 2): the fixture puts SOME tombstoned cells over
    DV_REWRITE_PCT and others under, so the pass must apply exactly
    the due cells' tombstones physically, keep the rest as a logical
    DV, version the per-cell decision, and serve the composition
    identically to the all-logical erased serve."""
    from healthkit_to_sqlite_spark.operators.similarity import (
        FORGET_VEC_IDS, ann_query_after_dv_rewrite, ann_query_after_forget,
        dv_fraction_report, dv_rewrite_ann_index)

    cat = dv_rewrite_ann_index(spark, SF)
    assert cat.current_version() == 2
    dec = sorted(cat.read(spark, "dv_decision").collect(),
                 key=lambda r: r.cell)
    assert any(r.rewrite_due for r in dec)
    assert not all(r.rewrite_due for r in dec)          # both paths live
    assert not any(r.retrain_due for r in dec)          # 4/500 << 20%

    leftover = {r.vec_id for r in cat.read(spark, "deleted").collect()}
    assert leftover and leftover < set(FORGET_VEC_IDS)  # PARTIAL
    for t in ("cells", "codes"):
        present = {r.vec_id for r in cat.read(spark, t)
                   .filter(F.col("vec_id").isin(*FORGET_VEC_IDS))
                   .collect()}
        assert present == leftover, (
            f"{t}: due-cell tombstones must be physically gone, "
            "not-due ones must remain")

    # the monitor's rollup IS the versioned decision (modulo the flag)
    mon = sorted(dv_fraction_report(spark, SF).collect(),
                 key=lambda r: r.cell)
    assert ([(r.cell, r.n_live, r.n_tombstoned, r.rewrite_due)
             for r in mon]
            == [(r.cell, r.n_live, r.n_tombstoned, r.rewrite_due)
                for r in dec])

    # phase composition serves exactly like the all-logical DV serve
    assert (ann_query_after_dv_rewrite(spark, SF).collect()
            == ann_query_after_forget(spark, SF).collect())


def test_dv_rewrite_nothing_due_still_publishes_decision(spark):
    """Version-guard rule on BOTH outcomes: a threshold no tombstoned
    cell crosses must still publish the decision artifact (otherwise
    every later call re-runs the decision scan), while cells/codes
    ride forward file-identical and the DV stays fully logical."""
    from healthkit_to_sqlite_spark.operators.similarity import (
        FORGET_VEC_IDS, dv_rewrite_ann_index)

    cat = dv_rewrite_ann_index(spark, SF, rewrite_pct=100)
    assert cat.current_version() == 2
    t1 = cat._load(1)["tables"]
    t2 = cat._load(2)["tables"]
    for t in ("cells", "codes", "centroids", "codebook", "deleted"):
        assert t2[t]["files"] == t1[t]["files"], f"{t} rewritten"
    dec = cat.read(spark, "dv_decision").collect()
    assert dec and not any(r.rewrite_due for r in dec)
    assert (cat.read(spark, "deleted").count()
            == len(set(FORGET_VEC_IDS)))
    # idempotent: the published decision is the version guard
    again = dv_rewrite_ann_index(spark, SF, rewrite_pct=100)
    assert again.current_version() == 2


def test_proto_prune_drops_exact_per_cell_prefix(spark, emb):
    """Prototypicality pruning (SSL-prototypes/D4): per cluster, the
    dropped set is EXACTLY the ceil(cnt*drop_frac) lowest-(dist,
    vec_id) rows — every kept row sorts strictly after every dropped
    row in the (dist, vec_id) order, rank range is contiguous, and
    kept ∪ dropped partitions the corpus."""
    from healthkit_to_sqlite_spark.operators.similarity import (
        PROTO_DROP, ivf_cells, proto_prune)
    import math

    kept = proto_prune(emb).toPandas()
    cells = ivf_cells(emb).toPandas()
    assert set(kept.vec_id) <= set(cells.vec_id)
    by_cell = cells.groupby("cell").size().to_dict()
    for cell, grp in kept.groupby("cell"):
        cnt = by_cell[cell]
        cut = math.ceil(cnt * PROTO_DROP)
        assert len(grp) == cnt - cut, f"cell {cell}: kept {len(grp)}"
        ranks = sorted(grp.proto_rank)
        assert ranks == list(range(cut + 1, cnt + 1)), (
            f"cell {cell}: rank range not the post-cutoff suffix")
    # global: dropped fraction is ~drop_frac (within per-cell ceil)
    n = sum(by_cell.values())
    assert n - len(kept) >= PROTO_DROP * n - len(by_cell)


def test_proto_prune_keeps_the_far_points(spark, emb):
    """The kept rows of each cell are the FARTHEST from the centroid:
    min kept dist >= max dropped dist (ties impossible across the
    cutoff because rank ordering is (dist, vec_id))."""
    from healthkit_to_sqlite_spark.operators.similarity import (
        _assign_cells, kmeans_centroids, proto_prune)

    cent = kmeans_centroids(emb)
    full = _assign_cells(emb, cent, keep_dist=True).toPandas()
    kept = proto_prune(emb).toPandas()
    dropped = full[~full.vec_id.isin(set(kept.vec_id))]
    for cell in kept.cell.unique():
        kmin = kept[kept.cell == cell].sort_values(
            ["dist", "vec_id"]).iloc[0]
        dmax = dropped[dropped.cell == cell].sort_values(
            ["dist", "vec_id"]).iloc[-1]
        assert (dmax.dist, dmax.vec_id) < (kmin.dist, kmin.vec_id)


def test_selection_serve_twins_equal_in_query_forms(spark, emb):
    """The committed-index serve twins must reproduce their in-query
    forms EXACTLY (same rounding, same tie-breaks): the committed
    artifacts equal from-scratch training bit-for-bit, so swapping
    the training stage for the artifact read cannot move a single
    row."""
    from healthkit_to_sqlite_spark.operators.similarity import (
        proto_prune, proto_prune_from_index, semantic_dedup,
        semantic_dedup_from_index)

    in_q = sorted(map(tuple, proto_prune(emb).collect()))
    served = sorted(map(tuple,
                        proto_prune_from_index(spark, SF).collect()))
    assert in_q == served

    in_q = sorted(map(tuple, semantic_dedup(emb).collect()))
    served = sorted(map(tuple,
                        semantic_dedup_from_index(spark, SF).collect()))
    assert in_q == served


def test_bitext_mine_matches_numpy_audit(spark):
    """Independent numpy replay of the ratio-margin pipeline (the
    third implementation after Spark and the DuckDB oracle): same
    rounding discipline, same tie order, same forward-mining rule —
    the mined (src, tgt) set must match exactly."""
    import numpy as np

    from healthkit_to_sqlite_spark.operators.similarity import (
        BITEXT_SRC_LANG, BITEXT_TGT_LANG, MARGIN_K, MARGIN_THRESHOLD,
        bitext_mine)

    emb = load_table(spark, SF, "embeddings")
    docs = load_table(spark, SF, "documents")
    mined = {(r.src_id, r.tgt_id)
             for r in bitext_mine(emb, docs).collect()}

    ep = emb.toPandas().set_index("vec_id")
    dp = docs.toPandas().set_index("doc_id")
    ids = {lang: sorted(dp.index[dp.lang == lang])
           for lang in (BITEXT_SRC_LANG, BITEXT_TGT_LANG)}
    X = np.array([np.asarray(ep.embedding[i], dtype=np.float64)
                  for i in ids[BITEXT_SRC_LANG]])
    Y = np.array([np.asarray(ep.embedding[i], dtype=np.float64)
                  for i in ids[BITEXT_TGT_LANG]])
    cos = np.round(
        (X @ Y.T) / np.outer(np.sqrt((X * X).sum(1)),
                             np.sqrt((Y * Y).sum(1))), 9)
    ax = np.sort(cos, axis=1)[:, -MARGIN_K:].mean(1)   # top-k per src
    ay = np.sort(cos, axis=0)[-MARGIN_K:, :].mean(0)   # top-k per tgt
    margin = np.round(cos / ((ax[:, None] + ay[None, :]) / 2), 6)
    expect = set()
    for i, src in enumerate(ids[BITEXT_SRC_LANG]):
        j = int(np.lexsort((ids[BITEXT_TGT_LANG], -margin[i]))[0])
        if margin[i, j] >= MARGIN_THRESHOLD:
            expect.add((src, ids[BITEXT_TGT_LANG][j]))
    assert mined == expect


def test_bitext_knn_mean_divides_by_actual_short_side_count(spark):
    """ADVICE r11: with fewer than MARGIN_K candidates on a side the
    k-NN mean must divide by the ACTUAL count (the numpy .mean()
    semantics), not the constant k — the old form underestimated the
    denominator and inflated every margin on short sides.  Construct
    the short side by keeping two target docs and replay in numpy."""
    import numpy as np

    from healthkit_to_sqlite_spark.operators.similarity import (
        BITEXT_SRC_LANG, BITEXT_TGT_LANG, MARGIN_K, MARGIN_THRESHOLD,
        bitext_mine)

    emb = load_table(spark, SF, "embeddings")
    docs = load_table(spark, SF, "documents")
    tgt_keep = [r.doc_id for r in
                docs.filter(F.col("lang") == BITEXT_TGT_LANG)
                .orderBy("doc_id").limit(2).collect()]
    assert len(tgt_keep) < MARGIN_K
    docs_short = docs.filter((F.col("lang") != BITEXT_TGT_LANG)
                             | F.col("doc_id").isin(tgt_keep))
    mined = {(r.src_id, r.tgt_id, r.margin)
             for r in bitext_mine(emb, docs_short).collect()}

    ep = emb.toPandas().set_index("vec_id")
    dp = docs_short.toPandas().set_index("doc_id")
    src_ids = sorted(dp.index[dp.lang == BITEXT_SRC_LANG])
    X = np.array([np.asarray(ep.embedding[i], dtype=np.float64)
                  for i in src_ids])
    Y = np.array([np.asarray(ep.embedding[i], dtype=np.float64)
                  for i in tgt_keep])
    cos = np.round(
        (X @ Y.T) / np.outer(np.sqrt((X * X).sum(1)),
                             np.sqrt((Y * Y).sum(1))), 9)
    ax = np.sort(cos, axis=1)[:, -MARGIN_K:].mean(1)   # 2 cols → /2
    ay = np.sort(cos, axis=0)[-MARGIN_K:, :].mean(0)   # full side → /k
    margin = np.round(cos / ((ax[:, None] + ay[None, :]) / 2), 6)
    expect = set()
    for i, src in enumerate(src_ids):
        j = int(np.lexsort((tgt_keep, -margin[i]))[0])
        if margin[i, j] >= MARGIN_THRESHOLD:
            expect.add((src, tgt_keep[j], float(margin[i, j])))
    assert mined == expect


def test_bitext_from_index_recall_vs_exact(spark):
    """The serve twin's quality contract (the q_ann_recall_report
    pattern): candidates restricted to each source's nprobe committed
    cells must still recover most of the exact miner's pairs.  The
    floor is deterministic (seeded centroids, fixed testdata) —
    measured pair recall at sf0.001, so a drop means the probe or
    assignment changed, not noise.  Per-source behavior contracts
    also hold: at most one pair per source, margins above
    threshold."""
    from healthkit_to_sqlite_spark.operators.similarity import (
        MARGIN_THRESHOLD, bitext_from_index, bitext_mine)

    emb = load_table(spark, SF, "embeddings")
    docs = load_table(spark, SF, "documents")
    exact = {(r.src_id, r.tgt_id) for r in bitext_mine(emb, docs).collect()}
    approx_rows = bitext_from_index(spark, SF).collect()
    approx = {(r.src_id, r.tgt_id) for r in approx_rows}

    srcs = [r.src_id for r in approx_rows]
    assert len(srcs) == len(set(srcs)), "a source mined twice"
    assert all(r.margin >= MARGIN_THRESHOLD for r in approx_rows)

    # measured 0.726 at sf0.001 / 0.818 at sf0.01 with nprobe=4
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.7, f"pair recall vs exact dropped to {recall:.3f}"


def test_semantic_dedup_banded_prefilter_recall_floor(spark):
    """VERDICT r12 item 3: the within-cell banded sign-LSH pre-filter
    is explicitly approximate — pin its behavior against the
    UNFILTERED within-cell form: (a) the banded dup set is a SUBSET
    (the filter can only remove candidate pairs, never invent one);
    (b) measured dup recall 0.684 sf0.001 / 0.708 sf0.01 with the
    32-plane/8-band geometry — deterministic planes, fixed testdata,
    so a drop means the signature or band split changed, not noise.
    (The fixture's dups all sit near the 0.4 threshold — sign-LSH's
    hardest regime; real dedup corpora concentrate at high cosine
    where band collision → 1.)"""
    from pyspark.sql import functions as F

    from healthkit_to_sqlite_spark.operators.similarity import (
        SEMANTIC_COS, cosine_from_norms, ivf_cells, l2_norm,
        semantic_dedup)

    emb = load_table(spark, SF, "embeddings")
    banded = {r.vec_id for r in semantic_dedup(emb).collect()
              if not r.keep}
    cells = ivf_cells(emb)
    withv = (cells.join(emb.select("vec_id", "embedding"), "vec_id")
             .select("vec_id", "cell", "embedding",
                     l2_norm(F.col("embedding")).alias("nrm")))
    a, b = withv.alias("a"), withv.alias("b")
    sim = cosine_from_norms(F.col("a.embedding"), F.col("b.embedding"),
                            F.col("a.nrm"), F.col("b.nrm"))
    full = {r.vec_id for r in
            (a.join(b, (F.col("a.cell") == F.col("b.cell"))
                    & (F.col("b.vec_id") < F.col("a.vec_id")))
             .filter(F.round(sim, 6) >= SEMANTIC_COS)
             .select(F.col("a.vec_id").alias("vec_id"))
             .distinct()).collect()}
    assert banded <= full, "banded filter invented a dup"
    recall = len(banded & full) / len(full)
    assert recall >= 0.65, f"banded dup recall dropped to {recall:.3f}"


def test_bitext_recall_report_floors_candidate_recall(spark):
    """VERDICT r12 item 6: the recall floor now ALSO reads the
    committed monitor artifact — per probe source, the exact
    best-cosine target must land in the probed committed cells at
    the family's measured rate (0.743 sf0.001 / 0.821 sf0.01 at
    nprobe=4 — the same band as the full pair-recall audit above).
    Internal consistency: every production-mined pair for a probe
    source whose exact best target was probed AND equals the mined
    target must be a cand_hit row."""
    from healthkit_to_sqlite_spark.operators.similarity import (
        bitext_recall_report)

    rows = bitext_recall_report(spark, SF).collect()
    assert rows, "empty probe set — fixture drifted"
    srcs = [r.src_id for r in rows]
    assert len(srcs) == len(set(srcs)), "a probe source reported twice"
    recall = sum(1 for r in rows if r.cand_hit) / len(rows)
    assert recall >= 0.7, f"candidate recall dropped to {recall:.3f}"
    for r in rows:
        if r.index_tgt is not None and r.index_tgt == r.exact_tgt:
            assert r.cand_hit, (
                f"src {r.src_id}: mined the exact best target from a "
                "cell the report says was not probed")
    # the monitor is load-bearing: some probe source must MISS, or
    # the floor could never detect a regression direction
    assert any(not r.cand_hit for r in rows)


def test_bitext_forget_never_mines_tombstones(spark):
    """The erased bitext serve's contract: no tombstoned id on
    EITHER side of any mined pair, and the tombstones actually bite —
    at least one tombstone is mined by the un-erased serve (so the
    anti-join is load-bearing, not vacuously true)."""
    from healthkit_to_sqlite_spark.operators.similarity import (
        FORGET_VEC_IDS, bitext_after_forget, bitext_from_index)

    tombs = set(FORGET_VEC_IDS)
    live = bitext_after_forget(spark, SF).collect()
    assert live, "erased serve mined nothing — fixture drifted"
    assert all(r.src_id not in tombs and r.tgt_id not in tombs
               for r in live)
    unerased = bitext_from_index(spark, SF).collect()
    touched = {r.src_id for r in unerased} | {r.tgt_id for r in unerased}
    assert touched & tombs, (
        "no tombstone appears in the un-erased mining — the fixture "
        "no longer exercises the anti-join; move FORGET_VEC_IDS")


def test_bitext_mine_one_pair_per_source_above_threshold(spark):
    from healthkit_to_sqlite_spark.operators.similarity import (
        MARGIN_THRESHOLD, bitext_mine)

    rows = bitext_mine(load_table(spark, SF, "embeddings"),
                       load_table(spark, SF, "documents")).collect()
    assert rows, "fixture yields no mined pairs — threshold drifted"
    srcs = [r.src_id for r in rows]
    assert len(srcs) == len(set(srcs)), "a source mined twice"
    assert all(r.margin >= MARGIN_THRESHOLD for r in rows)


def test_kcenter_matches_numpy_audit(spark, emb):
    """Independent numpy replay of the greedy farthest-point sweep
    (third implementation after Spark and the DuckDB oracle): same
    9-dp rounding, same (dmin DESC, vec_id) tie order."""
    import numpy as np

    from healthkit_to_sqlite_spark.operators.similarity import (
        K_CENTERS, kcenter_coreset)

    rows = kcenter_coreset(emb).collect()
    got = [(r.sel_order, r.vec_id, r.radius) for r in rows]

    ep = emb.toPandas().sort_values("vec_id")
    ids = ep.vec_id.to_numpy()
    X = np.array([np.asarray(v, dtype=np.float64) for v in ep.embedding])
    seed = 0                      # ids sorted ⇒ index 0 IS min(vec_id)
    dmin = np.round(((X - X[seed]) ** 2).sum(1), 9)
    expect = [(0, int(ids[seed]), None)]
    for t in range(1, K_CENTERS):
        # argmax by (dmin DESC, vec_id ASC)
        j = int(np.lexsort((ids, -dmin))[0])
        expect.append((t, int(ids[j]), float(dmin[j])))
        dmin = np.minimum(dmin, np.round(((X - X[j]) ** 2).sum(1), 9))
    assert got == expect


#: kcenter_coreset on the sf0.001 embeddings as the per-round scan
#: form (one running-dmin scan + argmax per pick) selected them
KCENTER_SCAN_PICKS = [
    (0, 0, None), (1, 310, 2.739397696), (2, 74, 2.345896416),
    (3, 334, 2.176592715), (4, 357, 2.088379488), (5, 488, 2.017794718),
    (6, 46, 1.971756671), (7, 174, 1.948062655),
]


def test_kcenter_batched_equals_scan_kernel(spark, emb):
    """r15 (VERDICT r14 item 5): the batched pool sweep must produce
    the EXACT per-round scan selection — including under a pool
    smaller than k, where every pick rides the verification rescan
    (the strict-domination guard, not the pool size, carries
    correctness)."""
    from healthkit_to_sqlite_spark.operators.similarity import (
        kcenter_coreset)

    got = sorted(map(tuple, kcenter_coreset(emb).collect()))
    assert got == KCENTER_SCAN_PICKS
    tiny_pool = sorted(map(tuple, kcenter_coreset(emb, pool=3).collect()))
    assert tiny_pool == KCENTER_SCAN_PICKS


def test_kcenter_radius_non_increasing(spark, emb):
    """The greedy invariant that certifies the 2-approximation: each
    pick's max-min distance can only shrink as centers accumulate."""
    from healthkit_to_sqlite_spark.operators.similarity import (
        kcenter_coreset)

    rows = sorted(kcenter_coreset(emb).collect(),
                  key=lambda r: r.sel_order)
    assert rows[0].radius is None and rows[0].vec_id == 0
    radii = [r.radius for r in rows[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:])), radii
    assert len({r.vec_id for r in rows}) == len(rows), "center re-picked"


def test_kcenter_seed_is_min_vec_id_any_corpus(spark, emb):
    """ADVICE r11: the seed was hard-coded to vec_id == 0, so a corpus
    without that id raised a bare IndexError (and the oracle's seed
    CTE silently emptied).  The seed is now MIN(vec_id) — pin it on a
    corpus whose ids start past zero, and pin the descriptive error
    for the empty corpus."""
    import pytest as _pytest

    from healthkit_to_sqlite_spark.operators.similarity import (
        kcenter_coreset)

    shifted = emb.filter(F.col("vec_id") >= 3)
    rows = sorted(kcenter_coreset(shifted, k=3).collect(),
                  key=lambda r: r.sel_order)
    assert rows[0].vec_id == 3 and rows[0].radius is None
    with _pytest.raises(ValueError, match="empty embedding corpus"):
        kcenter_coreset(emb.filter(F.col("vec_id") < 0), k=2)


def test_bitext_margin_rejects_hub_targets(spark):
    """The reason the margin beats a raw-cosine threshold (Artetxe &
    Schwenk §3): a HUB target — near everything on the source side —
    is every source's top raw-cosine candidate, but its own k-NN mean
    (the denominator) is just as high, so its margin ≈ 1 and mining
    prefers the genuinely-aligned target instead.  Constructed case:
    y_hub sits at the centroid of all sources (uniformly close);
    y_pair is close to x0 only.  Raw cosine would pair x0→y_hub;
    margin must pick x0→y_pair."""
    from pyspark.sql import Row

    from healthkit_to_sqlite_spark.operators.similarity import (
        bitext_mine, cosine_similarity)
    from pyspark.sql import functions as F

    def v(*xs):
        return [float(x) for x in xs] + [0.0] * (4 - len(xs))

    # sources orthogonal; hub at the diagonal (cos 1/sqrt(3)=0.577 to
    # every source — raw top-1 for all of them); pair at cos 0.55 to
    # x0 only.  margins (k=2): hub = 0.577/((0.564+0.577)/2) ≈ 1.01,
    # pair = 0.55/((0.564+0.275)/2) ≈ 1.31 — the hub's own k-NN mean
    # (denominator) eats its raw-cosine lead.
    emb = spark.createDataFrame([
        Row(vec_id=0, embedding=v(1, 0, 0)),          # x0 (en)
        Row(vec_id=1, embedding=v(0, 1, 0)),          # x1 (en)
        Row(vec_id=2, embedding=v(0, 0, 1)),          # x2 (en)
        Row(vec_id=3, embedding=v(1, 1, 1)),          # y_hub (de)
        Row(vec_id=4, embedding=v(0.55, 0, 0, 0.8352)),  # y_pair (de)
        Row(vec_id=5, embedding=v(0, 0, 0, -1)),      # y_far (de)
        Row(vec_id=6, embedding=v(-0.7, -0.7, 0)),    # y_far2 (de)
    ], "vec_id long, embedding array<float>")
    docs = spark.createDataFrame(
        [(i, "en" if i < 3 else "de") for i in range(7)],
        "doc_id long, lang string")

    # raw cosine WOULD pick the hub for x0
    raw = (emb.filter(F.col("vec_id") == 0)
           .select(F.col("embedding").alias("q")).crossJoin(
               emb.filter(F.col("vec_id") >= 3))
           .select("vec_id",
                   cosine_similarity(F.col("embedding"),
                                     F.col("q")).alias("c"))
           .orderBy(F.col("c").desc()).first())
    assert raw.vec_id == 3, "fixture broken: hub is not raw-top1"

    mined = {r.src_id: r.tgt_id
             for r in bitext_mine(emb, docs, k=2, threshold=1.0).collect()}
    assert mined.get(0) == 4, f"margin must reject the hub, got {mined}"


def test_proto_prune_drop_frac_edges(spark, emb):
    """drop_frac=0 keeps the whole corpus (ceil(0)=0); drop_frac=1
    drops everything (ceil(cnt)=cnt) — the integer cutoff has no
    float edge at either end."""
    from healthkit_to_sqlite_spark.operators.similarity import proto_prune

    n = emb.count()
    assert proto_prune(emb, drop_frac=0.0).count() == n
    assert proto_prune(emb, drop_frac=1.0).count() == 0


def test_semdedup_recall_report_floors_candidate_recall(spark):
    """VERDICT r13 What's-missing 1: the banded semantic dedup's
    recall floor now ALSO reads the committed monitor artifact (the
    bitext/ANN monitor precedent) — `q_semdedup_recall_report` emits
    every EXACT within-cell dup pair for the bounded probe set with
    band_hit = the 32/8 candidate stage would have surfaced it.
    Deterministic planes + fixed testdata: mean(band_hit) is exact,
    so a drop means the signature, band split, or committed cell
    assignment changed — the post-rebuild drift signal.  Measured:
    5/8 = 0.625 sf0.001, 7/9 = 0.778 sf0.01 (the fixtures' dups sit
    near the 0.4 threshold, sign-LSH's hardest regime; sf0.1 reads
    29/36 = 0.806)."""
    from healthkit_to_sqlite_spark.operators.similarity import \
        semdedup_recall_report

    rows = semdedup_recall_report(spark, SF).collect()
    assert len(rows) == 8  # exact ground-truth probe pairs (sf0.001)
    hits = sum(1 for r in rows if r.band_hit)
    assert hits / len(rows) >= 0.6, \
        f"banded candidate recall dropped to {hits}/{len(rows)}"
    # every reported pair IS an exact within-cell dup (the monitor's
    # rows are the ground-truth arm; band_hit only annotates)
    assert all(r.cosine_sim >= 0.4 for r in rows)
    assert all(r.probe_id < 100 and r.vec_o != r.probe_id for r in rows)


def test_semdedup_recall_report_plan_is_broadcast_probe(spark):
    """Monitor scale shape: the bounded probe side BROADCASTS, the
    corpus-shaped side streams through ONE equi-join on the committed
    cell id — no nested loop, no cartesian, zero Lloyd (committed
    artifacts only), and the band test is a column expression (no
    second join / explode)."""
    from healthkit_to_sqlite_spark.operators.similarity import \
        semdedup_recall_report

    df = semdedup_recall_report(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "ann_index_" in plan  # committed cells artifact, not Lloyd
