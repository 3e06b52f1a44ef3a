"""Similarity search over the `embeddings` table (array<float>, 64-d).

Two paths (driver north star C3 / SURVEY.md §2.C):

- brute-force cosine top-k: the exactness baseline.  zip_with +
  aggregate builtins (JVM-side fold, no UDF); O(n·d) per query.
- sign-LSH (random-hyperplane) bucketing: the scale path.  Each vector
  gets a B-bit signature (bit p = sign of a ±1-weighted projection
  whose weights derive from md5, so the oracle reproduces them);
  near-duplicate candidates are pairs sharing a bucket — an equi-join,
  not an O(n²) scan.  At 100 TB this is the same shape as the
  production IVF/LSH systems: signature → shuffle by bucket → verify
  exact cosine within bucket.

Float discipline: embeddings are float32; both engines cast elementwise
to double before multiply/sum, folds run in index order, and outputs
round to 6 dp so residual last-bit drift (different fold trees) cannot
surface.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import (cosine_from_norms, cosine_similarity, l2_norm,
                         one_slice_df)
from ..spec import Spec, sql_in_list

N_PLANES = 8   # LSH signature bits
DIM = 64       # embedding dimensionality (FIXTURES.md §B)


def _exact_ops():
    """The exact arithmetic every embedding Arrow kernel shares, ONE
    definition each: the kernels (Lloyd training, assignment, PQ codes,
    k-center, covariance) reproduce the JVM/DuckDB bits with it.

    The primitives are nested functions, returned in a namespace: each
    kernel builder calls this on the driver, so the kernel's closure
    captures them and cloudpickle ships them BY VALUE.  A module-level
    helper would pickle by reference and fail to unpickle on an
    executor that cannot import this package (pinned by
    tests/test_exact_ops.py from a foreign cwd).

    - ``matrix(series, dim)``: an Arrow list column → float64 (n, dim).
    - ``l2sq(X, C)``: (n, K) squared distances, ``(x_d − c_d)²``
      accumulated in float64 in dimension order — elementwise IEEE ops
      in a d-loop reproduce the JVM ``aggregate`` fold's operation
      sequence exactly, so the raw distances are bit-identical.
    - ``nearest(X, C, cids)``: per row ``(index into C, distance)`` of
      the argmin over HALF_UP-rounded-9dp distances, ties → lowest cid
      — ``min(struct(round(dist, 9), cid))``.  Rounding is monotone, so
      only candidates within 2e-9 of the unrounded minimum can win;
      those few (usually one) are rounded exactly via
      ``Decimal(repr(d))`` — the same shortest-roundtrip-string +
      HALF_UP semantics as Spark's ``round`` (BigDecimal.valueOf path).
      Rows are chunked so the (rows × K) block stays ≤ ~32 MB.
    - ``quantize(v, places)``: exact HALF_UP quantization of each
      double to ``places`` dp, as scaled int64 — Spark's double→decimal
      cast and ``round``.  ``np.rint`` on the scaled value for the bulk
      (exact whenever it is >1e-3 clear of a rounding boundary and its
      float scaling error stays below that margin, which holds for
      scaled values up to ~1e12 — the embedding fixtures' products and
      distances sit near 1e10); boundary-adjacent values and scaled
      values above 1e14 go through ``Decimal(repr(v))`` HALF_UP.  ``q /
      10**places`` is then correctly rounded, i.e. equals
      ``float(Decimal(q).scaleb(-places))`` bit for bit."""
    from decimal import ROUND_HALF_UP, Decimal
    from types import SimpleNamespace

    import numpy as np

    def matrix(series, dim):
        X = np.empty((len(series), dim), dtype=np.float64)
        for i, e in enumerate(series):
            X[i] = np.asarray(e, dtype=np.float64)
        return X

    def l2sq(X, C):
        acc = np.zeros((len(X), len(C)), dtype=np.float64)
        for d in range(X.shape[1]):         # JVM fold order: d = 0..D-1
            t = X[:, d, None] - C[None, :, d]
            acc += t * t
        return acc

    def nearest(X, C, cids):
        n = len(X)
        idx = np.empty(n, dtype=np.int64)
        dist = np.empty(n, dtype=np.float64)
        grid = Decimal("1e-9")
        step = max(1, (4 << 20) // max(len(C), 1))
        for lo in range(0, n, step):
            acc = l2sq(X[lo:lo + step], C)
            m = acc.min(axis=1)
            for i in range(len(acc)):
                # candidates whose ROUNDED dist could tie the min
                best = None
                for j in np.nonzero(acc[i] <= m[i] + 2e-9)[0]:
                    dj = Decimal(repr(float(acc[i, j]))).quantize(
                        grid, ROUND_HALF_UP)
                    if best is None or (dj, cids[j]) < best[:2]:
                        best = (dj, cids[j], j)
                idx[lo + i] = best[2]
                dist[lo + i] = float(best[0])
        return idx, dist

    def quantize(v, places):
        s = v * float(10 ** places)
        r = np.rint(s)
        sus = (np.abs(np.abs(s - r) - 0.5) < 1e-3) | (np.abs(s) > 1e14)
        out = r.astype(np.int64)
        if sus.any():
            grid = Decimal(1).scaleb(-places)
            flat_v = v.ravel()
            flat_o = out.ravel()
            for i in np.nonzero(sus.ravel())[0]:
                d = Decimal(repr(float(flat_v[i]))).quantize(
                    grid, ROUND_HALF_UP)
                flat_o[i] = int(d.scaleb(places))
            out = flat_o.reshape(out.shape)
        return out

    return SimpleNamespace(matrix=matrix, l2sq=l2sq, nearest=nearest,
                           quantize=quantize)


def topk_cosine(embeddings: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Brute-force cosine top-k against one stored query vector.

    The query row is cross-joined in (Catalyst broadcasts the 1-row
    side); top-k via orderBy+limit = TakeOrdered, no global sort.
    Ties broken by vec_id."""
    q = (embeddings.filter(F.col("vec_id") == query_vec_id)
         .select(F.col("embedding").alias("q_emb")))
    sim = cosine_similarity(F.col("embedding"), F.col("q_emb"))
    return (embeddings.crossJoin(F.broadcast(q))
            .filter(F.col("vec_id") != query_vec_id)
            .select("vec_id", "label", F.round(sim, 6).alias("cosine_sim"))
            .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
            .limit(k))


MRL_PREFIX = 32      # stage-1 ranking dimensions (2x compute/IO cut)
MRL_SHORTLIST = 100  # stage-1 survivors re-ranked exactly (1% of sf0.01)


def mrl_rerank_topk(embeddings: DataFrame, query_vec_id: int = 0,
                    k: int = 10, prefix: int = MRL_PREFIX,
                    shortlist: int = MRL_SHORTLIST) -> DataFrame:
    """Matryoshka progressive re-ranking (Kusupati et al. 2022): rank
    with the first ``prefix`` dims (cheap — a 2× cut of the fold and,
    with prefix columns stored separately, of scan IO), keep a
    ``shortlist``, then exact full-dim re-rank of the survivors.

    Same two-stage economics as PQ/ADC but with no trained codebook:
    the prefix of an MRL-trained embedding IS the coarse quantizer.
    Stage 1 is the only corpus-wide pass; stage 2 touches ``shortlist``
    rows.  Both stages are TakeOrdered (no global sort)."""
    q = (embeddings.filter(F.col("vec_id") == query_vec_id)
         .select(F.slice("embedding", 1, prefix).alias("q_pfx"),
                 F.col("embedding").alias("q_emb")))
    pfx = F.col("__pfx")
    pfx_sim = cosine_similarity(pfx, F.col("q_pfx"))
    short = (embeddings
             .withColumn("__pfx", F.slice("embedding", 1, prefix))
             .crossJoin(F.broadcast(q))
             .filter(F.col("vec_id") != query_vec_id)
             .select("vec_id", "label", "embedding", "q_emb",
                     pfx_sim.alias("__pfx_sim"))
             .orderBy(F.col("__pfx_sim").desc(), "vec_id")
             .limit(shortlist))
    full = cosine_similarity(F.col("embedding"), F.col("q_emb"))
    return (short
            .select("vec_id", "label",
                    F.round(full, 6).alias("cosine_sim"),
                    F.round("__pfx_sim", 6).alias("prefix_sim"))
            .orderBy(F.col("cosine_sim").desc(), "vec_id")
            .limit(k))


def _plane_weights(n_planes: int = N_PLANES, dim: int = DIM) -> list[list[float]]:
    """Deterministic ±1 hyperplane weights: parity of a md5-derived
    integer per (plane, dim).  Computed ONCE driver-side and embedded
    as literals — the naive formulation evaluates md5 row×plane×dim
    times on executors for what is a constant matrix.  hashlib md5 ==
    Spark md5 == DuckDB md5, so the oracle reproduces the same matrix
    in SQL."""
    import hashlib
    return [[1.0 if int(hashlib.md5(f"plane_{p}_{d}".encode())
                        .hexdigest()[:15], 16) % 2 == 0 else -1.0
             for d in range(dim)]
            for p in range(n_planes)]


def lsh_signature(embeddings: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """B-bit sign-LSH signature per vector: bit_p = 1 iff
    Σ_d w(p,d)·v_d > 0, folded in index order against the constant
    `_plane_weights` matrix.

    One mapInPandas pass computes all ``n_planes`` plane dots per
    batch.  The literal-array ``zip_with``/``aggregate`` expression it
    replaced in r14 was interpreted per element (CodegenFallback — the
    r14 profile put the 16-plane signature at 1.2 s wall / 2.5 CPU-s
    for just 2000 sf0.1 vectors, ~0.6 ms per vector of pure
    interpreter overhead).

    Bit-discipline: dots accumulate ``v_d · w_d`` in float64 in
    dimension order — the JVM fold's exact IEEE sequence (weights are
    ±1.0, so each term is an exact sign flip of ``v_d``) — and the
    bit is the strict ``dot > 0``, so the oracle's SQL fold yields the
    same signature strings.  Map-only: no shuffle, input partitioning
    preserved."""
    import numpy as np

    W = np.asarray(_plane_weights(n_planes), dtype=np.float64)
    matrix = _exact_ops().matrix
    src = embeddings.select("vec_id", "label", "embedding")
    vt = src.schema["vec_id"].dataType.simpleString()
    lt = src.schema["label"].dataType.simpleString()

    def sign(batches):
        import numpy as np
        import pandas as pd

        n_pl, dim = W.shape
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = matrix(pdf["embedding"], dim)
            acc = np.zeros((n, n_pl), dtype=np.float64)
            for d in range(dim):            # JVM fold order: d = 0..D-1
                acc += X[:, d, None] * W[None, :, d]
            chars = np.where(acc > 0.0, "1", "0")
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"], "label": pdf["label"],
                "bucket": ["".join(row) for row in chars]})

    return src.mapInPandas(sign, f"vec_id {vt}, label {lt}, bucket string")


def ann_lsh_pairs(embeddings: DataFrame, min_cosine: float = 0.2) -> DataFrame:
    """ANN candidate generation + verification via BANDED sign-LSH +
    exact in-candidate cosine — the same kernel as
    :func:`dedup_embedding_pairs`, run at the wider ANN threshold.

    Round 3 shipped this as a single 8-bit AND-only bucket join, whose
    measured recall vs the exact audit at cos≥0.2 was ~1.3% ((1-θ/π)^8
    ≈ 0.01 at θ≈78° — AND-amplification is the wrong direction for a
    recall surface).  The banded 16-plane/4-band form OR-amplifies to
    ~35% measured recall at the same threshold with candidates still
    bounded by Σ_band Σ_bucket |bucket|² (recall floor pinned in
    tests/test_similarity.py).  Sign-LSH concentrates sharply only as
    cos→1, so low-threshold sweeps remain explicitly approximate —
    for exhaustive low-similarity pair mining use ngram/minhash
    surfaces; for top-k use IVF/PQ."""
    return dedup_embedding_pairs(embeddings, min_cosine=min_cosine)


def brute_force_embedding_pairs(embeddings: DataFrame,
                                min_cosine: float = 0.4) -> DataFrame:
    """Exact all-pairs cosine — O(n²) BroadcastNestedLoopJoin.  AUDIT
    UTILITY ONLY (recall measurement on samples in tests); deliberately
    NOT registered as a contract query: an unguarded non-equi self-join
    is a scale-killer at any real corpus size.  The registered query is
    :func:`dedup_embedding_pairs` (banded LSH + exact verify)."""
    e = embeddings.select("vec_id", "embedding")
    a, b = e.alias("a"), e.alias("b")
    sim = cosine_similarity(F.col("a.embedding"), F.col("b.embedding"))
    return (a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"),
                    F.round(sim, 6).alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= min_cosine))


N_EMB_PLANES = 16  # wider signature JUST for near-dup pairs (recall)
N_EMB_BANDS = 4    # OR-amplification: candidate iff ANY band matches


def dedup_embedding_pairs(embeddings: DataFrame, min_cosine: float = 0.4,
                          n_planes: int = N_EMB_PLANES,
                          n_bands: int = N_EMB_BANDS) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded sign-LSH
    candidates + exact in-bucket verification — the O(n²) self-join
    re-expressed as an equi-join (VERDICT r1 #4).

    The ``n_planes``-bit signature splits into ``n_bands`` bands
    (``n_planes/n_bands`` bits each); a pair is a candidate iff it
    collides in ANY band (classic OR-amplification — recall amplifies
    as 1-(1-s^r)^b while each band's bucket join stays an
    equi-shuffle).  Exact cosine then verifies candidates; pairs
    matching in several bands dedupe through the groupBy.  Round 2
    shipped 8 planes / 2 bands, whose measured recall on
    near-threshold (cos≥0.4) pairs was only ~35% (23/66 at sf0.001) —
    the round-2 advisor flagged it; 16 planes / 4 bands of 4 bits
    quadruples the candidate lottery tickets at the same band width
    (recall measured in tests/test_similarity.py; the contract is
    explicitly approximate, see Spec description).  The
    ``repartition`` on the band key makes AQE reuse ONE shuffle stage
    for both self-join sides (same trick measured 3.8s→2.3s on
    minhash_lsh_pairs); caching the per-vector norm before the join
    instead of folding it per pair measured 4.61s→3.06s at sf0.1.
    At 100 TB: cost is Σ_bucket |bucket|², bounded by signature
    spread; hot buckets split under AQE skew handling."""
    r = n_planes // n_bands
    sig = lsh_signature(embeddings, n_planes)
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.substring("bucket", b * r + 1, r).alias("bsig"))
        for b in range(n_bands)])
    # Candidate generation carries ONLY (vec_id, band, bsig) — at scale
    # the 64-float vector must not ride the band explode n_bands times
    # through the shuffle.  distinct() collapses multi-band collisions
    # BEFORE the dot fold, so each unique pair is verified exactly once
    # (the round-2 form folded per collision and max'd — wasted folds
    # grow with n_bands).  The repartition on the band key still lets
    # AQE reuse one shuffle stage for both self-join sides.
    banded = (sig.select("vec_id", F.explode(bands).alias("bs"))
              .select("vec_id", "bs.band", "bs.bsig")
              .repartition("band", "bsig"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bsig") == F.col("b.bsig"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"))
            .distinct())
    withn = embeddings.select("vec_id", "embedding",
                              l2_norm(F.col("embedding")).alias("nrm"))
    va, vb = withn.alias("va"), withn.alias("vb")
    joined = (cand.join(va, cand.vec_a == F.col("va.vec_id"))
              .join(vb, cand.vec_b == F.col("vb.vec_id")))
    # The exact verify stays a JVM expression: an Arrow fold of the
    # pairs measured a wash at sf0.1 (1.68 s/18.3 CPU-s vs 1.66/17.2 —
    # the pair transfer costs what the interpreted fold saves) and
    # lost at sf1 (46-59 s vs the expression's 37-40 s,
    # OPTIMIZATION_r15.md §8).
    sim = cosine_from_norms(F.col("va.embedding"), F.col("vb.embedding"),
                            F.col("va.nrm"), F.col("vb.nrm"))
    return (joined.select("vec_a", "vec_b",
                          F.round(sim, 6).alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= min_cosine))


N_CENTROIDS = 8
IVF_ITERS = 2  # Lloyd refinement rounds after the seed assignment

#: Coarse-quantizer sizing: vectors per cell the build TARGETS.  K is
#: derived from corpus size at build time (VERDICT r12 item 1 — round
#: 12 measured that a fixed K is a scale-killer: bitext serving from
#: the fixture's fixed K=8 at 10× data sloped 9.08 while the
#: corpus-proportional K=80 index sloped 2.19, because the candidate
#: equi-join keys on the cell id and nprobe/K stops shrinking when K
#: is constant).  250 puts the contract fixtures (500 @ sf0.01, 2000
#: @ sf0.1) exactly at the N_CENTROIDS floor and the 10× bench point
#: (20000) at K=80 — the production shape the r12 overrides
#: hand-passed, now the default.
TARGET_CELL_OCCUPANCY = 250


def derived_n_centroids(n: int) -> int:
    """Corpus-proportional coarse-cell count: K = ceil(n/occupancy),
    floored at N_CENTROIDS so tiny fixtures keep a trainable
    quantizer.  A 10× corpus carries ~10× cells (exactly 10× above
    the floor) — per-cell occupancy, and with it every within-cell
    pair join and probe fan-out, stays CONSTANT as the corpus grows."""
    import math
    return max(N_CENTROIDS, math.ceil(n / TARGET_CELL_OCCUPANCY))


def _derived_k_sql(src: str = "embeddings") -> str:
    """The oracle twin of `derived_n_centroids`: a scalar subquery so
    the DuckDB replay derives K from the SAME training corpus the
    Spark side counts — the oracles stay corpus-proportional at any
    scale instead of hash-matching only where derived K happens to
    equal a baked literal."""
    return (f"(SELECT GREATEST({N_CENTROIDS}, CAST(CEIL(COUNT(*) / "
            f"{TARGET_CELL_OCCUPANCY}.0) AS BIGINT)) FROM {src})")


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, v: acc + v)


def _assign_cells(embeddings: DataFrame, cent: DataFrame,
                  keep_dist: bool = False,
                  keep_residual: bool = False) -> DataFrame:
    """Nearest-centroid assignment (L2, ties → lowest cid): the
    centroid table rides the kernel closure, the corpus streams through
    one Arrow pass.  Distances round to 9 dp so cross-engine last-bit
    drift can't flip an argmin.  ``keep_dist=True`` carries the argmin
    distance through (the prototypicality score) — one assignment body
    for every consumer instead of a third copy of the rounding/tie
    discipline (ADVICE r11).

    Why an Arrow kernel: the broadcast-join form it replaced in r14
    materialized n·K candidate ROWS and evaluated ``_l2sq`` through
    ``zip_with``/``aggregate`` — Catalyst higher-order functions are
    CodegenFallback (interpreted per element), so assignment paid
    interpreted work on n·K·D elements.  With the r13 corpus-derived
    K (K ∝ n/250) that term was the one measured SUPERLINEAR cpu_sec
    in the tracked sf1 set (q_proto_prune 123.4 process-CPU-s at sf1
    vs 2.4 at sf0.1 — 51× for 10× data).  Dense
    argmin-over-centroids is the canonical Arrow-batch case the repo's
    UDF policy reserves pandas kernels for: one numpy fold does the
    same FLOPs fused, and the n·K row explosion never exists (the
    measured A/B, SCALE.md round 14, halved trainer wall at sf0.1 and
    cut sf1 trainer CPU ~45%).

    Bit-discipline (the oracle's ``_l2sq`` + ``round(.., 9)``): the
    shared ``l2sq`` fold and ``nearest`` argmin of `_exact_ops`.

    Scale shape: the centroids (≤K rows — the table the whole IVF
    design already keeps broadcastable) ride in the kernel's closure,
    which Spark ships with each stage's tasks; the corpus streams
    through mapInPandas in Arrow batches (no shuffle at all), and
    ``nearest`` bounds memory per batch.  Assumes non-null embeddings
    (every call site feeds the embeddings table or frames derived from
    it).

    ``keep_residual=True`` (r15, VERDICT r14 item 2) additionally
    emits ``residual = embedding − centroid[cell]`` from the SAME
    batch — the vector is already in hand next to its argmin, so the
    residual-IVFPQ build's separate (embeddings ⋈ cells ⋈ centroids)
    pass and its interpreted ``zip_with`` subtraction disappear (one
    corpus scan instead of two plus a join).  Bit-discipline:
    elementwise float64 subtraction of the same widened operands IS
    the JVM ``zip_with(x.cast(double) − c)`` — no accumulation, no
    rounding, so the residuals are bit-identical by construction."""
    import numpy as np

    ops = _exact_ops()
    # bounded collect: ≤K centroid rows (K = ceil(n/occupancy))
    rows = sorted(cent.select("cid", "cemb").collect(), key=lambda r: r.cid)
    C = np.asarray([r.cemb for r in rows], dtype=np.float64)
    cids = np.asarray([r.cid for r in rows], dtype=np.int64)
    src = embeddings.select("vec_id", "embedding")
    vec_id_type = src.schema["vec_id"].dataType.simpleString()
    out_schema = f"vec_id {vec_id_type}, cell int" + (
        ", dist double" if keep_dist else "") + (
        ", residual array<double>" if keep_residual else "")

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = ops.matrix(pdf["embedding"], C.shape[1])
            idxs, dists = ops.nearest(X, C, cids)
            out = {"vec_id": pdf["vec_id"],
                   "cell": cids[idxs].astype("int32")}
            if keep_dist:
                out["dist"] = dists
            if keep_residual:
                # elementwise float64 subtract == zip_with's
                # x.cast(double) − c, bit for bit (no accumulation)
                out["residual"] = list(X - C[idxs])
            yield pd.DataFrame(out)

    return src.mapInPandas(assign, out_schema)


def _cells_and_residuals(vectors: DataFrame,
                         cent: DataFrame) -> tuple[DataFrame, DataFrame]:
    """ONE corpus pass for the residual-IVFPQ build prologue (r15,
    VERDICT r14 item 2): returns ``(cells, res)`` — the coarse
    assignment and the residual relation ``x − c(cell(x))`` — computed
    together.  The residual is emitted from the same batch as the
    argmin (`_assign_cells` ``keep_residual=True``), so the second
    corpus scan, the (embeddings ⋈ cells) n-row join with its two
    exchanges, and the interpreted per-element ``zip_with``
    subtraction of the r14 two-pass form never run; one eager
    ``localCheckpoint`` materializes both outputs (the residual
    chain's lineage-truncation contract, VERDICT r5 item 1)."""
    assigned = _assign_cells(vectors, cent, keep_residual=True) \
        .localCheckpoint(eager=True)
    return (assigned.select("vec_id", "cell"),
            assigned.select("vec_id", F.col("residual").alias("embedding")))


def kmeans_centroids(embeddings: DataFrame,
                     n_centroids: int | None = None,
                     iters: int = IVF_ITERS) -> DataFrame:
    """Deterministic Lloyd k-means for the IVF coarse quantizer: seed
    centroids = the first ``n_centroids`` vectors, then ``iters``
    rounds of (assign to nearest) → (centroid = elementwise member
    mean).

    ``n_centroids=None`` (the default) derives K from the corpus via
    `derived_n_centroids` — ONE bounded count job before training
    (noise next to the iters×2 training scans), so every coarse
    quantizer in the repo is corpus-proportional unless a caller
    explicitly pins K.  The oracles derive the same K in SQL
    (`_derived_k_sql`).

    Each round is ONE fused Arrow pass — the PQ Lloyd kernel
    `_sub_mean_partials_np` with one subspace of width ``DIM``
    (centroids tagged ``j = 0``): assignment + per-cell member-sum
    partials → groupBy(j, cell, pos) → rebuild-array (K·D tiny rows
    out).  Means accumulate in DECIMAL(30,10) — exact and
    summation-order independent — then divide as double, so Spark and
    DuckDB produce bit-identical
    centroids regardless of partitioning (a raw double sum would drift
    with partition order and could flip downstream argmins).  A centroid that loses every member simply
    drops out (deterministic in both engines; K shrinks).  At scale:
    iteration cost = iters × (scan + K·D-row shuffle) — the standard
    distributed k-means shape.

    Each iteration's centroid table is eagerly ``localCheckpoint``ed
    (K·D doubles — trivially small): without it, iteration ``i``'s
    assignment re-executes iterations ``0..i-1``'s full
    scan-and-aggregate lineage every time the plan is evaluated, so
    training cost grows quadratically in ``iters`` and every
    downstream consumer (probe, final assignment) re-derives the whole
    chain.  Checkpointing is a pure lineage truncation — the math is
    bit-identical (VERDICT r5 item 1).

    Cadence A/B (VERDICT r6 item 1a — was the per-iteration eager
    barrier taxing single-chain consumers?).  Measured at sf0.1,
    local[32], one FRESH JVM per mode, warm-up + median-of-3 per
    query, two independent passes (all modes hash-identical):

    ==========  ======================  =========  ==============
    mode        q_dedup_semantic (s)    ivfpq (s)  6-query total
    ==========  ======================  =========  ==============
    eager       3.84 / 3.19             5.01/4.37  21.2 / 18.4
    lazy        4.10                    4.79       20.1
    final-only  3.79 / 3.13             4.20/4.50  19.2 / 18.9
    none        3.35                    3.51       20.6 (residual 6.96!)
    ==========  ======================  =========  ==============

    Verdict: the cadence effect is SMALLER than same-box JVM variance
    (the two eager passes differ by 2.8 s on the total; per-query
    swings of ±20 % flip the mode ordering between passes), and even
    with ZERO in-loop checkpoints q_dedup_semantic never returns to
    its r5 number — so the r6-flagged "×1.45 checkpoint tax" was
    predominantly bench-protocol noise, now pinned by bench.py's
    per-query spread recording + fresh-JVM outlier rerun.  ``eager``
    stays the default: it is the only mode that bounds lineage depth
    at EVERY iteration (the property that fixed the residual chain —
    ``none`` re-breaks it, 4.6 → 7.0 s), and at cluster scale a K·D-row
    materialization barrier is noise while an unbounded lineage replay
    is not."""
    if n_centroids is None:
        n_centroids = derived_n_centroids(embeddings.count())
    cent = (embeddings.filter(F.col("vec_id") < n_centroids)
            .select(F.lit(0).alias("j"),
                    F.col("vec_id").cast("int").alias("cid"),
                    F.transform("embedding",
                                lambda x: x.cast("double")).alias("cemb")))
    return _lloyd(embeddings, cent, iters, 1, DIM).select("cid", "cemb")


def ivf_cells(embeddings: DataFrame, n_centroids: int | None = None,
              iters: int = IVF_ITERS) -> DataFrame:
    """IVF coarse quantization: Lloyd-iterated centroids, then one
    final nearest-centroid assignment per vector."""
    return _assign_cells(embeddings, kmeans_centroids(embeddings, n_centroids, iters))


def ann_ivf_topk(embeddings: DataFrame, query_vec_id: int = 0, k: int = 5,
                 nprobe: int = 1) -> DataFrame:
    """ANN via IVF: search the ``nprobe`` cells nearest the query
    vector's centroid distance, exact cosine within them.  The at-scale
    contract: assignment is one map-only pass against the K centroids
    in the kernel's closure, the search scans nprobe·n/K vectors
    instead of n; raising nprobe trades scan volume for recall (recall
    pinned vs brute force in tests)."""
    cent = kmeans_centroids(embeddings)
    cells = _assign_cells(embeddings, cent)
    withv = cells.join(embeddings.select("vec_id", "embedding"), "vec_id")
    qvec = (embeddings.filter(F.col("vec_id") == query_vec_id)
            .select(F.col("embedding").alias("q_emb")))
    # nprobe nearest cells by centroid↔query distance (tiny: K rows)
    probe = (cent.crossJoin(F.broadcast(qvec))
             .select(F.col("cid").alias("q_cell"),
                     F.round(_l2sq(F.transform("q_emb", lambda x: x.cast("double")),
                                   F.col("cemb")), 9).alias("qdist"))
             .orderBy("qdist", "q_cell").limit(nprobe)
             .select("q_cell"))
    sim = cosine_similarity(F.col("embedding"), F.col("q_emb"))
    return (withv.join(F.broadcast(probe), withv.cell == probe.q_cell)
            .crossJoin(F.broadcast(qvec))
            .filter(F.col("vec_id") != query_vec_id)
            .select("vec_id", "cell", F.round(sim, 6).alias("cosine_sim"))
            .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
            .limit(k))


ANN_FILTER_LABELS = (3, 7)  # contract predicate for the filtered serve
ANN_FILTER_NPROBE = 2       # probe budget under ~20% selectivity


def _filtered_cosine_serve(embeddings: DataFrame, cent: DataFrame,
                           cells: DataFrame, query_vec_id: int, k: int,
                           nprobe: int,
                           labels: tuple[int, ...]) -> DataFrame:
    """Shared serve kernel of the filtered-ANN split — one body for
    the in-query variant and the committed-index serve, so both
    provably score identically.  PRE-filters candidates inside the
    probed cells (see `ann_ivf_filtered_topk` for why), then exact
    cosine + TakeOrdered."""
    cand = (embeddings.filter(F.col("label").isin(*labels))
            .select("vec_id", "label", "embedding"))
    withv = cells.join(cand, "vec_id")
    qvec = (embeddings.filter(F.col("vec_id") == query_vec_id)
            .select(F.col("embedding").alias("q_emb")))
    probe = (cent.crossJoin(F.broadcast(qvec))
             .select(F.col("cid").alias("q_cell"),
                     F.round(_l2sq(F.transform("q_emb",
                                               lambda x: x.cast("double")),
                                   F.col("cemb")), 9).alias("qdist"))
             .orderBy("qdist", "q_cell").limit(nprobe)
             .select("q_cell"))
    sim = cosine_similarity(F.col("embedding"), F.col("q_emb"))
    return (withv.join(F.broadcast(probe), withv.cell == probe.q_cell)
            .crossJoin(F.broadcast(qvec))
            .filter(F.col("vec_id") != query_vec_id)
            .select("vec_id", "cell", "label",
                    F.round(sim, 6).alias("cosine_sim"))
            .orderBy(F.col("cosine_sim").desc(), "vec_id")
            .limit(k))


def ann_ivf_filtered_topk(embeddings: DataFrame, query_vec_id: int = 0,
                          k: int = 5, nprobe: int = ANN_FILTER_NPROBE,
                          labels: tuple[int, ...] = ANN_FILTER_LABELS
                          ) -> DataFrame:
    """Metadata-filtered ANN (the FAISS ``IDSelector`` / filtered-
    search shape every production vector store serves): top-k by
    cosine among vectors satisfying a label predicate, searched
    IVF-style within the ``nprobe`` nearest cells.

    The load-bearing semantics is PRE-filtering: the predicate
    applies to candidates inside the probed cells BEFORE scoring.
    Post-filtering an unfiltered top-k under-fills k whenever the
    filter is selective (selectivity s leaves E[s·k] survivors —
    pinned against this corpus in test_similarity, where
    post-filtering the unfiltered top-5 keeps <5 rows).  Spark-first:
    the predicate is a plain column filter, so Catalyst pushes it
    into the candidates' parquet scan (PushedFilters pinned in
    test_plans) — at 100 TB the candidate scan reads s·nprobe·n/K
    vectors, never the corpus.  The probe budget is the compensation
    knob: a fixed nprobe scans s× fewer candidates than the
    unfiltered query, so production serving raises nprobe toward
    ~1/s of the unfiltered budget for equal recall; the contract
    fixes nprobe so the oracle replays the identical plan."""
    cent = kmeans_centroids(embeddings)
    cells = _assign_cells(embeddings, cent)
    return _filtered_cosine_serve(embeddings, cent, cells,
                                  query_vec_id, k, nprobe, labels)


def ann_filtered_from_index(spark: SparkSession, sf_dir: str,
                            query_vec_id: int = 0, k: int = 5,
                            nprobe: int = ANN_FILTER_NPROBE,
                            labels: tuple[int, ...] = ANN_FILTER_LABELS
                            ) -> DataFrame:
    """Serve twin of `ann_ivf_filtered_topk` over the COMMITTED index:
    centroids + cell assignments read from the catalog, ZERO Lloyd
    iterations in the query plan — the production path, since the
    filter predicate arrives per query while the index is built per
    snapshot.  Shares the in-query oracle verbatim (the committed
    artifacts equal from-scratch training bit-for-bit — the same
    argument as `q_ann_query_from_index`)."""
    cat = build_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return _filtered_cosine_serve(
        emb, cat.read(spark, "centroids"), cat.read(spark, "cells"),
        query_vec_id, k, nprobe, labels)


PQ_M = 4                    # subspaces
PQ_SUB_DIM = DIM // PQ_M    # dims per subspace
PQ_K = N_CENTROIDS          # codes per subspace (k≤256 ⇒ 1 byte/code)


def _pq_subspaces(m: int = PQ_M, sub_dim: int = PQ_SUB_DIM):
    """(j, slice_j) struct array — one explode turns a vector row into
    its m subspace rows."""
    return F.array(*[
        F.struct(F.lit(j).alias("j"),
                 F.slice("embedding", j * sub_dim + 1, sub_dim).alias("sub"))
        for j in range(m)])


def _collect_codebook(cent: DataFrame):
    """Bounded collect of the (j, cid, cemb) codebook (≤ m·k rows),
    packed per subspace sorted by cid — shared by the fused PQ
    kernels."""
    import numpy as np

    by_j: dict[int, list] = {}
    for r in cent.select("j", "cid", "cemb").collect():
        by_j.setdefault(int(r.j), []).append((int(r.cid), list(r.cemb)))
    return {
        j: (np.asarray([c for c, _ in sorted(v)], dtype=np.int64),
            np.asarray([e for _, e in sorted(v)], dtype=np.float64))
        for j, v in by_j.items()}


def _sub_mean_partials_np(vectors: DataFrame, cent: DataFrame,
                          m: int = PQ_M,
                          sub_dim: int = PQ_SUB_DIM) -> DataFrame:
    """Fused Lloyd iteration body over the UNEXPLODED n-row vector
    relation (r15): subspace slicing, the per-(vector, subspace)
    argmin (`_exact_ops` ``nearest``, the `_assign_cells` bit
    discipline per subspace) and the per-(j, cell) member-sum partials
    all happen in ONE Arrow pass, so the n·m subspace Generate, the
    (vec_id, j) join-back with its exchanges and the n·m·sub_dim
    posexplode disappear; the shuffle carries ≤ m·k·sub_dim partial
    rows per batch (guide §2.3/§2.4 + §4.2 — Python map-side
    aggregation, project before the exchange).  The IVF coarse
    quantizer trains through the same kernel with ``m=1,
    sub_dim=DIM``.

    Exactness (the `embedding_covariance` argument, r14 §2): the
    oracle quantizes EACH member value to decimal(30,10) — HALF_UP at
    10 dp over the double's shortest decimal repr (Spark's
    double→decimal cast) — and SUMs, which is exact integer arithmetic
    in units of 1e-10 and therefore order-independent.  The kernel
    reproduces that quantization per value (`_exact_ops`
    ``quantize``), sums int64 per (j, cell, pos) per batch, and emits
    decimal(30,10) partials; the downstream decimal SUM and the single
    double division are the oracle's expressions, so the means are
    bit-identical at any batch or partition boundary.  Returns the
    per-iteration ``(j, cell, pos, m)`` member means."""
    ops = _exact_ops()
    cb = _collect_codebook(cent)
    src = vectors.select("embedding")

    def kern(batches):
        from decimal import Decimal

        import numpy as np
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = ops.matrix(pdf["embedding"], m * sub_dim)
            # int64 headroom: per-cell sums of ≤n scaled values must
            # stay < 2^62 (fixture values are O(1) — see covariance)
            if float(np.abs(X).max(initial=0.0)) * 1e10 * n >= 2 ** 62:
                raise ValueError(
                    "Lloyd means: |embedding| too large for exact "
                    "int64 decimal(30,10) partial sums")
            js, cells_o, poss, ss, cs = [], [], [], [], []
            for j in sorted(cb):
                cids, C = cb[j]
                D = C.shape[1]
                Xj = X[:, j * sub_dim:j * sub_dim + sub_dim]
                lab, _ = ops.nearest(Xj, C, cids)
                Q = ops.quantize(Xj, 10)
                order = np.argsort(lab, kind="stable")
                sl = lab[order]
                uniq, starts = np.unique(sl, return_index=True)
                S = np.add.reduceat(Q[order], starts, axis=0)
                cnts = np.diff(np.append(starts, n))
                js.append(np.full(len(uniq) * D, j, dtype=np.int64))
                cells_o.append(np.repeat(cids[uniq], D))
                poss.append(np.tile(np.arange(D), len(uniq)))
                ss.extend(Decimal(int(v)).scaleb(-10) for v in S.ravel())
                cs.append(np.repeat(cnts, D))
            yield pd.DataFrame({
                "j": np.concatenate(js).astype("int32"),
                "cell": np.concatenate(cells_o).astype("int32"),
                "pos": np.concatenate(poss).astype("int32"),
                "s": ss,
                "c": np.concatenate(cs).astype("int64")})

    return (src.mapInPandas(
        kern, "j int, cell int, pos int, s decimal(30,10), c long")
        .groupBy("j", "cell", "pos")
        .agg((F.sum("s").cast("double") / F.sum("c")).alias("m")))


def _lloyd(vectors: DataFrame, cent: DataFrame, iters: int, m: int,
           sub_dim: int) -> DataFrame:
    """``iters`` Lloyd rounds from the seed ``(j, cid, cemb)`` codebook:
    one `_sub_mean_partials_np` pass → rebuild each centroid array from
    its ``(pos, m)`` means, eagerly ``localCheckpoint``ed (≤ m·k rows)
    so assignment lineage stays one iteration deep (VERDICT r5 item
    1).  A centroid that loses every member drops out."""
    for _ in range(iters):
        means = _sub_mean_partials_np(vectors, cent, m, sub_dim)
        cent = (means.groupBy("j", "cell")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.m).alias("cemb"))
                .select("j", F.col("cell").alias("cid"), "cemb")
                .localCheckpoint(eager=True))
    return cent


def _codes_np(vectors: DataFrame, cent: DataFrame, m: int = PQ_M,
              sub_dim: int = PQ_SUB_DIM) -> DataFrame:
    """Final PQ code assignment emitted WIDE in one Arrow pass (r15):
    (vec_id, code0..code{m-1}) directly from the n-row vector
    relation — the n·m subspace Generate, the per-(vector, subspace)
    assignment rows and their pivot groupBy (an n·m → n exchange) of
    the staged form it replaced all disappear; the pass is map-only.
    Per-subspace argmin is `_exact_ops` ``nearest`` (float64
    dimension-order accumulation, HALF_UP-9dp rounded comparison, ties
    → lowest cid)."""
    ops = _exact_ops()
    cb = _collect_codebook(cent)
    src = vectors.select("vec_id", "embedding")
    vt = src.schema["vec_id"].dataType.simpleString()
    out_schema = f"vec_id {vt}, " + ", ".join(
        f"code{j} int" for j in range(m))

    def kern(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = ops.matrix(pdf["embedding"], m * sub_dim)
            out = {"vec_id": pdf["vec_id"]}
            for j in range(m):
                cids, C = cb[j]
                idx, _ = ops.nearest(
                    X[:, j * sub_dim:j * sub_dim + sub_dim], C, cids)
                out[f"code{j}"] = cids[idx].astype("int32")
            yield pd.DataFrame(out)

    return src.mapInPandas(kern, out_schema)


#: Per-process memo of passed seed-count guards, keyed on
#: (corpus semanticHash, sorted inputFiles, seed_stride, k) — see
#: pq_codes.  semanticHash identifies the LOGICAL PLAN only (and is
#: an unstable 32-bit developer API), so the key also carries the
#: relation's source files: regenerating the data behind the same
#: path set in-process (or a hash collision) no longer silently
#: skips the fail-loud guard (r7 ADVICE).  Staleness window: an
#: in-place rewrite that keeps the exact same file NAMES within one
#: process is still memoized — our sinks always publish new
#: part-file names via the manifest layer, so that window is empty
#: in practice.
_SEED_GUARD_OK: set[tuple] = set()


def pq_codes(embeddings: DataFrame, m: int = PQ_M, sub_dim: int = PQ_SUB_DIM,
             k: int = PQ_K, iters: int = IVF_ITERS,
             seed_stride: int = 1):
    """Product quantization: per subspace ``j`` a Lloyd codebook over
    the j-th slice of every vector, then each vector's nearest-centroid
    code.  Returns ``(codes_df, codebook)``: codes = (vec_id,
    code0..code{m-1}) — m small ints replacing dim floats (16×
    compression at m=4, dim=64/float32), the representation that makes
    a 100 TB embedding corpus scannable; codebook = one tiny
    (j, cid, cemb) table of m·k centroids.

    All m codebooks train in ONE fused Lloyd loop — subspace is just
    another grouping key, so each iteration is one assignment + one
    mean aggregate for every subspace at once instead of m separate
    pipelines (measured 5.0s → 3.9s at sf0.1 for the ADC query).
    Since r15 the iteration means ride `_sub_mean_partials_np` and the
    final codes `_codes_np`, both over the n-row vector relation
    (subspaces sliced in the kernel), so the n·m exploded subspace
    relation is never built.  The math is
    identical per subspace (decimal-exact means, rounded argmins), so
    the per-subspace-chain DuckDB oracle verifies this fused form
    unchanged.

    As in :func:`kmeans_centroids`, each iteration's codebook is
    eagerly ``localCheckpoint``ed (m·k rows) so assignment lineage
    stays one-iteration deep instead of re-executing the whole
    training prefix per evaluation (VERDICT r5 item 1)."""
    # seed_stride > 1 spreads the k seed vectors across the corpus
    # (vec_id 0, stride, 2·stride, …) — for RESIDUAL training the
    # first k residuals are degenerate (the coarse seeds sit near
    # their own centroids, so their residuals cluster at the origin
    # and Lloyd collapses; measured recall@5·8 0.6 → 1.0 at sf0.01
    # from this one change).  stride=1 is the original raw-vector
    # seeding, unchanged.  The seed build only explodes the ≤k seed
    # rows.
    cent = (embeddings
            .filter((F.col("vec_id") % seed_stride == 0)
                    & (F.col("vec_id") < k * seed_stride))
            .select("vec_id", F.explode(_pq_subspaces(m, sub_dim)).alias("s"))
            .select("s.j", (F.col("vec_id") / seed_stride)
                    .cast("int").alias("cid"),
                    F.transform("s.sub", lambda x: x.cast("double"))
                    .alias("cemb")))
    if seed_stride > 1:
        # Strided seeding needs vec_ids 0, stride, …, (k-1)·stride to
        # EXIST; a smaller corpus would silently train < k centroids
        # per subspace (degraded codebook, no error — r5 ADVICE).  A
        # dynamic stride=1 fallback would desync the static SQL
        # oracle, so fail loud instead.  The count is one tiny job
        # (≤ m·k rows) but it used to run EAGERLY on every build —
        # parity/bench loops re-paid a blocking Spark job per call
        # before the plan even existed (r6 ADVICE) — so the verdict
        # is cached per (corpus plan semantics, stride, k): Catalyst's
        # ``semanticHash`` identifies the corpus relation without
        # executing it, and same-corpus rebuilds skip the job.
        guard_key = (embeddings.semanticHash(),
                     tuple(sorted(embeddings.inputFiles())),
                     seed_stride, k)
        if guard_key not in _SEED_GUARD_OK:
            n_seeds = cent.select(F.countDistinct("cid")).first()[0]
            if n_seeds < k:
                raise ValueError(
                    f"pq_codes(seed_stride={seed_stride}) found only "
                    f"{n_seeds}/{k} seed vectors; corpus must contain "
                    f"vec_ids 0..{(k - 1) * seed_stride} (use stride=1 "
                    f"for small corpora)")
            _SEED_GUARD_OK.add(guard_key)
    cent = _lloyd(embeddings, cent, iters, m, sub_dim)
    return _codes_np(embeddings, cent, m, sub_dim), cent


PQ_RERANK = 8  # shortlist factor: ADC keeps rerank*k, exact re-ranks
#              (8× because the m=4/K=8 codebook is coarse: measured
#              recall@5 at sf0.01 is 0.4 with no re-rank, 0.6 at 4×,
#              1.0 at 8× — still only 8k vector fetches per query)


def ann_pq_topk(embeddings: DataFrame, query_vec_id: int = 0,
                k: int = 5, rerank_factor: int = PQ_RERANK) -> DataFrame:
    """ANN via PQ asymmetric distance (ADC) + exact re-rank: build a
    lookup table of squared distances from the query's j-th slice to
    every code-j centroid; a vector's approximate distance is the SUM
    of its m table entries.  The full scan touches only the m code
    columns plus m BROADCAST joins against k-row LUTs — original
    vectors are never read during the scan, which is the entire point
    of PQ at scale.  The ADC shortlist (``rerank_factor * k`` ids)
    then fetches JUST those vectors for an exact L2 re-rank — the
    standard IVFADC refinement step: measured recall@5 vs the exact
    scan went 0.4 → 1.0 at sf0.01 for the price of reading
    ``rerank_factor*k = 40`` full vectors (floor pinned in tests).
    Per-term distances round to 9 dp and the m terms add in fixed
    subspace order (matching the oracle's literal d0+d1+…), so both
    the shortlist and the final rank are cross-engine stable."""
    codes, book = pq_codes(embeddings)
    qslices = (embeddings.filter(F.col("vec_id") == query_vec_id)
               .select(F.explode(_pq_subspaces()).alias("s"))
               .select("s.j", F.col("s.sub").alias("qe")))
    lut = (book.join(F.broadcast(qslices), "j")
           .select("j", "cid",
                   F.round(_l2sq(F.col("qe"), F.col("cemb")), 9).alias("d")))
    approx = codes
    dist_terms = []
    for j in range(PQ_M):
        lut_j = (lut.filter(F.col("j") == j)
                 .select(F.col("cid").alias(f"code{j}"),
                         F.col("d").alias(f"d{j}")))
        approx = approx.join(F.broadcast(lut_j), f"code{j}")
        dist_terms.append(F.col(f"d{j}"))
    total = dist_terms[0]
    for t in dist_terms[1:]:
        total = total + t
    shortlist = (approx.filter(F.col("vec_id") != query_vec_id)
                 .select("vec_id", F.round(total, 9).alias("approx_dist"))
                 .orderBy("approx_dist", "vec_id")
                 .limit(rerank_factor * k))
    qvec = (embeddings.filter(F.col("vec_id") == query_vec_id)
            .select(F.col("embedding").alias("q_emb")))
    return (shortlist
            .join(embeddings.select("vec_id", "embedding"), "vec_id")
            .crossJoin(F.broadcast(qvec))
            .select("vec_id", "approx_dist",
                    F.round(_l2sq(F.col("embedding"), F.col("q_emb")), 9)
                    .alias("exact_dist"))
            .orderBy("exact_dist", "vec_id")
            .limit(k))


def ann_ivfpq_topk(embeddings: DataFrame, query_vec_id: int = 0,
                   k: int = 5, nprobe: int = 2,
                   rerank_factor: int = PQ_RERANK) -> DataFrame:
    """IVF+PQ composed — the FAISS IVFADC serving architecture: the
    coarse quantizer (Lloyd cells, `ivf_cells`) prunes the scan to the
    ``nprobe`` cells nearest the query, PQ asymmetric distance ranks
    ONLY those rows from their m code columns (broadcast k-row LUTs,
    vectors never read), and the shortlist re-ranks exactly.

    vs plain PQ (`ann_pq_topk`): the ADC scan drops from n rows to
    nprobe·n/K — at 100 TB that is the difference between touching
    every code and touching 2/8ths of them; vs plain IVF
    (`ann_ivf_topk`): the probed cells are scanned via 4-byte codes
    instead of 256-byte vectors.  Codebooks here are trained on the
    full corpus (no per-cell residual encoding — the simpler of the
    two published IVFPQ variants; residual PQ is a codebook-artifact
    change, not a plan change).  Both stages reuse the exact
    deterministic kernels their standalone queries pinned, so the
    composed oracle is the two CTE chains joined."""
    cent = kmeans_centroids(embeddings)
    cells = _assign_cells(embeddings, cent)
    qvec = (embeddings.filter(F.col("vec_id") == query_vec_id)
            .select(F.col("embedding").alias("q_emb")))
    probe = (cent.crossJoin(F.broadcast(qvec))
             .select(F.col("cid").alias("q_cell"),
                     F.round(_l2sq(F.transform("q_emb", lambda x: x.cast("double")),
                                   F.col("cemb")), 9).alias("qdist"))
             .orderBy("qdist", "q_cell").limit(nprobe)
             .select("q_cell"))
    codes, book = pq_codes(embeddings)
    qslices = (embeddings.filter(F.col("vec_id") == query_vec_id)
               .select(F.explode(_pq_subspaces()).alias("s"))
               .select("s.j", F.col("s.sub").alias("qe")))
    lut = (book.join(F.broadcast(qslices), "j")
           .select("j", "cid",
                   F.round(_l2sq(F.col("qe"), F.col("cemb")), 9).alias("d")))
    approx = (codes.join(cells, "vec_id")
              .join(F.broadcast(probe), F.col("cell") == F.col("q_cell")))
    dist_terms = []
    for j in range(PQ_M):
        lut_j = (lut.filter(F.col("j") == j)
                 .select(F.col("cid").alias(f"code{j}"),
                         F.col("d").alias(f"d{j}")))
        approx = approx.join(F.broadcast(lut_j), f"code{j}")
        dist_terms.append(F.col(f"d{j}"))
    total = dist_terms[0]
    for t in dist_terms[1:]:
        total = total + t
    shortlist = (approx.filter(F.col("vec_id") != query_vec_id)
                 .select("vec_id", "cell",
                         F.round(total, 9).alias("approx_dist"))
                 .orderBy("approx_dist", "vec_id")
                 .limit(rerank_factor * k))
    return (shortlist
            .join(embeddings.select("vec_id", "embedding"), "vec_id")
            .crossJoin(F.broadcast(qvec))
            .select("vec_id", "cell", "approx_dist",
                    F.round(_l2sq(F.col("embedding"), F.col("q_emb")), 9)
                    .alias("exact_dist"))
            .orderBy("exact_dist", "vec_id")
            .limit(k))


RES_SEED_STRIDE = 40  # residual-PQ Lloyd seeds: vec_id 0, 40, …, 280
#                       (corpus-spread; the first-k residuals are
#                       near-origin degenerate — see pq_codes)


def ann_ivfpq_residual_topk(embeddings: DataFrame, query_vec_id: int = 0,
                            k: int = 5, nprobe: int = 2,
                            rerank_factor: int = PQ_RERANK) -> DataFrame:
    """IVFADC with RESIDUAL encoding — the second published IVFPQ
    variant (Jégou, Douze & Schmid 2011, §IV: PQ codebooks trained on
    r = x − c(cell(x)) rather than raw vectors; FAISS's
    IndexIVFPQ default).  Residuals concentrate near the origin once
    the coarse quantizer has soaked up the between-cell variance, so
    the same m/k code budget spends its resolution on within-cell
    structure — ADC ranking quality at equal bytes is the entire
    point (recall comparison pinned in test_similarity).

    Plan deltas vs `ann_ivfpq_topk` (same scan/shuffle shape
    otherwise): (1) codebook training runs over the residual relation
    — one extra broadcast join of the K-row centroid table at
    build time; (2) the query LUT is PER PROBED CELL (the query's
    residual differs per cell), so the broadcast LUTs grow from m·k
    to nprobe·m·k rows — still KBs; the ADC joins key on
    (cell, code_j) instead of (code_j).  The code scan still reads
    nprobe·n/K rows of m small ints, vectors untouched until the
    exact re-rank.  All arithmetic stays double/decimal-exact and
    9-dp-rounded, so the DuckDB oracle reproduces every argmin.

    ``cells`` and ``res`` are eagerly ``localCheckpoint``ed once:
    ``res`` is the INPUT to the second Lloyd chain, so without
    truncation every residual-codebook iteration (and the final code
    assignment) re-executes the whole coarse k-means lineage — the
    compounding that made this query cost 3× the non-residual variant
    at r5 (VERDICT r5 item 1).  Both are n-row artifacts — exactly
    what :func:`build_ann_index` persists as manifest tables in the
    train-once/serve-many split (`q_ann_index_build` /
    `q_ann_query_from_index`)."""
    cent = kmeans_centroids(embeddings)
    # coarse cells AND residuals from ONE corpus pass (r15 — the
    # residual join and its second scan are gone; see
    # _cells_and_residuals)
    cells, res = _cells_and_residuals(embeddings, cent)
    codes, book = pq_codes(res, seed_stride=RES_SEED_STRIDE)
    return _residual_adc_serve(embeddings, cent, cells, codes, book,
                               query_vec_id, k, nprobe, rerank_factor)


def _residual_adc_serve(embeddings: DataFrame, cent: DataFrame,
                        cells: DataFrame, codes: DataFrame,
                        book: DataFrame, query_vec_id: int = 0,
                        k: int = 5, nprobe: int = 2,
                        rerank_factor: int = PQ_RERANK) -> DataFrame:
    """The SERVE half of residual IVFADC, factored out so the in-query
    training path (`ann_ivfpq_residual_topk`) and the artifact-reading
    path (`ann_query_from_index`) share it verbatim — the two must
    rank identically for the build/serve split to be sound.  Performs
    ZERO Lloyd iterations: probe selection + per-probed-cell query
    residual + broadcast LUTs + (cell, code) ADC joins + bounded exact
    re-rank; the only corpus-width scan reads the m code columns of
    the probed cells."""
    qvec = (embeddings.filter(F.col("vec_id") == query_vec_id)
            .select(F.col("embedding").alias("q_emb")))
    probe = (cent.crossJoin(F.broadcast(qvec))
             .select(F.col("cid").alias("q_cell"),
                     F.round(_l2sq(F.transform("q_emb",
                                               lambda x: x.cast("double")),
                                   F.col("cemb")), 9).alias("qdist"))
             .orderBy("qdist", "q_cell").limit(nprobe)
             .select("q_cell"))
    # per-probed-cell query residual → per-cell LUTs
    qres = (cent.join(F.broadcast(probe), F.col("cid") == F.col("q_cell"))
            .crossJoin(F.broadcast(qvec))
            .select("q_cell",
                    F.zip_with("q_emb", "cemb",
                               lambda x, c: x.cast("double") - c)
                    .alias("embedding")))
    qslices = (qres.select("q_cell", F.explode(_pq_subspaces()).alias("s"))
               .select("q_cell", "s.j", F.col("s.sub").alias("qe")))
    lut = (book.join(F.broadcast(qslices), "j")
           .select("q_cell", "j", "cid",
                   F.round(_l2sq(F.col("qe"), F.col("cemb")), 9).alias("d")))
    approx = (codes.join(cells, "vec_id")
              .join(F.broadcast(probe), F.col("cell") == F.col("q_cell")))
    dist_terms = []
    for j in range(PQ_M):
        lut_j = (lut.filter(F.col("j") == j)
                 .select("q_cell", F.col("cid").alias(f"code{j}"),
                         F.col("d").alias(f"d{j}")))
        approx = approx.join(F.broadcast(lut_j), ["q_cell", f"code{j}"])
        dist_terms.append(F.col(f"d{j}"))
    total = dist_terms[0]
    for t in dist_terms[1:]:
        total = total + t
    shortlist = (approx.filter(F.col("vec_id") != query_vec_id)
                 .select("vec_id", "cell",
                         F.round(total, 9).alias("approx_dist"))
                 .orderBy("approx_dist", "vec_id")
                 .limit(rerank_factor * k))
    return (shortlist
            .join(embeddings.select("vec_id", "embedding"), "vec_id")
            .crossJoin(F.broadcast(qvec))
            .select("vec_id", "cell", "approx_dist",
                    F.round(_l2sq(F.col("embedding"), F.col("q_emb")), 9)
                    .alias("exact_dist"))
            .orderBy("exact_dist", "vec_id")
            .limit(k))


def _corpus_token(sf_dir: str) -> tuple:
    """Filesystem fingerprint of the embeddings table — (name, size,
    mtime_ns) per data file, via os.stat only (NO Spark job, so the
    pure-serve zero-extra-jobs property the caches exist for is
    preserved).  Cache keys carry this token so a corpus that grows
    or is regenerated IN PLACE — the retrain path's exact scenario —
    derives a FRESH K/split instead of silently serving the stale one
    (VERDICT r13 What's-missing 2: sf_dir-only keys never
    invalidate).  At 100 TB the analogous token is the table's
    snapshot/manifest version."""
    import os
    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        if os.path.isdir(path):
            return tuple(sorted(
                (f, st.st_size, st.st_mtime_ns)
                for f, st in ((f, os.stat(os.path.join(path, f)))
                              for f in os.listdir(path))))
        st = os.stat(path)
        return (("embeddings.parquet", st.st_size, st.st_mtime_ns),)
    except OSError:
        # unreadable/missing path: no caching key — fall through to a
        # per-call derivation (the load below will raise the real
        # error if the table truly is absent)
        return ()


#: Derived coarse-K per (corpus dir, corpus token), cached so serve
#: queries don't pay a count job per call (the count is metadata-only
#: on parquet, but a timed pure-serve run should contain zero extra
#: jobs).  The token invalidates on in-place corpus change.
_DERIVED_K_CACHE: dict[tuple, int] = {}


def _derived_k_for(spark: SparkSession, sf_dir: str) -> int:
    key = (sf_dir, _corpus_token(sf_dir))
    if key not in _DERIVED_K_CACHE:
        _DERIVED_K_CACHE[key] = derived_n_centroids(
            load_table(spark, sf_dir, "embeddings").count())
    return _DERIVED_K_CACHE[key]


def build_ann_index(spark: SparkSession, sf_dir: str,
                    n_centroids: int | None = None):
    """Train-once half of the FAISS-style build/serve split (VERDICT
    r5 item 1b): run the coarse Lloyd quantizer + residual PQ training
    ONCE and publish all four serving artifacts — ``centroids`` (K
    rows), ``cells`` (vec_id → cell), ``codes`` (vec_id → m small
    ints), ``codebook`` (m·k rows) — through a ``ManifestCatalog`` in
    ONE atomic pass (a crashed build publishes nothing; version is 0
    or 1, so re-runs are idempotent).  At 100 TB this is the index
    REBUILD job that runs per corpus snapshot, while every query reads
    the committed artifacts — the at-scale form of the reference's
    build-once-then-query split (schema pass core.rs:85-132 vs
    delegated queries README.md:27-94).  Returns the catalog handle.

    The scratch catalog is cached per (op, sf_dir) per process, like
    the other manifest contract queries.  ``n_centroids`` defaults to
    the CORPUS-DERIVED K (`derived_n_centroids` — VERDICT r12 item 1:
    a 10× corpus carries a ~10× index, the occupancy knob the
    rebalance actuator turns in production; round 12 left the
    production K a hand-passed bench override, which no deployment
    would remember).  An explicit K still pins the quantizer
    (cache-keyed separately when it differs from the derived
    default)."""
    import os

    from ..sinks.manifest import ManifestCatalog
    from .pipeline import _work_dir

    derived = _derived_k_for(spark, sf_dir)
    if n_centroids is None:
        n_centroids = derived
    op = ("ann_index" if n_centroids == derived
          else f"ann_index_k{n_centroids}")
    cat = ManifestCatalog(os.path.join(_work_dir(op, sf_dir), "cat"))
    if cat.current_version() < 1:
        emb = load_table(spark, sf_dir, "embeddings")
        cent = kmeans_centroids(emb, n_centroids)
        cells, res = _cells_and_residuals(emb, cent)
        codes, book = pq_codes(res, seed_stride=RES_SEED_STRIDE)
        cat.publish_pass({"centroids": cent, "cells": cells,
                          "codes": codes, "codebook": book})
    return cat


def ann_index_build_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract query over the PUBLISHED index artifacts: per coarse
    cell, member count, the sum of members' PQ codes (sensitive to
    every stored code), and the stored centroid's L2 norm — all read
    back THROUGH the manifest, so the oracle (which retrains from the
    raw table) only hash-matches if the committed artifacts equal the
    from-scratch training bit-for-bit."""
    cat = build_ann_index(spark, sf_dir)
    cells = cat.read(spark, "cells")
    codes = cat.read(spark, "codes")
    cent = cat.read(spark, "centroids")
    code_sum = sum(F.col(f"code{j}").cast("long") for j in range(1, PQ_M)) \
        + F.col("code0").cast("long")
    per_cell = (cells.join(codes, "vec_id")
                .groupBy("cell")
                .agg(F.count(F.lit(1)).alias("n_vecs"),
                     F.sum(code_sum).alias("code_sum")))
    cent_norm = cent.select(
        F.col("cid").alias("cell"),
        F.round(F.sqrt(F.aggregate(
            F.transform("cemb", lambda x: x * x),
            F.lit(0.0), lambda a, v: a + v)), 6).alias("cent_norm"))
    return per_cell.join(F.broadcast(cent_norm), "cell")


FORGET_VEC_IDS = (17, 51, 260, 444)  # erasure tombstone fixture
#   (17/260 sit in the unerased top-5, so erasure provably changes
#   the served answer; 51/444 exercise the no-rank-change path)


def forget_from_ann_index(spark: SparkSession, sf_dir: str,
                          vec_ids: tuple[int, ...] = FORGET_VEC_IDS):
    """Right-to-be-forgotten for the ANN index via DELETION VECTORS —
    the Delta Lake DV shape, and the only affordable erasure when
    codes ride immutable 100 TB files: version 1 shallow-clones the
    live index, version 2 publishes ONE tiny ``deleted`` table of
    tombstoned vec_ids (write cost O(|tombstones|); cells/codes/
    centroids files untouched, byte-identical).  Erasure is LOGICAL
    at serve time (`ann_query_after_forget` anti-joins the DV at the
    candidate stage) and becomes PHYSICAL on the next maintenance
    rewrite of the affected artifacts (rebalance/compact) followed by
    retention expiry — the standard two-phase erasure contract.

    The quantizers are frozen artifacts the tombstones don't retrain
    (training saw the erased vectors; their influence on centroids is
    the documented residue until the next drift-triggered rebuild —
    same trade every production DV system makes).  The lexical twin
    (`forget_from_text_index`) rewrites its artifact instead because
    postings rows are tiny; here rewrite cost would be ∝ corpus."""
    import os

    from ..sinks.manifest import ManifestCatalog
    from .pipeline import _work_dir

    base = build_ann_index(spark, sf_dir)
    # tombstone VALUES in the cache key (r6-ADVICE rule), not the count
    ids_key = "-".join(map(str, vec_ids))
    cat = ManifestCatalog(os.path.join(
        _work_dir(f"ann_index_forget_{ids_key}", sf_dir), "cat"))
    if cat.current_version() < 1:
        cat.clone_pass(base)
    if cat.current_version() < 2:
        cat.publish_pass({"deleted": one_slice_df(spark,
            [(int(i),) for i in vec_ids], "vec_id bigint")})
    return cat


def ann_query_after_forget(spark: SparkSession, sf_dir: str,
                           query_vec_id: int = 0, k: int = 5,
                           nprobe: int = 2,
                           rerank_factor: int = PQ_RERANK) -> DataFrame:
    """Serve-only residual IVFADC over the ERASED index head: the
    unchanged `_residual_adc_serve` kernel with the deletion vector
    anti-joined out of cells and codes at candidate time (a broadcast
    against the tombstone table — the DV read path).  The oracle is
    the residual-IVFADC rebuild with the same NOT IN at its shortlist
    stage, so the hash gate proves the logical erasure is
    candidate-exact: no tombstoned vector can surface, and the
    shortlist refills from live vectors exactly as a rebuild-minus-
    tombstones would."""
    cat = forget_from_ann_index(spark, sf_dir)
    dv = F.broadcast(cat.read(spark, "deleted").select("vec_id"))
    emb = load_table(spark, sf_dir, "embeddings")
    return _residual_adc_serve(
        emb,
        cat.read(spark, "centroids"),
        cat.read(spark, "cells").join(dv, "vec_id", "left_anti"),
        cat.read(spark, "codes").join(dv, "vec_id", "left_anti"),
        cat.read(spark, "codebook"),
        query_vec_id, k, nprobe, rerank_factor)


DV_REWRITE_PCT = 2   # per-cell: physically apply DVs past 2% tombstoned
#   (between the contract fixture's per-cell fractions at both test
#   scales — sf0.01: 2/67 ≈ 3.0% due vs 1/56 and 1/70 not; sf0.001:
#   1/49 ≈ 2.04% due vs 1/65, 1/65, 1/69 not — so BOTH decision
#   paths are live in the oracle-checked result, and the serve twin
#   exercises real PARTIAL application.  Production tunes this to
#   its rewrite-amplification budget; the machinery is
#   threshold-independent, same convention as IVF_SPLIT_PCT.)
DV_RETRAIN_PCT = 20  # global: flag quantizer retrain past 20% erased
#   training data (the frozen-quantizer residue forget_from_ann_index
#   documents; the flag is recorded in the versioned decision
#   artifact — the rebuild actuator is a build_ann_index rerun)


def dv_fraction_report(spark: SparkSession, sf_dir: str,
                       vec_ids: tuple[int, ...] = FORGET_VEC_IDS,
                       rewrite_pct: int = DV_REWRITE_PCT) -> DataFrame:
    """Erasure MONITOR (VERDICT r9 item 2 — the one maintenance loop
    still actuator-only): per coarse cell, live vs tombstoned
    membership and the rewrite decision, computed as a rollup over
    two committed artifacts (``cells`` + the ``deleted`` DV — never
    the vector corpus).  The decision is the house exact-integer
    relative bound (``n_tomb·100 > pct·n_total`` — no float
    fraction, so Spark and the oracle classify identically, same
    discipline as the rebalance thresholds).  This is the DV-debt
    signal that gates `dv_rewrite_ann_index`, closing the
    monitor→actuator loop the other maintained artifacts already
    have (occupancy→rebalance, drift→retrain, fertility→extend)."""
    cat = forget_from_ann_index(spark, sf_dir, vec_ids)
    cells = cat.read(spark, "cells")
    dv = F.broadcast(cat.read(spark, "deleted")
                     .select("vec_id", F.lit(1).alias("is_tomb")))
    return (cells.join(dv, "vec_id", "left")
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum(F.coalesce("is_tomb", F.lit(0))).alias("n_tomb"))
            .select("cell",
                    (F.col("n_total") - F.col("n_tomb"))
                    .cast("bigint").alias("n_live"),
                    F.col("n_tomb").cast("bigint").alias("n_tombstoned"),
                    (F.col("n_tomb") * 100
                     > F.lit(int(rewrite_pct)) * F.col("n_total"))
                    .alias("rewrite_due"))
            .orderBy("cell"))


def _dv_rewrite_pass(spark: SparkSession, cat,
                     rewrite_pct: int = DV_REWRITE_PCT,
                     retrain_pct: int = DV_RETRAIN_PCT,
                     max_retries: int = 10) -> int:
    """Erasure ACTUATOR pass over a catalog whose head holds the four
    index artifacts + a ``deleted`` DV table: re-derive the monitor's
    per-cell rollup, physically apply the tombstones of rewrite-due
    cells via :meth:`ManifestCatalog.apply_deletes_pass` (ONLY the
    files containing an applied vec_id are rewritten; every other
    file rides forward byte-identical), REPLACE ``deleted`` with the
    not-due leftover, and publish the per-cell decision (+ the global
    ``retrain_due`` flag) as a versioned ``dv_decision`` artifact in
    the SAME atomic pass.  When nothing is due, the decision is still
    published (version-guard rule: an unpublished "do nothing" would
    re-run the decision scan on every later call).

    The whole derive runs INSIDE the commit-retry loop against a
    PINNED head (ADVICE r10): the leftover DV and the decision are
    computed from the ``deleted`` table read at ``head``, so the
    publish pins ``expected_parent=head`` and a lost race re-derives
    everything from the NEW head — a tombstone appended concurrently
    by another eraser is re-counted, never silently dropped by a
    REPLACE of the stale leftover (the fold_batch lost-update shape).

    Factored from :func:`dv_rewrite_ann_index` so the physical-
    erasure drill can drive it on an OWNING catalog (clone kept
    files belong to the source — the clone-vacuum hazard — so the
    disk-level free assertion needs self-owned files)."""
    from ..sinks.manifest import CommitConflict

    for _ in range(max_retries):
        head = cat.current_version()
        cells = cat.read(spark, "cells", version=head)
        deleted = cat.read(spark, "deleted", version=head).select("vec_id")
        dv = F.broadcast(deleted.select("vec_id",
                                        F.lit(1).alias("is_tomb")))
        rows = (cells.join(dv, "vec_id", "left")
                .groupBy("cell")
                .agg(F.count(F.lit(1)).alias("n_total"),
                     F.sum(F.coalesce("is_tomb", F.lit(0))).alias("n_tomb"))
                .collect())                    # ≤ K rows (bounded)
        n_corpus = sum(r.n_total for r in rows)
        n_tomb_all = sum(r.n_tomb for r in rows)
        due = sorted(r.cell for r in rows
                     if r.n_tomb * 100 > rewrite_pct * r.n_total)
        retrain_due = n_tomb_all * 100 > retrain_pct * n_corpus
        decision = one_slice_df(spark,
            [(int(r.cell), int(r.n_total - r.n_tomb), int(r.n_tomb),
              bool(r.cell in set(due)), bool(retrain_due))
             for r in sorted(rows, key=lambda r: r.cell)],
            "cell int, n_live bigint, n_tombstoned bigint, "
            "rewrite_due boolean, retrain_due boolean")
        try:
            # dv_decision REPLACE-publishes: the head always holds ONE
            # generation's decision (K rows); prior generations stay
            # time-travelable at their versions — appending instead
            # would mix generations indistinguishably on a catalog
            # that erases more than once (sync → rewrite → sync → …)
            if not due:
                return cat.publish_pass({"dv_decision": decision},
                                        replace={"dv_decision"},
                                        expected_parent=head)
            applied = (deleted
                       .join(cells.filter(
                           F.col("cell").isin([int(c) for c in due])),
                           "vec_id", "left_semi")
                       .localCheckpoint(eager=True))  # ≤ |tombstones| rows
            leftover = deleted.join(applied, "vec_id", "left_anti")
            return cat.apply_deletes_pass(
                spark,
                {"cells": ("vec_id", applied),
                 "codes": ("vec_id", applied)},
                tables={"deleted": leftover, "dv_decision": decision},
                replace={"deleted", "dv_decision"},
                expected_parent=head)
        except CommitConflict:
            continue
    raise CommitConflict(f"lost {max_retries} publish races")


def dv_rewrite_ann_index(spark: SparkSession, sf_dir: str,
                         vec_ids: tuple[int, ...] = FORGET_VEC_IDS,
                         rewrite_pct: int = DV_REWRITE_PCT,
                         retrain_pct: int = DV_RETRAIN_PCT):
    """Phase two of the two-phase erasure contract for the ANN index:
    version 1 shallow-clones the DV-erased head (maintenance
    isolation — `q_ann_forget` keeps serving its own catalog
    unsurprised), version 2 is `_dv_rewrite_pass` — the monitor
    rollup, the affected-file rewrite for due cells, the leftover DV,
    and the versioned decision, one atomic publish.  Write cost is
    ∝ affected files + |tombstones| + K decision rows; the corpus and
    the clean files are never rewritten."""
    import os

    from ..sinks.manifest import ManifestCatalog
    from .pipeline import _work_dir

    base = forget_from_ann_index(spark, sf_dir, vec_ids)
    # threshold + tombstone VALUES in the cache key (r6-ADVICE rule)
    ids_key = "-".join(map(str, vec_ids))
    cat = ManifestCatalog(os.path.join(
        _work_dir(f"ann_dv_rw_{ids_key}_p{rewrite_pct}_r{retrain_pct}",
                  sf_dir), "cat"))
    if cat.current_version() < 1:
        cat.clone_pass(base)
    if cat.current_version() < 2:
        _dv_rewrite_pass(spark, cat, rewrite_pct, retrain_pct)
    return cat


def ann_query_after_dv_rewrite(spark: SparkSession, sf_dir: str,
                               query_vec_id: int = 0, k: int = 5,
                               nprobe: int = 2,
                               rerank_factor: int = PQ_RERANK
                               ) -> DataFrame:
    """Serve over the PHYSICALLY erased head: tombstones of
    rewrite-due cells are gone from the files themselves, the
    not-due remainder is still a logical DV anti-joined at candidate
    time — PARTIAL application is the steady state a threshold-gated
    rewriter produces, and the serve must compose both erasure
    phases.  The oracle is the same rebuild-minus-ALL-tombstones SQL
    as `q_ann_forget`, so the hash gate proves physical + logical
    composition erases exactly the full tombstone list with no
    double- or under-deletion at the phase boundary."""
    cat = dv_rewrite_ann_index(spark, sf_dir)
    dv = F.broadcast(cat.read(spark, "deleted").select("vec_id"))
    emb = load_table(spark, sf_dir, "embeddings")
    return _residual_adc_serve(
        emb,
        cat.read(spark, "centroids"),
        cat.read(spark, "cells").join(dv, "vec_id", "left_anti"),
        cat.read(spark, "codes").join(dv, "vec_id", "left_anti"),
        cat.read(spark, "codebook"),
        query_vec_id, k, nprobe, rerank_factor)


def retrain_ann_index(spark: SparkSession, sf_dir: str,
                      vec_ids: tuple[int, ...] = FORGET_VEC_IDS):
    """Global-retrain actuator for the DV decision's ``retrain_due``
    flag (the `build_ann_index` rerun `_dv_rewrite_pass`'s decision
    artifact promises): rerun the coarse Lloyd + residual-PQ training
    with the tombstoned ids anti-joined out of the TRAINING SCAN
    itself, so the quantizers are functions of live vectors only and
    the frozen-quantizer residue the DV contract documents decays to
    zero in this snapshot.  Publishes the four serving artifacts + an
    EMPTY ``deleted`` DV (every tombstone is applied by construction)
    in one atomic pass; idempotent via the version guard like
    `build_ann_index`.  Cost is a full rebuild — which is exactly why
    it is gated on `DV_RETRAIN_PCT`, not run per erasure batch."""
    import os

    from ..sinks.manifest import ManifestCatalog
    from .pipeline import _work_dir

    ids_key = "-".join(map(str, vec_ids))
    cat = ManifestCatalog(os.path.join(
        _work_dir(f"ann_retrain_{ids_key}", sf_dir), "cat"))
    if cat.current_version() < 1:
        tomb = F.broadcast(one_slice_df(spark,
            [(int(i),) for i in vec_ids], "vec_id bigint"))
        emb = (load_table(spark, sf_dir, "embeddings")
               .join(tomb, "vec_id", "left_anti"))
        cent = kmeans_centroids(emb)
        cells, res = _cells_and_residuals(emb, cent)
        codes, book = pq_codes(res, seed_stride=RES_SEED_STRIDE)
        cat.publish_pass({"centroids": cent, "cells": cells,
                          "codes": codes, "codebook": book,
                          "deleted": one_slice_df(spark,
                              [], "vec_id bigint")})
    return cat


def ann_query_after_retrain(spark: SparkSession, sf_dir: str,
                            query_vec_id: int = 0, k: int = 5,
                            nprobe: int = 2,
                            rerank_factor: int = PQ_RERANK) -> DataFrame:
    """Serve over the RETRAINED index — the `retrain_due` actuator's
    output (`retrain_ann_index`): quantizers trained on live vectors
    only, nothing left to anti-join (every tombstone is applied by
    construction, the DV is empty).  The oracle replays the full
    residual-IVFADC training with the tombstones filtered from the
    TRAINING INPUT itself (`trained_without=`), so the hash gate
    proves the rebuild is a function of live vectors only — the
    zero-residue endpoint of the erasure contract (monitor
    `q_dv_fraction` → physical rewrite `q_ann_dv_rewrite` → global
    retrain here)."""
    cat = retrain_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return _residual_adc_serve(
        emb,
        cat.read(spark, "centroids"),
        cat.read(spark, "cells"),
        cat.read(spark, "codes"),
        cat.read(spark, "codebook"),
        query_vec_id, k, nprobe, rerank_factor)


def ann_query_from_index(spark: SparkSession, sf_dir: str,
                         query_vec_id: int = 0, k: int = 5,
                         nprobe: int = 2,
                         rerank_factor: int = PQ_RERANK) -> DataFrame:
    """Serve-only residual IVFADC: read the four committed index
    artifacts and run `_residual_adc_serve` — ZERO Lloyd iterations in
    the query plan (pinned in tests/test_plans.py: no decimal
    training aggregates, artifact parquet scans present).  Same output
    contract — and same oracle — as `q_ann_ivfpq_residual`; the exact
    re-rank is the only stage that touches original vectors."""
    cat = build_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return _residual_adc_serve(
        emb,
        cat.read(spark, "centroids"),
        cat.read(spark, "cells"),
        cat.read(spark, "codes"),
        cat.read(spark, "codebook"),
        query_vec_id, k, nprobe, rerank_factor)


def embedding_covariance(embeddings: DataFrame, dim: int = DIM) -> DataFrame:
    """Population covariance matrix of the embedding corpus (upper
    triangle, D(D+1)/2 = 2080 rows at D=64) — the input artifact for
    PCA / whitening / Mahalanobis outlier scoring over an embedding
    column: the decimal-exact moments (`_covariance_moments`) and the
    one fixed double finish (`_covariance_from_moments`), both shared
    with the streaming maintenance in ``streaming/moments.py``.

    Four consumers of the finish (prods / m1 / m2 / n) filter the
    ≤2145-row moments differently, so exchange reuse cannot dedupe the
    kernel subtree and the corpus scan + kernel would run 4× (the
    graph_jaccard lesson; measured: the 4-subtree plan ran 2.2 s vs
    0.9 s checkpointed at sf0.1).  localCheckpoint is intra-query —
    every invocation recomputes it from the parquet scan."""
    return _covariance_from_moments(
        _covariance_moments(embeddings, dim).localCheckpoint(eager=True))


def _covariance_moments(embeddings: DataFrame, dim: int = DIM) -> DataFrame:
    """The covariance's sufficient statistics in the ``(d1, d2, s)``
    moments layout, ``s`` DECIMAL(30,10): ``d2 ≥ d1 ≥ 0`` rows carry
    Σx_{d1}x_{d2}, ``(d, -1)`` rows Σx_d and ``(-1, -1)`` the row count.

    Why a kernel can keep the exactness contract (float64 partials are
    accumulation-order dependent): the contract form (the oracle)
    quantizes EACH product to decimal(30,10) — i.e. HALF_UP at 10 dp
    over the double's shortest decimal repr (Spark's double→decimal
    cast goes through BigDecimal.valueOf = Double.toString) — and sums
    the quantized values, which is exact integer arithmetic in units
    of 1e-10 and therefore order-INdependent.  The kernel reproduces
    that quantization per product (`_exact_ops` ``quantize``),
    accumulates scaled int64 partials per Arrow batch, and emits them
    as decimal(30,10) rows; the downstream SUM over decimals is exact
    and associative, so the totals — and the one fixed double finish
    after them — are bit-identical to the oracle's, regardless of batch
    or partition boundaries.

    Shape: one mapInPandas pass emitting ≤ D(D+1)/2 + D + 1 tiny rows
    per batch and a groupBy over them — no n·D(D+1)/2 product-row
    Generate (4.2 M rows at sf0.1; measured 6.1 → 0.9 s median at
    sf0.1 when the kernel replaced the posexplode form in r14).  At
    100 TB the kernel is one BLAS-free vectorized pass per batch; the
    shuffle stays O(D²) rows per batch, never O(n·D²)."""
    ops = _exact_ops()

    def kernel(batches):
        from decimal import Decimal

        import numpy as np
        import pandas as pd

        iu = np.triu_indices(dim)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = ops.matrix(pdf["embedding"], dim)
            # int64 headroom: per-column sums of ≤n scaled products
            # must stay < 2^62 (fixture values are O(1); a corpus that
            # violated this would need |x| ~ 1e4 at 10k-row batches)
            if float(np.abs(X).max(initial=0.0)) ** 2 * 1e10 * n >= 2 ** 62:
                raise ValueError(
                    "embedding_covariance: |embedding| too large for "
                    "exact int64 decimal(30,10) product sums")
            totals = np.zeros(len(iu[0]), dtype=np.int64)
            dsums = np.zeros(dim, dtype=np.int64)
            step = max(1, (64 << 20) // (dim * dim * 8))
            for lo in range(0, n, step):
                Xb = X[lo:lo + step]
                P = Xb[:, iu[0]] * Xb[:, iu[1]]     # float64, IEEE ==
                totals += ops.quantize(P, 10).sum(axis=0)
                dsums += ops.quantize(Xb, 10).sum(axis=0)
            d1s = np.concatenate([iu[0], np.arange(dim), [-1]])
            d2s = np.concatenate([iu[1], np.full(dim, -1), [-1]])
            vals = ([Decimal(int(t)).scaleb(-10) for t in totals]
                    + [Decimal(int(t)).scaleb(-10) for t in dsums]
                    + [Decimal(n)])
            yield pd.DataFrame({"d1": d1s.astype("int32"),
                                "d2": d2s.astype("int32"),
                                "s": vals})

    return (embeddings.select("embedding")
            .mapInPandas(kernel, schema="d1 int, d2 int, s decimal(30,10)")
            .groupBy("d1", "d2")
            .agg(F.sum("s").cast("decimal(30,10)").alias("s")))


def _covariance_from_moments(moments: DataFrame) -> DataFrame:
    """cov = (sxy − sx1·sx2/n)/n over the ``(d1, d2, s)`` moments, in
    ONE fixed double expression, rounded to 6 dp.  ``+ 0.0``
    canonicalizes IEEE negative zero: DuckDB's ROUND keeps the sign of
    a tiny negative rounded to zero, Spark's does not, and -0.0 == 0.0
    compares equal but STRINGIFIES differently — the driver's value
    hash (and any sorted-row compare) would diverge."""
    n = (moments.filter((F.col("d1") == -1) & (F.col("d2") == -1))
         .select(F.col("s").cast("double").alias("n")))
    m1 = (moments.filter((F.col("d2") == -1) & (F.col("d1") >= 0))
          .select(F.col("d1"), F.col("s").cast("double").alias("sx1")))
    m2 = m1.select(F.col("d1").alias("d2"), F.col("sx1").alias("sx2"))
    pairs = (moments.filter(F.col("d2") >= 0)
             .select("d1", "d2", F.col("s").cast("double").alias("sxy")))
    cov = (F.col("sxy") - F.col("sx1") * F.col("sx2") / F.col("n")) \
        / F.col("n")
    return (pairs.join(F.broadcast(m1), "d1")
            .join(F.broadcast(m2), "d2")
            .crossJoin(F.broadcast(n))
            .select("d1", "d2",
                    (F.round(cov, 6) + F.lit(0.0)).alias("cov")))


_EMBED_COV_ORACLE = f"""
WITH dims AS (SELECT unnest(range({DIM})) AS d),
m AS (
  SELECT d.d,
         CAST(SUM(CAST(CAST(embedding[d.d + 1] AS DOUBLE)
                       AS DECIMAL(30,10))) AS DOUBLE) AS sx,
         COUNT(*) AS n
  FROM embeddings, dims d GROUP BY d.d),
p AS (
  SELECT d1.d AS d1, d2.d AS d2,
         CAST(SUM(CAST(CAST(embedding[d1.d + 1] AS DOUBLE)
                       * CAST(embedding[d2.d + 1] AS DOUBLE)
                       AS DECIMAL(30,10))) AS DOUBLE) AS sxy
  FROM embeddings, dims d1, dims d2
  WHERE d1.d <= d2.d GROUP BY 1, 2)
SELECT CAST(p.d1 AS INT) AS d1, CAST(p.d2 AS INT) AS d2,
       ROUND((sxy - m1.sx * m2.sx / m1.n) / m1.n, 6) + 0.0 AS cov
FROM p
JOIN m m1 ON m1.d = p.d1
JOIN m m2 ON m2.d = p.d2
"""


PCA_P = 8  # projection components


def build_pca_model(spark: SparkSession, sf_dir: str, p: int = PCA_P):
    """Train-once half of the PCA split (same artifact economics as
    `build_ann_index`): run the DISTRIBUTED statistics —
    :func:`embedding_covariance` (O(D²)-row shuffle) and the D-row
    decimal-exact mean aggregate — then the 64×64 eigendecomposition
    driver-side on the BOUNDED matrix (the one place a driver step is
    correct at any corpus size), canonicalize eigenvector signs
    (largest-|entry| positive ⇒ unique basis), and publish the model
    as ONE atomic catalog pass: ``components`` (d, c, v — D·p rows)
    and ``offsets`` (c, off — the pre-folded μ·V scalars).
    Version-guarded and cached per (op, sf_dir) like every build
    job here."""
    import os

    import numpy as np

    from ..sinks.manifest import ManifestCatalog
    from .pipeline import _work_dir

    cat = ManifestCatalog(os.path.join(_work_dir("pca_model", sf_dir),
                                       "cat"))
    if cat.current_version() < 1:
        emb = load_table(spark, sf_dir, "embeddings")
        cov_rows = embedding_covariance(emb).collect()   # ≤ D(D+1)/2
        cmat = np.zeros((DIM, DIM))
        for r in cov_rows:
            cmat[r.d1, r.d2] = cmat[r.d2, r.d1] = r.cov
        mean_rows = (emb
                     .select(F.posexplode("embedding").alias("d0", "x"))
                     .groupBy("d0")
                     .agg((F.sum(F.col("x").cast("double")
                                 .cast("decimal(30,10)")).cast("double")
                           / F.count(F.lit(1))).alias("mu"))
                     .collect())                         # ≤ D rows
        mu = np.zeros(DIM)
        for r in mean_rows:
            mu[r.d0] = r.mu
        w, v = np.linalg.eigh(cmat)
        order = np.argsort(w)[::-1][:p]
        comps = v[:, order].copy()
        for c in range(comps.shape[1]):
            if comps[np.argmax(np.abs(comps[:, c])), c] < 0:
                comps[:, c] = -comps[:, c]
        offsets = mu @ comps
        comp_rows = [(d, c, float(comps[d, c]))
                     for d in range(DIM) for c in range(p)]
        cat.publish_pass({
            "components": one_slice_df(spark,
                comp_rows, "d int, c int, v double"),
            "offsets": one_slice_df(spark,
                [(c, float(offsets[c])) for c in range(p)],
                "c int, off double"),
            "evals": one_slice_df(spark,
                [(c, float(w[order[c]])) for c in range(p)],
                "c int, lam double")})
    return cat


def pca_project(embeddings: DataFrame, p: int = PCA_P,
                model=None) -> DataFrame:
    """Serve half of the PCA split: project onto the COMMITTED
    component matrix — a map-only (x − μ)·V pass against broadcast
    literal components, no shuffle, no training in the query path.
    ``model`` is the catalog handle from :func:`build_pca_model`
    (reading the bounded D·p artifact back is a ≤512-row collect, the
    same k-row-LUT discipline as the ANN serves).  Rows-only contract
    (the eigendecomposition is not SQL-expressible); orthonormality /
    variance-equals-eigenvalue / determinism pins in
    test_similarity."""
    import numpy as np

    spark = embeddings.sparkSession
    comps = np.zeros((DIM, p))
    for r in model.read(spark, "components").collect():   # ≤ D·p rows
        comps[r.d, r.c] = r.v
    offsets = {r.c: r.off for r in
               model.read(spark, "offsets").collect()}    # ≤ p rows

    def pc(c: int) -> Column:
        vec = F.array(*[F.lit(float(x)) for x in comps[:, c]])
        dot = F.aggregate(
            F.zip_with(F.col("embedding"), vec,
                       lambda x, vv: x.cast("double") * vv),
            F.lit(0.0), lambda acc, x: acc + x)
        return F.round(dot - F.lit(float(offsets[c])), 6) + F.lit(0.0)

    return embeddings.select(
        "vec_id", "label", *[pc(c).alias(f"pc{c}") for c in range(p)])


def pca_project_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pca_project(load_table(spark, sf_dir, "embeddings"),
                       model=build_pca_model(spark, sf_dir))


MAHAL_K = 20  # strongest outliers surfaced


def mahalanobis_topk(embeddings: DataFrame, model, k: int = MAHAL_K,
                     p: int = PCA_P) -> DataFrame:
    """Embedding OUTLIER scoring via the PCA-whitened (rank-``p``
    approximate) Mahalanobis distance — the statistical data-cleaning
    filter over an embedding column: md²(x) = Σ_c ((x−μ)·v_c)²/λ_c
    over the committed model's top components.  Map-only against the
    broadcast literal model + one TakeOrdered heap; serve-shaped like
    `pca_project` (zero training in the query path).  Rows-only
    contract; pinned in test_similarity: corpus MEAN of md² equals p
    EXACTLY in expectation (each whitened component has unit
    variance by construction) and the scores match an independent
    numpy computation."""
    import numpy as np

    spark = embeddings.sparkSession
    comps = np.zeros((DIM, p))
    for r in model.read(spark, "components").collect():
        comps[r.d, r.c] = r.v
    offsets = {r.c: r.off for r in model.read(spark, "offsets").collect()}
    lams = {r.c: max(r.lam, 1e-30) for r in
            model.read(spark, "evals").collect()}

    def term(c: int) -> Column:
        vec = F.array(*[F.lit(float(x)) for x in comps[:, c]])
        dot = F.aggregate(
            F.zip_with(F.col("embedding"), vec,
                       lambda x, vv: x.cast("double") * vv),
            F.lit(0.0), lambda acc, x: acc + x)
        z = dot - F.lit(float(offsets[c]))
        return z * z / F.lit(float(lams[c]))

    md2 = term(0)
    for c in range(1, p):
        md2 = md2 + term(c)
    return (embeddings
            .select("vec_id", "label", F.round(md2, 6).alias("md2"))
            .orderBy(F.col("md2").desc(), "vec_id")
            .limit(k))


def mahalanobis_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mahalanobis_topk(load_table(spark, sf_dir, "embeddings"),
                            model=build_pca_model(spark, sf_dir))


ANN_BATCH_Q = 8  # query-set size for the amortized batch serve


def ann_batch_query_from_index(spark: SparkSession, sf_dir: str,
                               n_queries: int = ANN_BATCH_Q, k: int = 5,
                               nprobe: int = 2,
                               rerank_factor: int = PQ_RERANK
                               ) -> DataFrame:
    """Amortized BATCH serve from the committed index — the real
    serving workload shape: answer ``n_queries`` top-k searches with
    ONE pass over the code columns.  Per query the work is the same
    nprobe-pruned residual ADC, but the corpus-width scan is shared:
    each probed code row fans out only to the queries probing its
    cell (join on the Q·nprobe-row broadcast probe table), LUTs are
    one broadcast keyed (q_id, q_cell, code_j) (Q·nprobe·m·k rows —
    KBs), and both the shortlist and the exact re-rank are per-query
    WindowGroupLimit heaps, never global sorts.  At 100 TB this is
    why vector serving batches queries: scan cost amortizes 1/Q per
    query while broadcast state stays tiny.  Zero Lloyd work —
    aggregate-free plan like the single-query serve (pinned)."""
    cat = build_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return _batch_adc_serve(
        emb,
        cat.read(spark, "centroids"),
        cat.read(spark, "cells"),
        cat.read(spark, "codes"),
        cat.read(spark, "codebook"),
        n_queries, k, nprobe, rerank_factor)


def _batch_adc_serve(emb: DataFrame, cent: DataFrame, cells: DataFrame,
                     codes: DataFrame, book: DataFrame,
                     n_queries: int, k: int, nprobe: int,
                     rerank_factor: int,
                     probe_budget: int | None = None) -> DataFrame:
    """The amortized batch residual-ADC serve kernel, parameterized by
    the four index artifacts — one body for the committed index, the
    appended index, and the rebalanced index, so serve behavior is
    provably shared across maintenance paths.

    ``probe_budget`` switches probing from a fixed CELL count to a
    VECTOR scan budget: cells are taken in query-distance order until
    the cumulative member count reaches the budget (the last admitted
    cell may overshoot).  This is how a serving layer keeps scan cost
    constant when cell sizes change under it — after a rebalance
    splits hot cells, fixed-nprobe would silently scan half the
    vectors and recall would drop for a reason that has nothing to do
    with index quality."""
    from pyspark.sql import Window

    qs = (emb.filter(F.col("vec_id") < n_queries)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_emb")))
    w_probe = Window.partitionBy("q_id").orderBy("qdist", "q_cell")
    ranked = (cent.crossJoin(F.broadcast(qs))
              .select("q_id", F.col("cid").alias("q_cell"),
                      F.round(_l2sq(F.transform("q_emb",
                                                lambda x: x.cast("double")),
                                    F.col("cemb")), 9).alias("qdist")))
    if probe_budget is None:
        probe = (ranked
                 .withColumn("rn", F.row_number().over(w_probe))
                 .filter(F.col("rn") <= nprobe)
                 .select("q_id", "q_cell"))
    else:
        occ = (cells.groupBy("cell")
               .agg(F.count(F.lit(1)).alias("cn")))
        w_prior = (Window.partitionBy("q_id").orderBy("qdist", "q_cell")
                   .rowsBetween(Window.unboundedPreceding, -1))
        probe = (ranked
                 .join(F.broadcast(occ), F.col("q_cell") == F.col("cell"))
                 .withColumn("prior",
                             F.coalesce(F.sum("cn").over(w_prior),
                                        F.lit(0)))
                 .filter(F.col("prior") < probe_budget)
                 .select("q_id", "q_cell"))
    qres = (cent.join(F.broadcast(probe), F.col("cid") == F.col("q_cell"))
            .join(F.broadcast(qs), "q_id")
            .select("q_id", "q_cell",
                    F.zip_with("q_emb", "cemb",
                               lambda x, c: x.cast("double") - c)
                    .alias("embedding")))
    qslices = (qres.select("q_id", "q_cell",
                           F.explode(_pq_subspaces()).alias("s"))
               .select("q_id", "q_cell", "s.j",
                       F.col("s.sub").alias("qe")))
    lut = (book.join(F.broadcast(qslices), "j")
           .select("q_id", "q_cell", "j", "cid",
                   F.round(_l2sq(F.col("qe"), F.col("cemb")), 9).alias("d")))
    approx = (codes.join(cells, "vec_id")
              .join(F.broadcast(probe), F.col("cell") == F.col("q_cell")))
    dist_terms = []
    for j in range(PQ_M):
        lut_j = (lut.filter(F.col("j") == j)
                 .select("q_id", "q_cell", F.col("cid").alias(f"code{j}"),
                         F.col("d").alias(f"d{j}")))
        approx = approx.join(F.broadcast(lut_j),
                             ["q_id", "q_cell", f"code{j}"])
        dist_terms.append(F.col(f"d{j}"))
    total = dist_terms[0]
    for t in dist_terms[1:]:
        total = total + t
    w_short = Window.partitionBy("q_id").orderBy("approx_dist", "vec_id")
    shortlist = (approx.filter(F.col("vec_id") != F.col("q_id"))
                 .select("q_id", "vec_id", "cell",
                         F.round(total, 9).alias("approx_dist"))
                 .withColumn("srn", F.row_number().over(w_short))
                 .filter(F.col("srn") <= rerank_factor * k)
                 .drop("srn"))
    w_rank = Window.partitionBy("q_id").orderBy("exact_dist", "vec_id")
    return (shortlist
            .join(emb.select("vec_id", "embedding"), "vec_id")
            .join(F.broadcast(qs), "q_id")
            .select("q_id", "vec_id", "cell", "approx_dist",
                    F.round(_l2sq(F.col("embedding"), F.col("q_emb")), 9)
                    .alias("exact_dist"))
            .withColumn("rank", F.row_number().over(w_rank).cast("int"))
            .filter(F.col("rank") <= k))


def ann_recall_report(spark: SparkSession, sf_dir: str,
                      n_queries: int = ANN_BATCH_Q, k: int = 5,
                      nprobe: int = 2,
                      rerank_factor: int = PQ_RERANK) -> DataFrame:
    """Index QUALITY MONITOR: per-query recall@k of the committed
    residual-IVFADC index against the exact L2 ground truth, as a
    first-class contract artifact — the evaluation job a serving
    stack runs per index rebuild to decide whether nprobe (or a
    retrain) is due.  The approximate side is the amortized batch
    serve; the exact side ranks the probe set against the full corpus
    (the audit cost — at 100 TB it runs on a sampled probe set, which
    is exactly what ``n_queries`` models).  Integer hit counts divide
    once at the end, so both engines agree bit-exactly."""
    approx = (ann_batch_query_from_index(spark, sf_dir, n_queries, k,
                                         nprobe, rerank_factor)
              .select("q_id", "vec_id"))
    emb = load_table(spark, sf_dir, "embeddings")
    return _recall_vs_exact(emb, approx, n_queries, k)


def _recall_vs_exact(emb: DataFrame, approx: DataFrame,
                     n_queries: int, k: int) -> DataFrame:
    """Per-query recall@k of an approximate (q_id, vec_id) result set
    against the exact L2 ground truth — shared by the committed-index
    recall report and the rebalance before/after comparison."""
    from pyspark.sql import Window

    qs = (emb.filter(F.col("vec_id") < n_queries)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_emb")))
    scored = (emb.select("vec_id", "embedding")
              .crossJoin(F.broadcast(qs))
              .filter(F.col("vec_id") != F.col("q_id"))
              .select("q_id", "vec_id",
                      F.round(_l2sq(F.col("embedding"), F.col("q_emb")), 9)
                      .alias("d")))
    w = Window.partitionBy("q_id").orderBy("d", "vec_id")
    exact = (scored.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= k).select("q_id", "vec_id"))
    hits = (approx.join(exact, ["q_id", "vec_id"])
            .groupBy("q_id").agg(F.count(F.lit(1)).alias("n")))
    return (qs.select("q_id").join(hits, "q_id", "left")
            .select("q_id",
                    F.coalesce("n", F.lit(0)).cast("bigint")
                    .alias("n_hits"),
                    F.round(F.coalesce("n", F.lit(0)).cast("double")
                            / F.lit(float(k)), 6).alias("recall")))


def _ann_recall_oracle_sql(n_queries: int = ANN_BATCH_Q, k: int = 5,
                           nprobe: int = 2,
                           rerank_factor: int = PQ_RERANK) -> str:
    return f"""
    WITH approx AS (
      SELECT q_id, vec_id FROM (
        {_ann_batch_oracle_sql(n_queries, k, nprobe, rerank_factor)})),
    qset AS (SELECT vec_id AS q_id, embedding AS q_emb
             FROM embeddings WHERE vec_id < {n_queries}),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {_L2_SQL.format(e='e.embedding', c='q.q_emb')},
                          e.vec_id) AS rn
        FROM embeddings e, qset q
        WHERE e.vec_id <> q.q_id) WHERE rn <= {k}),
    hits AS (
      SELECT a.q_id, COUNT(*) AS n
      FROM approx a JOIN exact x
        ON a.q_id = x.q_id AND a.vec_id = x.vec_id
      GROUP BY a.q_id)
    SELECT q.q_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
           ROUND(CAST(COALESCE(h.n, 0) AS DOUBLE) / {k}, 6) AS recall
    FROM (SELECT q_id FROM qset) q
    LEFT JOIN hits h USING (q_id)
    """


#: The appended-index base/batch split is DERIVED: base = the first
#: ceil(4n/5) vec_ids, batch = the last ~20%.  A fixed split is the
#: same scale trap as a fixed K one level up (VERDICT r12 item 1,
#: measured here too: with base pinned at 400 the sf1 corpus trains
#: an 8-cell quantizer for 20000 vectors and q_bitext_append sloped
#: 11.5; the derived split keeps base — and with it the derived K —
#: tracking the corpus, slope back under 2).  Integer arithmetic
#: (ceil(4n/5) = -((-4n)//5)) so both engines agree exactly — 0.8·n
#: in doubles rounds differently across engines.
ANN_APPEND_SPLIT = 400  # the derived split at the 500-vector gate
#                         fixtures (pinned in test_similarity; base
#                         must cover the PQ_K·stride seeds)

#: Keyed like _DERIVED_K_CACHE: (sf_dir, corpus token) — an in-place
#: corpus change re-derives the split (VERDICT r13 What's-missing 2).
_APPEND_SPLIT_CACHE: dict[tuple, int] = {}


def _append_split_for(spark: SparkSession, sf_dir: str) -> int:
    key = (sf_dir, _corpus_token(sf_dir))
    if key not in _APPEND_SPLIT_CACHE:
        n = load_table(spark, sf_dir, "embeddings").count()
        _APPEND_SPLIT_CACHE[key] = -((-4 * n) // 5)
    return _APPEND_SPLIT_CACHE[key]


#: Oracle twin of `_append_split_for` — same integer ceil(4n/5).
_APPEND_SPLIT_SQL = \
    "(SELECT CAST(-((-4 * COUNT(*)) // 5) AS BIGINT) FROM embeddings)"


def build_ann_index_appended(spark: SparkSession, sf_dir: str,
                             split: int | None = None):
    """Incremental index maintenance — the FAISS ``add()`` story on
    top of the build/serve split: version 1 trains the residual-IVFADC
    index on the BASE corpus (``vec_id < split``) and publishes all
    four artifacts; version 2 encodes the NEW vectors with the FROZEN
    base-trained quantizers (one nearest-centroid assignment + one
    nearest-code assignment — no Lloyd iterations) and appends their
    cells+codes rows in ONE atomic multi-table catalog pass
    (``publish_pass`` merges per-table file lists, so both tables
    grow in the same commit; centroids/codebook carry over
    untouched).  Version 1 remains time-travelable as the pre-append
    index.  At 100 TB this is the daily-ingest shape: encoding cost
    scales with |batch|, the index is rebuilt (retrained) only when
    drift warrants it.  Both stages are version-guarded, so crashed
    or repeated builds resume idempotently."""
    import os

    from ..sinks.manifest import ManifestCatalog
    from .pipeline import _work_dir

    derived = _append_split_for(spark, sf_dir)
    if split is None:
        split = derived
    # mirror build_ann_index's keying (ADVICE r13): an explicit
    # non-default split gets its OWN catalog — two calls with
    # different splits in one process must never serve each other's
    # artifacts
    op = ("ann_index_append" if split == derived
          else f"ann_index_append_s{split}")
    cat = ManifestCatalog(os.path.join(_work_dir(op, sf_dir), "cat"))
    emb = load_table(spark, sf_dir, "embeddings")
    if cat.current_version() < 1:
        base = emb.filter(F.col("vec_id") < split)
        cent = kmeans_centroids(base)
        cells, res = _cells_and_residuals(base, cent)
        codes, book = pq_codes(res, seed_stride=RES_SEED_STRIDE)
        cat.publish_pass({"centroids": cent, "cells": cells,
                          "codes": codes, "codebook": book})
    if cat.current_version() < 2:
        cent = cat.read(spark, "centroids")
        book = cat.read(spark, "codebook")
        new = emb.filter(F.col("vec_id") >= split)
        ncells, nres = _cells_and_residuals(new, cent)
        ncodes = _codes_np(nres, book)
        cat.publish_pass({"cells": ncells, "codes": ncodes})
    return cat


def ann_query_from_appended_index(spark: SparkSession, sf_dir: str,
                                  query_vec_id: int = 0, k: int = 5,
                                  nprobe: int = 2,
                                  rerank_factor: int = PQ_RERANK
                                  ) -> DataFrame:
    """Serve from the APPENDED index head: the same aggregate-free
    serve kernel, now answering over base ∪ appended vectors whose
    codes came from two different encode passes — the oracle retrains
    on base and encodes everything from scratch, so a hash match
    proves frozen-quantizer append encoding equals it exactly."""
    cat = build_ann_index_appended(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return _residual_adc_serve(
        emb,
        cat.read(spark, "centroids"),
        cat.read(spark, "cells"),
        cat.read(spark, "codes"),
        cat.read(spark, "codebook"),
        query_vec_id, k, nprobe, rerank_factor)


IVF_SPLIT_PCT = 103  # split when n·K·100 > SPLIT_PCT·total (3% over mean)
IVF_MERGE_PCT = 97   # merge when n·K·100 < MERGE_PCT·total (3% under mean)
IVF_SPLIT_ITERS = 2  # local 2-means refinement rounds per hot cell


def rebalance_ann_index(spark: SparkSession, sf_dir: str,
                        split_pct: int = IVF_SPLIT_PCT,
                        merge_pct: int = IVF_MERGE_PCT,
                        iters: int = IVF_SPLIT_ITERS):
    """IVF cell rebalancing — acting on the signals `q_ivf_postings`
    (occupancy) and `q_ann_recall_report` (recall) emit (VERDICT r7
    item 4): SPLIT every cell above the occupancy bound via a local
    2-means on that cell's members only, MERGE every starved cell's
    members into their nearest surviving centroid, re-encode ONLY the
    moved vectors with the FROZEN PQ codebook, and publish the result
    as a new atomic version.

    Thresholds are exact-integer relative bounds (``n·K·100 ≷
    pct·total`` — no float mean, so Spark and the oracle classify
    identically).  The 103/97 defaults are tuned so the synthetic
    near-uniform test corpus exercises BOTH paths at every test
    scale; a production deployment sets the production values (e.g.
    200/25) — the machinery is threshold-independent.

    Publish mechanics (the at-scale story): version 1 is a SHALLOW
    CLONE of the live committed index (zero copy — the manifest
    references the source files); version 2 writes ``centroids``
    with replace semantics (K±few rows, tiny at any scale) plus
    ``cells_delta`` / ``codes_delta`` holding ONLY the moved vectors
    — merge-on-read overlay resolution at serve (`_rebal_artifacts`),
    the deletion-vector shape, so rebalance write cost is
    ∝ |moved| + K, never corpus size.  Untouched cells' rows ride the
    SAME immutable files as version 1 (byte-identical by
    construction; pinned file-level in test_similarity).

    Determinism: 2-means seeds per hot cell are the min-vec_id member
    and the member farthest from it (tie → lowest vec_id); fixed
    ``iters`` rounds; decimal-exact means; all distances rounded to
    9 dp with (dist, id) tie-breaks — the house Lloyd discipline, so
    the unrolled SQL oracle reproduces the assignment bit-for-bit.

    At 100 TB: the per-cell 2-means touches one cell's members (the
    hot cells train in PARALLEL as one grouped plan, not a driver
    loop); re-encode is a frozen nearest-code assignment over moved
    rows only; the occupancy collect is ≤K rows.  This is FAISS's
    add-with-split / IVF re-list maintenance re-expressed as a
    catalog transaction."""
    import os

    from ..sinks.manifest import ManifestCatalog
    from .pipeline import _work_dir

    base = build_ann_index(spark, sf_dir)
    cat = ManifestCatalog(os.path.join(
        _work_dir(f"ann_index_rebal_{split_pct}_{merge_pct}", sf_dir),
        "cat"))
    if cat.current_version() < 1:
        cat.clone_pass(base)
    if cat.current_version() < 2:
        _rebalance_pass(spark, load_table(spark, sf_dir, "embeddings"),
                        cat, split_pct, merge_pct, iters)
    return cat


def _rebalance_pass(spark: SparkSession, emb: DataFrame, cat,
                    split_pct: int, merge_pct: int,
                    iters: int = IVF_SPLIT_ITERS) -> None:
    """The split/merge/re-encode pass over a catalog whose version 1
    holds the four index artifacts — factored from
    :func:`rebalance_ann_index` so tests can drive it with a SKEWED
    fixture corpus (the production case where splitting is warranted;
    the near-uniform contract corpus demos the machinery but is
    recall-negative by construction — see the recall pins in
    test_similarity)."""
    from pyspark.sql import Window

    cent = cat.read(spark, "centroids", version=1)
    cells = cat.read(spark, "cells", version=1)
    book = cat.read(spark, "codebook", version=1)

    occ = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    rows = occ.collect()                       # ≤ K rows (bounded)
    total = sum(r.n for r in rows)
    kc = len(rows)
    hot_ids = sorted(r.cell for r in rows
                     if r.n * kc * 100 > split_pct * total)
    cold_ids = sorted(r.cell for r in rows
                      if r.n * kc * 100 < merge_pct * total)
    base_cid = cent.agg(F.max("cid")).first()[0] + 1  # 1 row

    # ---- SPLIT: parallel per-cell 2-means over hot members ----
    members = (cells.filter(F.col("cell").isin(hot_ids))
               .join(emb.select("vec_id", "embedding"), "vec_id")
               .select("cell", "vec_id",
                       F.transform("embedding",
                                   lambda x: x.cast("double"))
                       .alias("emb"))
               .localCheckpoint(eager=True))   # feeds every round
    s0 = (members.groupBy("cell").agg(F.min("vec_id").alias("v"))
          .join(members, ["cell"])
          .filter(F.col("vec_id") == F.col("v"))
          .select("cell", F.col("emb").alias("semb")))
    w_far = Window.partitionBy("cell").orderBy(F.col("d").desc(),
                                               "vec_id")
    s1 = (members.join(F.broadcast(s0), "cell")
          .select("cell", "vec_id", "emb",
                  F.round(_l2sq(F.col("emb"), F.col("semb")), 9)
                  .alias("d"))
          .withColumn("rn", F.row_number().over(w_far))
          .filter(F.col("rn") == 1)
          .select("cell", F.col("emb").alias("semb")))
    subcent = (s0.select("cell", F.lit(0).alias("sub"),
                         F.col("semb").alias("cemb"))
               .unionByName(s1.select("cell", F.lit(1).alias("sub"),
                                      F.col("semb").alias("cemb"))))

    def _sub_assign(sc: DataFrame) -> DataFrame:
        d = (members.join(F.broadcast(sc), "cell")
             .select("cell", "vec_id", "sub",
                     F.round(_l2sq(F.col("emb"), F.col("cemb")), 9)
                     .alias("d")))
        return (d.groupBy("cell", "vec_id")
                .agg(F.min(F.struct("d", "sub")).alias("m"))
                .select("cell", "vec_id", F.col("m.sub").alias("sub")))

    for _ in range(iters):
        assign = _sub_assign(subcent)
        means = (members.join(assign, ["cell", "vec_id"])
                 .select("cell", "sub",
                         F.posexplode("emb").alias("pos", "val"))
                 .groupBy("cell", "sub", "pos")
                 .agg((F.sum(F.col("val").cast("decimal(30,10)"))
                       .cast("double") / F.count(F.lit(1))).alias("m")))
        subcent = (means.groupBy("cell", "sub")
                   .agg(F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("pos", "m"))),
                       lambda s: s.m).alias("cemb"))
                   .localCheckpoint(eager=True))
    final = _sub_assign(subcent)
    child_map = one_slice_df(spark,
        [(c, s, base_cid + 2 * i + s)
         for i, c in enumerate(hot_ids) for s in (0, 1)],
        "cell int, sub int, new_cid int")
    split_cells = (final.join(F.broadcast(child_map), ["cell", "sub"])
                   .select("vec_id", F.col("new_cid").alias("cell")))
    child_cent = (subcent.join(F.broadcast(child_map), ["cell", "sub"])
                  .select(F.col("new_cid").alias("cid"), "cemb"))

    # ---- MERGE: starved members to nearest surviving centroid --
    surv = (cent.filter(~F.col("cid").isin(hot_ids + cold_ids))
            .select("cid", "cemb")
            .unionByName(child_cent)
            .localCheckpoint(eager=True))      # K±few rows
    cold_members = (cells.filter(F.col("cell").isin(cold_ids))
                    .join(emb.select("vec_id", "embedding"), "vec_id")
                    .select("vec_id",
                            F.transform("embedding",
                                        lambda x: x.cast("double"))
                            .alias("emb")))
    merged_cells = (cold_members.crossJoin(F.broadcast(surv))
                    .select("vec_id", "cid",
                            F.round(_l2sq(F.col("emb"), F.col("cemb")),
                                    9).alias("d"))
                    .groupBy("vec_id")
                    .agg(F.min(F.struct("d", "cid")).alias("m"))
                    .select("vec_id", F.col("m.cid").alias("cell")))

    # ---- RE-ENCODE moved vectors with the frozen codebook ------
    moved = (split_cells.unionByName(merged_cells)
             .select("vec_id", F.col("cell").cast("int").alias("cell"))
             .localCheckpoint(eager=True))
    res = (moved.join(emb.select("vec_id", "embedding"), "vec_id")
           .join(F.broadcast(surv), F.col("cell") == F.col("cid"))
           .select("vec_id",
                   F.zip_with("embedding", "cemb",
                              lambda x, c: x.cast("double") - c)
                   .alias("embedding")))
    codes_delta = _codes_np(res, book)
    cat.publish_pass({"centroids": surv, "cells_delta": moved,
                      "codes_delta": codes_delta},
                     replace={"centroids"})


def _rebal_artifacts(spark: SparkSession, cat):
    """Merge-on-read resolution of the rebalanced index head: moved
    vectors read from the delta tables, untouched vectors from the
    version-1 base files (which the head still references — the
    overlay never rewrites them)."""
    cells_delta = cat.read(spark, "cells_delta")
    codes_delta = cat.read(spark, "codes_delta")
    moved_ids = cells_delta.select("vec_id")
    cells = (cat.read(spark, "cells", version=1)
             .join(moved_ids, "vec_id", "left_anti")
             .unionByName(cells_delta))
    codes = (cat.read(spark, "codes", version=1)
             .join(moved_ids, "vec_id", "left_anti")
             .unionByName(codes_delta))
    return (cat.read(spark, "centroids"), cells, codes,
            cat.read(spark, "codebook"))


def ann_batch_query_from_rebalanced_index(
        spark: SparkSession, sf_dir: str, n_queries: int = ANN_BATCH_Q,
        k: int = 5, nprobe: int = 2,
        rerank_factor: int = PQ_RERANK) -> DataFrame:
    """Batch serve over the REBALANCED index via merge-on-read overlay
    resolution — the same `_batch_adc_serve` kernel as the committed
    and appended indexes, probing by VECTOR BUDGET: the budget is the
    pre-rebalance serve's expected scan (nprobe · mean pre cell
    size), so the recall non-degradation pin in test_similarity
    compares equal scanned-vector cost — the comparison a serving
    layer actually cares about (post-split cells are smaller, so
    fixed-nprobe would scan less and conflate scan budget with index
    quality)."""
    import math

    cat = rebalance_ann_index(spark, sf_dir)
    cent, cells, codes, book = _rebal_artifacts(spark, cat)
    pre_cells = cat.read(spark, "cells", version=1)
    n_total = pre_cells.count()                    # 1-row aggregates
    k_pre = cat.read(spark, "centroids", version=1).count()
    budget = nprobe * math.ceil(n_total / k_pre)
    emb = load_table(spark, sf_dir, "embeddings")
    return _batch_adc_serve(emb, cent, cells, codes, book,
                            n_queries, k, nprobe, rerank_factor,
                            probe_budget=budget)


def ivf_rebalance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract query over the REBALANCED index: post-rebalance
    occupancy per cell with each cell's provenance (``kept`` = a
    surviving original cell, possibly a merge target; ``split_child``
    = a fresh cell minted by a split).  Read back THROUGH the
    catalog's overlay resolution, so the oracle — which replays base
    Lloyd training, threshold classification, the per-hot-cell
    2-means, and the merge reassignment in unrolled SQL — only
    hash-matches if the committed delta artifacts equal the
    from-scratch rebalance bit-for-bit."""
    cat = rebalance_ann_index(spark, sf_dir)
    _, cells, _, _ = _rebal_artifacts(spark, cat)
    base_cid = (cat.read(spark, "centroids", version=1)
                .agg(F.max("cid")).first()[0] + 1)
    return (cells.groupBy("cell")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
            .select(F.col("cell").cast("int").alias("cell"), "n_vecs",
                    F.when(F.col("cell") >= base_cid,
                           F.lit("split_child"))
                    .otherwise(F.lit("kept")).alias("status"))
            .orderBy("cell"))


def _ivf_rebalance_oracle_sql(split_pct: int = IVF_SPLIT_PCT,
                              merge_pct: int = IVF_MERGE_PCT,
                              iters: int = IVF_SPLIT_ITERS) -> str:
    """The full rebalance replayed in DuckDB: base coarse Lloyd chain
    (c_), exact-integer threshold classification, per-hot-cell 2-means
    unrolled (seeds = min-vec_id member + farthest member), merge
    reassignment to surviving centroids, post occupancy + provenance.
    CTEs referenced per iteration are MATERIALIZED (default inlining
    re-instantiates the training chain combinatorially)."""
    parts = [f"""occ AS MATERIALIZED (
      SELECT cell, COUNT(*) AS n FROM c_cells GROUP BY cell),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS kc FROM occ),
    hot AS MATERIALIZED (
      SELECT cell FROM occ, tot
      WHERE n * kc * 100 > {split_pct} * total),
    cold AS MATERIALIZED (
      SELECT cell FROM occ, tot
      WHERE n * kc * 100 < {merge_pct} * total),
    basecid AS (SELECT MAX(cid) + 1 AS b FROM c_cent{IVF_ITERS}),
    members AS MATERIALIZED (
      SELECT c.cell, e.vec_id,
             list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM c_cells c JOIN embeddings e USING (vec_id)
      WHERE c.cell IN (SELECT cell FROM hot)),
    s0 AS MATERIALIZED (
      SELECT m.cell, m.emb AS semb FROM members m
      JOIN (SELECT cell, MIN(vec_id) AS v FROM members GROUP BY cell) t
        ON m.cell = t.cell AND m.vec_id = t.v),
    s1 AS MATERIALIZED (
      SELECT cell, emb AS semb FROM (
        SELECT m.cell, m.vec_id, m.emb,
               ROW_NUMBER() OVER (PARTITION BY m.cell
                 ORDER BY {_L2_SQL.format(e='(m.emb)', c='s.semb')} DESC,
                          m.vec_id) AS rn
        FROM members m JOIN s0 s ON m.cell = s.cell) WHERE rn = 1),
    subcent0 AS MATERIALIZED (
      SELECT cell, 0 AS sub, semb AS cemb FROM s0
      UNION ALL SELECT cell, 1, semb FROM s1)"""]
    for i in range(1, iters + 1):
        parts.append(f"""sassign{i} AS MATERIALIZED (
      SELECT cell, vec_id, sub FROM (
        SELECT m.cell, m.vec_id, c.sub,
               ROW_NUMBER() OVER (PARTITION BY m.cell, m.vec_id
                 ORDER BY {_L2_SQL.format(e='(m.emb)', c='c.cemb')},
                          c.sub) AS rn
        FROM members m JOIN subcent{i - 1} c ON m.cell = c.cell)
      WHERE rn = 1),
    subcent{i} AS MATERIALIZED (
      SELECT cell, sub, list(mn ORDER BY d) AS cemb FROM (
        SELECT a.cell, a.sub, d.d,
               CAST(SUM(CAST(m.emb[d.d + 1] AS DECIMAL(30,10)))
                    AS DOUBLE) / COUNT(*) AS mn
        FROM members m
        JOIN sassign{i} a ON m.cell = a.cell AND m.vec_id = a.vec_id,
             (SELECT unnest(range({DIM})) AS d) d
        GROUP BY a.cell, a.sub, d.d) GROUP BY cell, sub)""")
    parts.append(f"""sfinal AS MATERIALIZED (
      SELECT cell, vec_id, sub FROM (
        SELECT m.cell, m.vec_id, c.sub,
               ROW_NUMBER() OVER (PARTITION BY m.cell, m.vec_id
                 ORDER BY {_L2_SQL.format(e='(m.emb)', c='c.cemb')},
                          c.sub) AS rn
        FROM members m JOIN subcent{iters} c ON m.cell = c.cell)
      WHERE rn = 1),
    childmap AS MATERIALIZED (
      SELECT h.cell, s.sub,
             (SELECT b FROM basecid)
               + 2 * (DENSE_RANK() OVER (ORDER BY h.cell) - 1) + s.sub
               AS new_cid
      FROM hot h, (SELECT 0 AS sub UNION ALL SELECT 1) s),
    surv AS MATERIALIZED (
      SELECT cid, cemb FROM c_cent{IVF_ITERS}
      WHERE cid NOT IN (SELECT cell FROM hot)
        AND cid NOT IN (SELECT cell FROM cold)
      UNION ALL
      SELECT cm.new_cid AS cid, sc.cemb
      FROM subcent{iters} sc
      JOIN childmap cm ON sc.cell = cm.cell AND sc.sub = cm.sub),
    coldm AS MATERIALIZED (
      SELECT e.vec_id,
             list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM c_cells c JOIN embeddings e USING (vec_id)
      WHERE c.cell IN (SELECT cell FROM cold)),
    massign AS MATERIALIZED (
      SELECT vec_id, cid AS cell FROM (
        SELECT cm.vec_id, s.cid,
               ROW_NUMBER() OVER (PARTITION BY cm.vec_id
                 ORDER BY {_L2_SQL.format(e='(cm.emb)', c='s.cemb')},
                          s.cid) AS rn
        FROM coldm cm, surv s) WHERE rn = 1),
    post AS MATERIALIZED (
      SELECT vec_id, cell FROM c_cells
      WHERE cell NOT IN (SELECT cell FROM hot)
        AND cell NOT IN (SELECT cell FROM cold)
      UNION ALL
      SELECT f.vec_id, cm.new_cid AS cell
      FROM sfinal f JOIN childmap cm ON f.cell = cm.cell AND f.sub = cm.sub
      UNION ALL SELECT vec_id, cell FROM massign)""")
    return f"""
    WITH {_kmeans_cells_sql(IVF_ITERS, _derived_k_sql(), DIM, prefix="c_")},
    {",".join(parts)}
    SELECT CAST(cell AS INT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CASE WHEN cell >= (SELECT b FROM basecid)
                THEN 'split_child' ELSE 'kept' END AS status
    FROM post GROUP BY cell ORDER BY cell
    """


KNN_K = 5          # neighbors per node
KNN_MIN_COS = 0.2  # edge admission threshold (the ANN-surface setting)


def knn_graph(embeddings: DataFrame, k: int = KNN_K,
              min_cosine: float = KNN_MIN_COS) -> DataFrame:
    """k-nearest-neighbor graph over the banded-LSH candidate pairs:
    symmetrize the verified pairs (each undirected edge feeds both
    endpoints) and keep each node's top-``k`` by exact cosine — the
    standard preprocessing artifact for graph-based diversity
    sampling, label propagation, and kNN classifiers.

    Approximation contract is inherited from the candidate stage
    (banded sign-LSH recall, see `dedup_embedding_pairs`); within the
    candidates the per-node ranking is exact.  Shape: the pair kernel's
    equi-joins + a rank-limit window that rewrites to WindowGroupLimit
    (map-side partial top-k heaps — a high-degree hub never forces a
    full per-node sort, same property pinned for q_source_cap)."""
    from pyspark.sql import Window

    pairs = dedup_embedding_pairs(embeddings, min_cosine=min_cosine)
    sym = (pairs.select(F.col("vec_a").alias("src"),
                        F.col("vec_b").alias("dst"), "cosine_sim")
           .unionByName(
               pairs.select(F.col("vec_b").alias("src"),
                            F.col("vec_a").alias("dst"), "cosine_sim")))
    w = Window.partitionBy("src").orderBy(F.col("cosine_sim").desc(), "dst")
    return (sym.select("src", "dst", "cosine_sim",
                       F.row_number().over(w).cast("int").alias("rank"))
            .filter(F.col("rank") <= k))


JACC_TOP = 50  # strongest link-prediction pairs to surface


def graph_jaccard(embeddings: DataFrame, min_cosine: float = KNN_MIN_COS,
                  top: int = JACC_TOP) -> DataFrame:
    """Neighborhood-Jaccard link prediction over the banded-LSH
    near-dup graph: for node pairs sharing ≥1 neighbor, score
    |N(a)∩N(b)| / |N(a)∪N(b)| — the classic structural-similarity
    signal (two docs whose near-dup neighborhoods overlap belong to
    the same template family even if they never collided directly).

    Shape: the same compact wedge equi-join as `q_triangles`
    (sym(a→x) ⋈ sym(b→x) on x, a<b) + two broadcastable degree
    aggregates; integer counts make the ratio engine-exact.  Cost is
    Σ_x deg(x)² — bounded because the candidate stage caps degrees,
    the same property that bounds the triangle count."""
    # Three consumers (degree agg + both wedge sides) with different
    # column pruning — their subtrees diverge, so exchange reuse can't
    # dedupe them and the pair kernel would run 3×.  The verified pair
    # set is tiny next to the corpus; materialize it once
    # (localCheckpoint measured 4.1s → 3.4s at sf0.1).
    pairs = (dedup_embedding_pairs(embeddings, min_cosine=min_cosine)
             .localCheckpoint(eager=True))
    sym = (pairs.select(F.col("vec_a").alias("src"),
                        F.col("vec_b").alias("dst"))
           .unionByName(pairs.select(F.col("vec_b").alias("src"),
                                     F.col("vec_a").alias("dst"))))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e1, e2 = sym.alias("e1"), sym.alias("e2")
    common = (e1.join(e2, (F.col("e1.dst") == F.col("e2.dst"))
                      & (F.col("e1.src") < F.col("e2.src")))
              .groupBy(F.col("e1.src").alias("vec_a"),
                       F.col("e2.src").alias("vec_b"))
              .agg(F.count(F.lit(1)).alias("n_common")))
    da = deg.select(F.col("src").alias("vec_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("vec_b"), F.col("deg").alias("deg_b"))
    union_sz = F.col("deg_a") + F.col("deg_b") - F.col("n_common")
    return (common.join(F.broadcast(da), "vec_a")
            .join(F.broadcast(db), "vec_b")
            .select("vec_a", "vec_b", "n_common", "deg_a", "deg_b",
                    F.round(F.col("n_common").cast("double") / union_sz, 6)
                    .alias("jaccard"))
            .orderBy(F.col("jaccard").desc(), "vec_a", "vec_b")
            .limit(top))


NEG_K = 4          # negatives per anchor
NEG_OVERSAMPLE = 3  # candidate draws per kept negative
NEG_SEED = "neg1"


def negative_pairs(embeddings: DataFrame, k: int = NEG_K,
                   oversample: int = NEG_OVERSAMPLE,
                   seed: str = NEG_SEED) -> DataFrame:
    """Deterministic negative mining for contrastive training: per
    anchor, ``k`` pseudo-random non-neighbor vectors — candidates
    drawn by salted md5 (reproducible across engines, reruns, and
    repartitioning, like every sampler here), EXCLUDING the anchor
    itself and anything the banded-LSH near-dup surface flags as a
    neighbor (the false-negative filter — without it ~cos≥0.2 pairs
    leak into the negatives and poison the loss).

    Shape: map-only candidate generation (explode of k·oversample
    draws; the id-space modulus comes from ONE broadcast 1-row
    aggregate), an equi-join against ids to keep only existing
    vectors, one anti-join against the symmetrized near-pair set, and
    a WindowGroupLimit rank to the first ``k`` surviving draws.
    Cost scales as n·k·oversample rows of 3 ints — the vectors are
    never read except inside the reused near-pair kernel."""
    from pyspark.sql import Window

    bounds = embeddings.agg(F.max("vec_id").alias("max_id"))
    h = F.conv(F.substring(
        F.md5(F.concat_ws(":", F.lit(seed),
                          F.col("vec_id").cast("string"),
                          F.col("i").cast("string"))), 1, 8), 16, 10)
    cands = (embeddings.select("vec_id")
             .crossJoin(F.broadcast(bounds))
             .select("vec_id", "max_id",
                     F.explode(F.sequence(
                         F.lit(1), F.lit(k * oversample))).alias("i"))
             .select("vec_id", "i",
                     (h.cast("bigint") % (F.col("max_id") + 1))
                     .alias("neg_id"))
             .filter(F.col("neg_id") != F.col("vec_id")))
    existing = embeddings.select(F.col("vec_id").alias("neg_id")).distinct()
    cands = cands.join(existing, "neg_id")
    pairs = dedup_embedding_pairs(embeddings, min_cosine=KNN_MIN_COS)
    near = (pairs.select(F.col("vec_a").alias("vec_id"),
                         F.col("vec_b").alias("neg_id"))
            .unionByName(pairs.select(F.col("vec_b").alias("vec_id"),
                                      F.col("vec_a").alias("neg_id"))))
    survivors = (cands.join(near, ["vec_id", "neg_id"], "left_anti")
                 .groupBy("vec_id", "neg_id")
                 .agg(F.min("i").alias("i")))
    w = Window.partitionBy("vec_id").orderBy("i", "neg_id")
    return (survivors
            .select("vec_id", "neg_id", "i",
                    F.row_number().over(w).cast("int").alias("rank"))
            .filter(F.col("rank") <= k)
            .select("vec_id", "neg_id", F.col("i").cast("int").alias("draw"),
                    "rank"))


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant


def _rrf_fuse(left_ranked: DataFrame, right_ranked: DataFrame,
              left_rank: str, right_rank: str,
              k: int, rrf_k: int) -> DataFrame:
    """The one fusion definition both hybrid queries share: full-outer
    join two (id, rank) lists and score Σ 1/(rrf_k + rank), a missing
    list contributing 0 — two IEEE divisions added in fixed written
    order, identical in both engines."""
    fused = left_ranked.join(right_ranked, "id", "full_outer")
    rrf = (F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col(left_rank)),
                      F.lit(0.0))
           + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col(right_rank)),
                        F.lit(0.0)))
    return (fused.select("id", left_rank, right_rank,
                         F.round(rrf, 6).alias("rrf"))
            .orderBy(F.col("rrf").desc(), "id").limit(k))


def rrf_fusion(documents: DataFrame, embeddings: DataFrame,
               k: int = 10, rrf_k: int = RRF_K) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 lexical top-15 (text.bm25_topk
    over documents) with the cosine top-10 (topk_cosine over the
    id-aligned embeddings) by Reciprocal Rank Fusion —
    Σ_lists 1/(rrf_k + rank), the score-free fusion that needs no
    cross-encoder calibration between lexical and vector scores.

    Ranks are positions in each contract list (dense, deterministic
    tie-breaks inherited from the underlying queries); a doc present
    in only one list contributes that term alone (full outer join).
    The rank windows order ≤15 rows each — bounded by the candidate
    list sizes, not the corpus, so the unpartitioned window is safe at
    any scale.  Determinism: ranks are exact ints; the fused score is
    two IEEE divisions added in fixed written order, identical in both
    engines."""
    from pyspark.sql import Window

    from .text import bm25_topk

    bm = bm25_topk(documents)
    wb = Window.orderBy(F.col("bm25").desc(), "doc_id")
    bm_r = bm.select(F.col("doc_id").alias("id"),
                     F.row_number().over(wb).cast("int").alias("bm25_rank"))
    cos = topk_cosine(embeddings)
    wc = Window.orderBy(F.col("cosine_sim").desc(), "vec_id")
    cos_r = cos.select(F.col("vec_id").alias("id"),
                       F.row_number().over(wc).cast("int").alias("cos_rank"))
    return _rrf_fuse(bm_r, cos_r, "bm25_rank", "cos_rank", k, rrf_k)


def hybrid_from_index(spark: SparkSession, sf_dir: str,
                      k: int = 10, rrf_k: int = RRF_K) -> DataFrame:
    """Serve-split HYBRID retrieval — the production RAG serving
    query, composing two committed indexes in one plan: lexical
    candidates from the inverted-index serve (`bm25_from_index`,
    corpus text never read) and vector candidates from the
    residual-IVFADC serve (`ann_query_from_index`, zero Lloyd
    iterations), fused by Reciprocal Rank Fusion exactly as the
    in-query `rrf_fusion`.  Training lives entirely in the two
    build-once artifacts; every per-query cost is a pruned artifact
    scan + bounded windows over ≤15/≤5 candidate rows — the
    query-node work of a deployed hybrid retriever, at any corpus
    size.  The oracle recomputes BOTH legs from raw data (q_bm25's
    corpus scoring + the full retrained residual-IVFADC chain) and
    fuses identically, so the hash gate proves index-serving hybrid ≡
    from-scratch hybrid end to end."""
    from pyspark.sql import Window

    from .text import bm25_from_index

    bm = bm25_from_index(spark, sf_dir)          # (doc_id, bm25), ≤15
    vec = ann_query_from_index(spark, sf_dir)    # (…, exact_dist), ≤5
    wb = Window.orderBy(F.col("bm25").desc(), "doc_id")
    bm_r = bm.select(F.col("doc_id").alias("id"),
                     F.row_number().over(wb).cast("int")
                     .alias("bm25_rank"))
    wv = Window.orderBy("exact_dist", "vec_id")
    vec_r = vec.select(F.col("vec_id").alias("id"),
                       F.row_number().over(wv).cast("int")
                       .alias("vec_rank"))
    return _rrf_fuse(bm_r, vec_r, "bm25_rank", "vec_rank", k, rrf_k)


SEMANTIC_COS = 0.4  # intra-cluster near-duplicate threshold
SEM_PLANES = 32     # within-cell pre-filter signature width ...
SEM_BANDS = 8       # ... in 8 bands of 4 bits (see _semantic_pairs)


def semantic_dedup(embeddings: DataFrame,
                   min_cosine: float = SEMANTIC_COS,
                   n_centroids: int | None = None,
                   iters: int = IVF_ITERS) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: k-means-cluster the
    embedding space (reusing the deterministic Lloyd quantizer), then
    compare ONLY within each cluster and drop every vector that has a
    lower-id neighbor above the cosine threshold.

    This is the published semantic-dedup recipe for web-scale corpora:
    clustering bounds the pair search to the cell (with K derived
    from corpus size, per-cell occupancy — and so pair volume per
    vector — stays CONSTANT as the corpus grows), and since r13 a
    within-cell banded sign-LSH pre-filter bounds it further to
    band-bucket collisions before any cosine folds (`_semantic_pairs`
    — VERDICT r12 item 3).  The deterministic lowest-id-wins keeper
    rule replaces the paper's arbitrary-order greedy scan so both
    engines agree exactly.  A vector whose nearest semantic twin
    lands in another cell (or shares no LSH band) is missed — the
    standard recall tradeoff, tunable via n_centroids / the band
    geometry, floored in test_similarity.  Output: every vector with
    its cell and keep flag."""
    cells = ivf_cells(embeddings, n_centroids, iters)
    return _semantic_pairs(cells, embeddings, min_cosine)


def _semantic_pairs(cells: DataFrame, embeddings: DataFrame,
                    min_cosine: float) -> DataFrame:
    """Shared SemDeDup body over ANY cell assignment (in-query Lloyd
    or the committed artifact): within-cell banded sign-LSH candidate
    pairs + exact cosine verify, lowest-id-wins keep flag.

    VERDICT r12 item 3 — the raw within-cell pair join was the
    steepest non-declared scale term (Σ|cell|², sf1 slope 3.31-3.48
    in BOTH the in-query and serve forms, because with K tracking the
    corpus the pair volume is n·occupancy — linear but with a
    250-pair constant per vector).  The `dedup_embedding_pairs`
    candidate pattern applied PER CELL breaks it: a pair is verified
    only if it shares the cell AND collides in ≥1 of the
    SEM_BANDS sign-LSH bands (OR-amplified — recall 1-(1-s^r)^b;
    the geometry is WIDER than the global near-dup surface's 16/4 —
    32 planes / 8 bands of 4, because in-cell pairs are the
    fixture's near-threshold regime where 16/4 measured 0.46 recall
    vs 32/8's 0.71 at 0.45x the pair volume; the 32-fold signature
    costs ~1/4 of the folds it saves at target occupancy 250), so
    the exact cosine folds run on Σ_cell Σ_band Σ_bucket
    |bucket∩cell|² pairs instead of Σ|cell|².  The verify
    set is SMALLER but the dup rule is otherwise unchanged
    (deterministic planes, both engines replay them — the oracle
    gained the same banded restriction); a same-cell twin that
    collides in no band is now missed — the explicitly-approximate
    recall tradeoff, floored vs the unfiltered form in
    test_similarity (the SemDeDup paper accepts the analogous
    cross-cell miss).  Candidates carry ONLY ids through the band
    shuffle (the 64-float vector joins back for the verify), and the
    repartition on the join key lets AQE reuse ONE shuffle stage for
    both self-join sides — both the measured `dedup_embedding_pairs`
    disciplines."""
    r = SEM_PLANES // SEM_BANDS
    sig = lsh_signature(embeddings, SEM_PLANES)
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.substring("bucket", b * r + 1, r).alias("bsig"))
        for b in range(SEM_BANDS)])
    banded = (cells.join(sig.select("vec_id", "bucket"), "vec_id")
              .select("vec_id", "cell", F.explode(bands).alias("bs"))
              .select("vec_id", "cell", "bs.band", "bs.bsig")
              .repartition("cell", "band", "bsig"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, (F.col("a.cell") == F.col("b.cell"))
                   & (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bsig") == F.col("b.bsig"))
                   & (F.col("b.vec_id") < F.col("a.vec_id")))
            .select(F.col("a.vec_id").alias("vec_id"),
                    F.col("b.vec_id").alias("vec_o"))
            .distinct())
    withv = (embeddings.select("vec_id", "embedding")
             .withColumn("nrm", l2_norm(F.col("embedding"))))
    va = withv.select(F.col("vec_id"),
                      F.col("embedding").alias("ea"), F.col("nrm").alias("na"))
    vb = withv.select(F.col("vec_id").alias("vec_o"),
                      F.col("embedding").alias("eb"), F.col("nrm").alias("nb"))
    sim = cosine_from_norms(F.col("ea"), F.col("eb"),
                            F.col("na"), F.col("nb"))
    dup = (cand.join(va, "vec_id").join(vb, "vec_o")
           .filter(F.round(sim, 6) >= min_cosine)
           .select("vec_id")
           .distinct()
           .withColumn("is_dup", F.lit(True)))
    return (cells.join(dup, "vec_id", "left")
            .select("vec_id", "cell",
                    F.coalesce(~F.col("is_dup"), F.lit(True)).alias("keep")))


def semantic_dedup_from_index(spark: SparkSession, sf_dir: str,
                              min_cosine: float = SEMANTIC_COS,
                              n_centroids: int | None = None
                              ) -> DataFrame:
    """Serve twin of `semantic_dedup` over the COMMITTED ANN index
    (VERDICT r11 item 5 — the standing q_dedup_semantic slope watch):
    the cell assignment comes from the catalog's ``cells`` artifact,
    so the query plan contains ZERO Lloyd iterations — re-running
    SemDeDup after a corpus append or threshold change pays only the
    within-cell pair join, not the quantizer training that dominated
    the in-query form's 2.4-2.8 sf1 slope.  Exactly the serve-split
    swap every other trained family already has (ANN
    `ann_query_from_index`, BM25 `q_bm25_from_index`, dedup
    signatures `q_dedup_from_index`).  Shares `semantic_dedup`'s
    oracle verbatim: the committed assignment equals from-scratch
    training bit-for-bit (the `q_ann_query_from_index` argument).
    ``n_centroids`` passes through to the index build; None (the
    default) = the corpus-derived K, so the sf1 slope measures serve
    cost at constant occupancy with no override (VERDICT r12 item
    1)."""
    cat = build_ann_index(spark, sf_dir, n_centroids)
    emb = load_table(spark, sf_dir, "embeddings")
    return _semantic_pairs(cat.read(spark, "cells"), emb, min_cosine)


SEMDEDUP_PROBE_MAX = 100  # bounded recall-monitor probe set: ids < this


def semdedup_recall_report(spark: SparkSession, sf_dir: str,
                           probe_max: int = SEMDEDUP_PROBE_MAX,
                           min_cosine: float = SEMANTIC_COS) -> DataFrame:
    """Committed recall monitor for the banded semantic dedup
    (VERDICT r13 What's-missing 1): since r13 `q_dedup_semantic` is
    an APPROXIMATION — the within-cell 32/8 sign-LSH pre-filter can
    miss a same-cell twin that collides in no band — and it was the
    only approximate family whose drift after a rebuild/append was
    invisible to the contract (ANN has `q_ann_recall_report`, BM25
    `q_bm25_mrr`, bitext `q_bitext_recall_report`).  For a BOUNDED
    probe set (``vec_id < probe_max``), one row per exact within-cell
    duplicate pair of a probe:

    - the EXACT arm: every partner sharing the probe's committed cell
      with cosine ≥ the dedup threshold — computed WITHOUT the band
      filter, so it is the ground truth the banded stage is recalled
      against;
    - ``band_hit`` — whether the pair collides in ≥1 of the SEM_BANDS
      sign-LSH bands, i.e. whether `_semantic_pairs`' candidate stage
      would have surfaced it.  mean(band_hit) IS the stage-1
      candidate recall of the committed index + band geometry; the
      verify stage downstream is exact, so this is the number that
      moves when dedup quality drifts (the same stage-1 reasoning as
      `q_ann_recall_report` / `bitext_recall_report`'s cand_hit).

    Scale shape: the probe side is bounded and BROADCAST; the
    corpus-shaped side (committed ``cells`` + signatures + vectors)
    STREAMS through one equi-join on the committed cell id — no
    nested loop anywhere, so at 100 TB this is the sampled-probe
    post-rebuild monitor, priced at one corpus scan.  The band test
    is a plain column expression over the two 32-bit signature
    strings (no second join, no explode): OR over the 8 per-band
    substring equalities.  The recall floor measured on the fixture's
    near-threshold regime is asserted from THIS query's output in
    test_similarity (re-pointing the r13 pytest-only floor at the
    committed artifact)."""
    r = SEM_PLANES // SEM_BANDS
    cat = build_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    sig = lsh_signature(emb, SEM_PLANES).select("vec_id", "bucket")
    side = (cat.read(spark, "cells")
            .join(sig, "vec_id")
            .join(emb.select("vec_id", "embedding"), "vec_id")
            .withColumn("nrm", l2_norm(F.col("embedding"))))
    probes = (side.filter(F.col("vec_id") < probe_max)
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("cell").alias("pcell"),
                      F.col("bucket").alias("pbucket"),
                      F.col("embedding").alias("pe"),
                      F.col("nrm").alias("pn")))
    cos = F.round(cosine_from_norms(F.col("pe"), F.col("embedding"),
                                    F.col("pn"), F.col("nrm")), 6)
    band_hit = None
    for b in range(SEM_BANDS):
        eq = (F.substring("pbucket", b * r + 1, r)
              == F.substring("bucket", b * r + 1, r))
        band_hit = eq if band_hit is None else (band_hit | eq)
    return (side.join(F.broadcast(probes),
                      (F.col("cell") == F.col("pcell"))
                      & (F.col("vec_id") != F.col("probe_id")))
            .select(F.col("probe_id"), F.col("vec_id").alias("vec_o"),
                    F.col("cell"), cos.alias("cosine_sim"),
                    band_hit.alias("band_hit"))
            .filter(F.col("cosine_sim") >= min_cosine))


PROTO_DROP = 0.25  # fraction of MOST-prototypical points dropped per cluster


def proto_prune(embeddings: DataFrame, drop_frac: float = PROTO_DROP,
                n_centroids: int | None = None,
                iters: int = IVF_ITERS) -> DataFrame:
    """Prototypicality pruning (Sorscher et al. 2022 "Beyond neural
    scaling laws"; the SemDeDup-complementary half of the D4 recipe,
    Tirumala et al. 2023): k-means-cluster the embedding space, score
    each example by its distance to its cluster centroid, and DROP the
    most prototypical ``drop_frac`` per cluster — when data is
    abundant, the easy/redundant examples near the prototypes
    contribute least to the loss, so pruning them beats random.

    Spark shape: the trained quantizer is the same deterministic Lloyd
    chain the IVF/SemDeDup family pins (decimal-exact means, so both
    engines agree bit-for-bit); the assignment is one broadcast join +
    map-side argmin carrying the distance through; the per-cluster
    rank is a window PARTITION BY cell — at 100 TB each cell is n/K
    rows with K grown alongside the corpus (the same occupancy knob
    the IVF index tunes), so no single partition ever sees more than a
    cell.  No pair join anywhere — cost is train + one ranked scan,
    unlike the Σ|cell|² SemDeDup pass.  The integer cutoff
    ``ceil(cnt·drop_frac)`` keeps the keep-set exact cross-engine (no
    percentile float edge).  Deterministic ties: (dist, vec_id)."""
    cent = kmeans_centroids(embeddings, n_centroids, iters)
    assigned = _assign_cells(embeddings, cent, keep_dist=True)
    return _proto_ranked_drop(assigned, drop_frac)


def _proto_ranked_drop(assigned: DataFrame, drop_frac: float) -> DataFrame:
    """Shared ranked-drop body of the prototypicality prune: per-cell
    (dist, vec_id) rank, integer ceil cutoff, keep the suffix."""
    from pyspark.sql import Window
    w = Window.partitionBy("cell").orderBy("dist", "vec_id")
    wc = Window.partitionBy("cell")
    ranked = assigned.select(
        "vec_id", "cell", "dist",
        F.row_number().over(w).alias("proto_rank"),
        F.count(F.lit(1)).over(wc).alias("cnt"))
    return (ranked
            .filter(F.col("proto_rank")
                    > F.ceil(F.col("cnt") * F.lit(drop_frac)))
            .select("vec_id", "cell", "dist",
                    F.col("proto_rank").cast("int").alias("proto_rank")))


def proto_prune_from_index(spark: SparkSession, sf_dir: str,
                           drop_frac: float = PROTO_DROP,
                           n_centroids: int | None = None) -> DataFrame:
    """Serve twin of `proto_prune` over the COMMITTED ANN index
    (VERDICT r11 item 2): distance-to-centroid is scored against the
    catalog's ``centroids``/``cells`` artifacts, so re-pruning after
    a corpus append or a drop-fraction change is a serve-cost scan —
    ZERO Lloyd iterations in the query plan, matching the family
    standard (`ann_query_from_index` et al.).

    Strictly cheaper than the in-query form even per run: the
    committed ``cells`` table already holds each vector's argmin
    cell, so the score is ONE broadcast equi-join on the assigned
    centroid (n rows × 1 centroid each) instead of the n·K
    broadcast-argmin sweep — the groupBy argmin disappears from the
    plan entirely.  Distances round to 9 dp exactly like
    `_assign_cells`, so the scores equal the in-query form's
    bit-for-bit and the two queries share one oracle.

    ``n_centroids`` passes through to the index build like its
    sibling twins (ADVICE r12 — this one hard-coded the build's
    default, so the production corpus-proportional-K serve shape
    couldn't be expressed for it); None = the corpus-derived K."""
    cat = build_ann_index(spark, sf_dir, n_centroids)
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = (emb.select("vec_id", "embedding")
                .join(cat.read(spark, "cells"), "vec_id")
                .join(F.broadcast(cat.read(spark, "centroids")),
                      F.col("cell") == F.col("cid"))
                .select("vec_id", "cell",
                        F.round(_l2sq(F.col("embedding"), F.col("cemb")), 9)
                        .alias("dist")))
    return _proto_ranked_drop(assigned, drop_frac)


BITEXT_SRC_LANG = "en"  # mining direction: for each en doc...
BITEXT_TGT_LANG = "de"  # ...its best margin-scored de candidate
MARGIN_K = 4            # k-NN pool per side for margin normalization
MARGIN_THRESHOLD = 1.1  # ratio-margin acceptance (77/218 at sf0.01)


def bitext_mine(embeddings: DataFrame, documents: DataFrame,
                src_lang: str = BITEXT_SRC_LANG,
                tgt_lang: str = BITEXT_TGT_LANG,
                k: int = MARGIN_K,
                threshold: float = MARGIN_THRESHOLD) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019; the
    CCMatrix/NLLB pipeline): score each cross-lingual candidate pair
    by the RATIO margin — cosine divided by the average of the two
    directions' k-NN cosines — then forward-mine: for each source doc
    keep its best-margin target iff the margin clears the threshold.
    The margin normalizes away hubness (a target that is everyone's
    neighbor gets a high denominator), which raw cosine thresholds
    cannot.

    EXACT-AUDIT UTILITY — not a registered contract query since round
    13 (VERDICT r12 item 2, the `brute_force_embedding_pairs`
    precedent): unbounded, stage 1 is an O(|src|·|tgt|) crossJoin
    whose measured sf1 slope (8.48, the worst in the r12 tracked set)
    dies at 100×.  The registered production forms are
    `bitext_from_index` (committed-index candidates) and
    `bitext_append` (new batches), monitored per rebuild by
    `bitext_recall_report` (whose exact arm is a bounded-probe
    best-cosine argmax, not this full margin pipeline); THIS form
    survives as the full-set pair-recall audit in
    tests/test_similarity.

    Both directions' k-NN means are WINDOW aggregates over one linear
    lineage — rank + mean per side share that side's hash
    partitioning, so the scored-pairs fold runs ONCE and the plan is
    scan → window(src) → window(tgt) → window(src); the naive
    groupBy-and-join-back form branches the pair subtree three ways,
    and since each branch repartitions differently nothing is
    reusable — the fold would run 3× (exchange-reuse needs identical
    subtrees; pinned in test_plans).  Float discipline: cosines round
    to 9 dp before any ranking; the k-NN means accumulate in
    DECIMAL(30,10) (order-independent, bit-identical cross-engine)
    and divide by least(k, side count) — a side with fewer than k
    candidates means over what it has (ADVICE r11); margins round to
    6 dp and tie-break by tgt_id."""
    langs = documents.select(F.col("doc_id").alias("vec_id"), "lang")
    sides = (embeddings.join(F.broadcast(langs), "vec_id")
             .select("vec_id", "lang", "embedding",
                     l2_norm(F.col("embedding")).alias("nrm")))
    x = (sides.filter(F.col("lang") == src_lang)
         .select(F.col("vec_id").alias("src_id"),
                 F.col("embedding").alias("xe"), F.col("nrm").alias("xn")))
    y = (sides.filter(F.col("lang") == tgt_lang)
         .select(F.col("vec_id").alias("tgt_id"),
                 F.col("embedding").alias("ye"), F.col("nrm").alias("yn")))
    cos = F.round(cosine_from_norms(F.col("xe"), F.col("ye"),
                                    F.col("xn"), F.col("yn")), 9)
    pairs = (x.crossJoin(F.broadcast(y))
             .select("src_id", "tgt_id", cos.alias("cos")))
    return _margin_mine(pairs, k, threshold)


BITEXT_NPROBE = 4  # stage-1 probe budget per source vector
#   (recall-vs-exact at the contract fixture, measured: nprobe=2 →
#   0.40/0.48 pair recall at sf0.001/sf0.01, nprobe=3 → 0.55/0.69,
#   nprobe=4 → 0.73/0.82 — mining is harder than top-k serving
#   because the margin RANKING also shifts with the candidate pool,
#   so the budget sits above ANN serving's nprobe=2.  K=8 here makes
#   4 half the cells; production K grows with the corpus, so the
#   same budget is a vanishing fraction of cells at scale.)


def _margin_mine(pairs: DataFrame, k: int, threshold: float) -> DataFrame:
    """Shared margin stage of bitext mining over ANY candidate pair
    set (exact all-pairs or ANN-probed): both directions' k-NN means
    as window aggregates on one linear lineage (see `bitext_mine` for
    why the fold must not branch), ratio margin, forward-mine the
    best target per source above threshold."""
    from pyspark.sql import Window
    wx = Window.partitionBy("src_id").orderBy(F.col("cos").desc(), "tgt_id")
    wy = Window.partitionBy("tgt_id").orderBy(F.col("cos").desc(), "src_id")

    def knn_mean(rank_col: str, part: str) -> Column:
        # least(k, candidate count): see bitext_mine (ADVICE r11)
        w = Window.partitionBy(part)
        top = F.when(F.col(rank_col) <= k,
                     F.col("cos").cast("decimal(30,10)"))
        return (F.sum(top).over(w).cast("double")
                / F.least(F.lit(k), F.count(F.lit(1)).over(w)))

    scored = (pairs
              .withColumn("rnx", F.row_number().over(wx))
              .withColumn("ax", knn_mean("rnx", "src_id"))
              .withColumn("rny", F.row_number().over(wy))
              .withColumn("ay", knn_mean("rny", "tgt_id"))
              .withColumn("margin",
                          F.round(F.col("cos")
                                  / ((F.col("ax") + F.col("ay")) / 2), 6)))
    wbest = Window.partitionBy("src_id").orderBy(F.col("margin").desc(),
                                                 "tgt_id")
    return (scored.withColumn("rn", F.row_number().over(wbest))
            .filter((F.col("rn") == 1) & (F.col("margin") >= threshold))
            .select("src_id", "tgt_id",
                    F.round("cos", 6).alias("cosine_sim"), "margin"))


def bitext_from_index(spark: SparkSession, sf_dir: str,
                      src_lang: str = BITEXT_SRC_LANG,
                      tgt_lang: str = BITEXT_TGT_LANG,
                      k: int = MARGIN_K,
                      threshold: float = MARGIN_THRESHOLD,
                      nprobe: int = BITEXT_NPROBE,
                      n_centroids: int | None = None) -> DataFrame:
    """Bitext mining with stage-1 candidate generation from the
    COMMITTED ANN index (VERDICT r11 item 1 — the serve-split swap
    `bitext_mine`'s docstring promised): each source vector probes
    its ``nprobe`` nearest committed cells, candidates are the
    target-language vectors the committed assignment already placed
    in those cells, and the ratio margin's k-NN means come from
    exactly the candidate lists the probe produced — so the hubness
    normalization is free, per Artetxe & Schwenk's own
    ANN-retrieved-neighborhood formulation (§3.2: the margin is
    computed over the retrieved k-NN, not the full corpus).

    Why this scales where the exact form cannot: `bitext_mine`'s
    stage 1 is O(|src|·|tgt|) cosines with one side broadcast — fine
    while language pairs shard the corpus, fatal when both sides are
    web-scale.  Here stage 1 is (a) a probe against K broadcast
    centroids (n·K map-side rows, top-nprobe per source — the
    `_batch_adc_serve` probe shape), then (b) ONE equi-join on the
    cell id: |src|·nprobe probe rows against the committed cell
    assignment — never all-pairs, and the pair volume is
    nprobe/K of exact (measured recall vs the exact miner pinned in
    test_similarity, the `q_ann_recall_report` pattern).  ZERO Lloyd
    iterations in the plan (pinned in test_plans: no decimal
    training aggregates, no crossJoin between language sides).

    Same float discipline as `bitext_mine` (9-dp cosines,
    decimal-exact means over least(k, candidates), 6-dp margins);
    the oracle replays the identical probed-cell restriction on
    from-scratch-retrained artifacts (bit-identical to the committed
    ones — the `q_ann_query_from_index` argument).

    ``n_centroids`` passes through to the index build: the candidate
    equi-join's key space IS the cell id, so K must grow with the
    corpus or the join funnels all pairs through K keys while
    nprobe/K stops shrinking — measured at the 10× point, serving
    from a fixed K=8 sloped 9.08 while the corpus-proportional K=80
    index sloped 2.19.  Since round 13 the corpus-proportional K IS
    the build default (None → `derived_n_centroids`; VERDICT r12
    item 1), so the bench sf1 point needs no override."""
    cat = build_ann_index(spark, sf_dir, n_centroids)
    emb = load_table(spark, sf_dir, "embeddings")
    return _bitext_index_serve(
        spark, sf_dir, emb,
        cat.read(spark, "centroids"), cat.read(spark, "cells"),
        src_lang, tgt_lang, k, threshold, nprobe)


def _bitext_index_serve(spark: SparkSession, sf_dir: str,
                        emb: DataFrame, cent: DataFrame,
                        cells: DataFrame, src_lang: str, tgt_lang: str,
                        k: int, threshold: float,
                        nprobe: int,
                        src_pred: Column | None = None) -> DataFrame:
    """Shared index-probed candidate stage of bitext mining — one
    body for the live serve, the DV-erased serve, and the new-batch
    append serve (``src_pred`` restricts the SOURCE side only — the
    append shape probes just the batch while targets stay the full
    committed corpus), so all three provably probe and score
    identically."""
    from pyspark.sql import Window

    documents = load_table(spark, sf_dir, "documents")
    langs = documents.select(F.col("doc_id").alias("vec_id"), "lang")
    sides = (emb.join(F.broadcast(langs), "vec_id")
             .select("vec_id", "lang", "embedding",
                     l2_norm(F.col("embedding")).alias("nrm")))
    x = (sides.filter(F.col("lang") == src_lang)
         .select(F.col("vec_id").alias("src_id"),
                 F.col("embedding").alias("xe"), F.col("nrm").alias("xn")))
    if src_pred is not None:
        x = x.filter(src_pred)
    y = (sides.filter(F.col("lang") == tgt_lang)
         .select(F.col("vec_id").alias("tgt_id"),
                 F.col("embedding").alias("ye"), F.col("nrm").alias("yn"))
         .join(cells.withColumnRenamed("vec_id", "tgt_id"), "tgt_id"))
    # stage 1a: nprobe nearest committed cells per source vector —
    # K broadcast centroid rows per source, top-nprobe window over
    # K-row partitions (shuffle volume n·K with K small)
    w_probe = Window.partitionBy("src_id").orderBy("qdist", "cell")
    probe = (x.select("src_id", "xe")
             .crossJoin(F.broadcast(cent))
             .select("src_id", F.col("cid").alias("cell"),
                     F.round(_l2sq(F.col("xe"), F.col("cemb")), 9)
                     .alias("qdist"))
             .withColumn("rn", F.row_number().over(w_probe))
             .filter(F.col("rn") <= nprobe)
             .select("src_id", "cell"))
    # stage 1b: candidates = target vectors committed to probed cells
    # (each target lives in exactly ONE cell, so no pair dedup needed)
    cos = F.round(cosine_from_norms(F.col("xe"), F.col("ye"),
                                    F.col("xn"), F.col("yn")), 9)
    pairs = (x.join(probe, "src_id")
             .join(y, "cell")
             .select("src_id", "tgt_id", cos.alias("cos")))
    return _margin_mine(pairs, k, threshold)


def bitext_after_forget(spark: SparkSession, sf_dir: str,
                        src_lang: str = BITEXT_SRC_LANG,
                        tgt_lang: str = BITEXT_TGT_LANG,
                        k: int = MARGIN_K,
                        threshold: float = MARGIN_THRESHOLD,
                        nprobe: int = BITEXT_NPROBE) -> DataFrame:
    """Bitext mining over the DV-ERASED index head — the erasure
    composition DEPLOY.md's selection section promises for the
    index-backed selection serves: candidates come from the forget
    catalog's frozen artifacts with the deletion vector anti-joined
    at candidate time (the `q_ann_forget` read path), so a
    tombstoned document can appear as NEITHER side of a mined pair
    and the margin's k-NN means are computed over live candidates
    only.  The quantizers stay the frozen pre-erasure artifacts
    (the documented DV residue, decayed by `q_ann_retrain`); the
    oracle therefore trains on the full corpus and applies the same
    NOT IN at both language sides — the same proof shape as
    `q_ann_forget`."""
    cat = forget_from_ann_index(spark, sf_dir)
    dv = F.broadcast(cat.read(spark, "deleted").select("vec_id"))
    emb = (load_table(spark, sf_dir, "embeddings")
           .join(dv, "vec_id", "left_anti"))
    cells = cat.read(spark, "cells").join(dv, "vec_id", "left_anti")
    return _bitext_index_serve(
        spark, sf_dir, emb, cat.read(spark, "centroids"), cells,
        src_lang, tgt_lang, k, threshold, nprobe)


def bitext_append(spark: SparkSession, sf_dir: str,
                  split: int | None = None,
                  src_lang: str = BITEXT_SRC_LANG,
                  tgt_lang: str = BITEXT_TGT_LANG,
                  k: int = MARGIN_K,
                  threshold: float = MARGIN_THRESHOLD,
                  nprobe: int = BITEXT_NPROBE) -> DataFrame:
    """Append symmetry for the bitext family (VERDICT r12 item 5 —
    every other index family already has build/serve/append/forget):
    mine a NEW source batch (``vec_id >= split``, the
    `build_ann_index_appended` fixture split) against the COMMITTED
    appended index without re-mining the corpus.  Candidates for each
    batch source come from its nprobe nearest frozen base-trained
    centroids; the target side is the full committed assignment
    (base cells + frozen-quantizer-encoded appended cells — the
    FAISS ``add()`` story `build_ann_index_appended` publishes).

    This is the incremental shape a growing corpus needs: probe cost
    scales with |batch| (the ``src_pred`` pushes ``vec_id >= split``
    to the batch scan), the committed corpus is only read through the
    ONE equi-join on the cell id, and ZERO Lloyd iterations appear in
    the plan (training ran once in the version-guarded catalog
    build).  Margin semantics follow the family rule: k-NN means over
    the probed candidate lists of THIS batch (Artetxe & Schwenk's
    retrieved-neighborhood formulation — a daily batch normalizes
    hubness against its own retrievals, matching what an incremental
    miner can actually see).  The oracle retrains the coarse
    quantizer on the BASE subset in SQL, assigns everyone with the
    frozen centroids, and replays the batch-restricted probe — the
    `q_ann_index_append` proof shape.

    Only the DERIVED split (``split=None`` → ceil(4n/5)) is
    oracle-backed: the registered oracle bakes the derived split via
    `_APPEND_SPLIT_SQL`, so an explicit ``split`` serves from its own
    catalog (ADVICE r13 keying) but has no matching contract row."""
    if split is None:
        split = _append_split_for(spark, sf_dir)
    cat = build_ann_index_appended(spark, sf_dir, split)
    emb = load_table(spark, sf_dir, "embeddings")
    return _bitext_index_serve(
        spark, sf_dir, emb,
        cat.read(spark, "centroids"), cat.read(spark, "cells"),
        src_lang, tgt_lang, k, threshold, nprobe,
        src_pred=F.col("src_id") >= split)


BITEXT_PROBE_MAX = 100  # bounded audit probe set: source ids < this


def bitext_recall_report(spark: SparkSession, sf_dir: str,
                         probe_max: int = BITEXT_PROBE_MAX,
                         src_lang: str = BITEXT_SRC_LANG,
                         tgt_lang: str = BITEXT_TGT_LANG,
                         k: int = MARGIN_K,
                         threshold: float = MARGIN_THRESHOLD,
                         nprobe: int = BITEXT_NPROBE) -> DataFrame:
    """Committed mining-quality monitor (VERDICT r12 item 6 — the
    `q_ann_recall_report` pattern for the bitext family, completing
    the monitor symmetry with ANN recall and BM25 known-item MRR).
    For a BOUNDED probe set of sources (``vec_id < probe_max``), one
    row per probe source:

    - ``exact_tgt`` / ``best_cos`` — the exact best-cosine target
      over the FULL committed target side (the audit arm: probe set
      BROADCAST, corpus-shaped target shard streamed — the
      `ann_recall_report` exact-arm shape; at 100 TB this runs on a
      sampled probe set, which is exactly what ``probe_max`` models);
    - ``cand_hit`` — whether the committed assignment places that
      target in one of the source's nprobe probed cells.  This is
      the STAGE-1 candidate recall, the signal the index actually
      controls: the margin stage is a deterministic function of the
      candidate lists, so when mining quality drifts after a rebuild
      or append, this is the number that moved (the same reasoning
      that makes `q_ann_recall_report` compare probed candidates to
      the exact top-k rather than re-deriving a downstream ranker);
    - ``index_tgt`` — the pair the production miner
      (`bitext_from_index`, full-population margins) emitted for
      this source, carried so a recall drop is debuggable at the
      pair grain.  Pair-LEVEL recall of the full mined set vs the
      full exact audit stays a test-scale measurement
      (test_similarity pins both floors) because its exact arm is
      the all-pairs plan the contract retired."""
    cat = build_ann_index(spark, sf_dir)
    cent, cells = cat.read(spark, "centroids"), cat.read(spark, "cells")
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    langs = docs.select(F.col("doc_id").alias("vec_id"), "lang")
    sides = (emb.join(F.broadcast(langs), "vec_id")
             .select("vec_id", "lang", "embedding",
                     l2_norm(F.col("embedding")).alias("nrm")))
    x = (sides.filter((F.col("lang") == src_lang)
                      & (F.col("vec_id") < probe_max))
         .select(F.col("vec_id").alias("src_id"),
                 F.col("embedding").alias("xe"), F.col("nrm").alias("xn")))
    y = (sides.filter(F.col("lang") == tgt_lang)
         .select(F.col("vec_id").alias("tgt_id"),
                 F.col("embedding").alias("ye"), F.col("nrm").alias("yn")))
    cos = F.round(cosine_from_norms(F.col("xe"), F.col("ye"),
                                    F.col("xn"), F.col("yn")), 9)
    # exact arm: argmax cosine per probe source — map-side
    # min(struct) over the streamed target shard (the _assign_cells
    # trick: partial-combines to one row per source before the
    # exchange, no window sort over the corpus)
    best = (y.crossJoin(F.broadcast(x))
            .select("src_id", "tgt_id", cos.alias("cos"))
            .groupBy("src_id")
            .agg(F.min(F.struct((-F.col("cos")).alias("negc"),
                                F.col("tgt_id"))).alias("m"))
            .select("src_id", F.col("m.tgt_id").alias("exact_tgt"),
                    F.round(-F.col("m.negc"), 6).alias("best_cos")))
    # the source's nprobe committed probe cells (the serve's stage 1a)
    from pyspark.sql import Window
    w_probe = Window.partitionBy("src_id").orderBy("qdist", "cell")
    probe = (x.select("src_id", "xe")
             .crossJoin(F.broadcast(cent))
             .select("src_id", F.col("cid").alias("cell"),
                     F.round(_l2sq(F.col("xe"), F.col("cemb")), 9)
                     .alias("qdist"))
             .withColumn("rn", F.row_number().over(w_probe))
             .filter(F.col("rn") <= nprobe)
             .select("src_id", "cell"))
    tgt_cell = cells.select(F.col("vec_id").alias("exact_tgt"),
                            F.col("cell").alias("tcell"))
    mined = (bitext_from_index(spark, sf_dir, src_lang, tgt_lang, k,
                               threshold, nprobe)
             .filter(F.col("src_id") < probe_max)
             .select("src_id", F.col("tgt_id").alias("index_tgt")))
    # (src_id, cell) is unique in probe, so the left join matches at
    # most once — cand_hit = "the exact target's committed cell was
    # probed", no row duplication possible
    pr = probe.select("src_id", F.col("cell").alias("tcell"),
                      F.lit(True).alias("probed"))
    return (best.join(tgt_cell, "exact_tgt")
            .join(pr, ["src_id", "tcell"], "left")
            .join(mined, "src_id", "left")
            .select("src_id", "exact_tgt", "best_cos",
                    F.coalesce("probed", F.lit(False)).alias("cand_hit"),
                    "index_tgt"))


K_CENTERS = 8  # greedy k-center selection budget


def kcenter_coreset(embeddings: DataFrame, k: int = K_CENTERS,
                    pool: int | None = None) -> DataFrame:
    """Greedy k-center / farthest-point coreset selection (Gonzalez
    1985, the 2-approximation; used as the coreset construction for
    data-efficient training — Sener & Savarese 2018): seed with
    vec_id 0, then k−1 rounds of "select the point farthest from the
    already-selected set".  The radius column is each pick's max-min
    distance at selection time — non-increasing by construction, and
    radius[k] bounds the optimal k-center cost within 2×.

    Determinism: distances round to 9 dp, ties break by vec_id; the
    seed is the MINIMUM vec_id (deterministic for any corpus — a
    hard-coded id 0 raised a bare IndexError on corpora without it,
    ADVICE r11).  Empty corpus: this side raises ValueError (a
    selection job with nothing to select is a pipeline bug, not an
    answer); the oracle — which cannot raise — emits ZERO rows via a
    WHERE EXISTS guard on the seed row (ADVICE r12), the closest SQL
    analogue of the same refusal.

    Spark shape (r15, VERDICT r14 item 5) — the BATCHED sweep: ONE
    TakeOrdered(pool) corpus scan collects the ``pool``
    globally-farthest candidates, the k−1 greedy rounds run on the
    driver over that bounded pool with EXACT Spark arithmetic
    (dimension-order float64 fold + HALF_UP-9dp rounding — the
    assignment-kernel discipline), and every pick is VERIFIED by
    strict domination: dmin only ever decreases, so any point outside
    the pool is forever ≤ the pool's collect-time threshold T, and a
    pick whose value is > T is provably the global argmax.  A pick
    that cannot be certified (≤ T — ties included) triggers a fresh
    corpus rescan with the updated dmin expression, so the greedy
    contract is preserved EXACTLY, not approximately (oracle
    unchanged, hash-verified).  Corpus scans drop from k to 1 (+1 per
    rare uncertified pick) against the per-round scan form it
    replaced (one running-``dmin`` scan + TakeOrdered(1) per pick and
    k−1 n-row localCheckpoints; q_kcenter_coreset 1.91 → 0.53 s at
    sf0.1).

    ``pool`` defaults to 256·k (measured: pool=2048 certifies all k−1
    picks from ONE scan at both fixture scales, vs 4 rescans at
    pool=32; the collected pool is ~1 MB — a bounded TakeOrdered heap,
    never corpus-shaped).  The verification rescan keeps correctness
    independent of the choice (pinned at pool=3 in test_similarity)."""
    import numpy as np

    ops = _exact_ops()
    spark = embeddings.sparkSession
    base = embeddings.select("vec_id", "embedding")
    if pool is None:
        pool = max(256 * k, 2048)

    # seed = the min-vec_id row: a column-pruned min scan + a pushed
    # equality fetch (an orderBy(vec_id).limit(1) TakeOrdered decodes
    # the whole embedding column for every row — measured 0.6-2.0 s of
    # the query at sf0.1)
    mn = base.agg(F.min("vec_id").alias("m")).first().m
    if mn is None:
        raise ValueError("kcenter_coreset: empty embedding corpus — "
                         "no seed row to select")
    seed = base.filter(F.col("vec_id") == mn).limit(1).collect()[0]

    def dist9(X, P):
        # Spark round(l2sq, 9) per (row, pick): the dimension-order
        # fold, HALF_UP-9dp quantized, divided back correctly rounded
        return ops.quantize(ops.l2sq(X, P), 9) / 1e9

    vt = base.schema["vec_id"].dataType.simpleString()

    def collect_pool(picked_embs):
        # ONE corpus pass: an Arrow kernel computes every row's
        # current dmin (min over picks of the 9dp-rounded fold — the
        # `_assign_cells` bit discipline) and pre-selects its
        # BATCH-LOCAL top-pool rows, so the global TakeOrdered runs
        # over ≤ pool·batches rows and only those rows' embeddings
        # ever cross the Arrow boundary.  The interpreted zip_with
        # fold this replaces ran single-threaded over the whole
        # corpus (measured 4-6 s of the sf0.1 query).
        P = np.asarray(picked_embs, dtype=np.float64)

        def kern(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = ops.matrix(pdf["embedding"], P.shape[1])
                dmins = dist9(X, P).min(axis=1)
                ids_b = pdf["vec_id"].to_numpy()
                top = np.lexsort((ids_b, -dmins))[:pool]
                yield pd.DataFrame({
                    "vec_id": pdf["vec_id"].iloc[top],
                    "dmin": dmins[top],
                    "embedding": list(X[top])})

        rows = (base.select("vec_id", "embedding")
                .mapInPandas(kern, f"vec_id {vt}, dmin double, "
                                   "embedding array<double>")
                .orderBy(F.col("dmin").desc(), "vec_id")
                .limit(pool).collect())
        ids = np.asarray([r.vec_id for r in rows], dtype=np.int64)
        X = np.asarray([r.embedding for r in rows], dtype=np.float64)
        dm = np.asarray([r.dmin for r in rows], dtype=np.float64)
        # any out-of-pool point's CURRENT dmin is ≤ the pool's
        # collect-time minimum (dmin only decreases); a full-corpus
        # pool certifies every pick (T = −inf)
        thresh = float(dm.min()) if len(rows) == pool else float("-inf")
        return ids, X, dm, thresh

    picks = [(0, int(seed.vec_id), None)]
    picked_embs = [list(seed.embedding)]
    ids, X, dm, thresh = collect_pool(picked_embs)
    i = 1
    while i < k:
        j = int(np.lexsort((ids, -dm))[0])   # max dmin, ties → low id
        if not dm[j] > thresh:
            # uncertified (an out-of-pool point could match or beat
            # it): rescan with the updated dmin expression
            ids, X, dm, thresh = collect_pool(picked_embs)
            j = int(np.lexsort((ids, -dm))[0])
            if not dm[j] > thresh and len(ids) == pool:
                # still tied with the threshold after a fresh scan —
                # only possible when the pool boundary itself is a tie
                # group wider than the pool; fall back to the exact
                # per-round scan for this pick (bounded: 1 row)
                far = (base.select(
                    "vec_id", "embedding",
                    _kcenter_running_dmin(picked_embs).alias("dmin"))
                    .orderBy(F.col("dmin").desc(), "vec_id")
                    .limit(1).collect()[0])
                picks.append((i, int(far.vec_id), float(far.dmin)))
                picked_embs.append(list(far.embedding))
                ids, X, dm, thresh = collect_pool(picked_embs)
                i += 1
                continue
        picks.append((i, int(ids[j]), float(dm[j])))
        c = X[j]
        picked_embs.append([float(v) for v in c])
        # update pool dmins exactly as Spark would: dimension-order
        # float64 fold, HALF_UP-9dp round, least as double min
        dm = np.minimum(dm, dist9(X, c[None, :])[:, 0])
        i += 1
    return one_slice_df(spark,
        picks, "sel_order int, vec_id bigint, radius double")


def _kcenter_running_dmin(picked_embs) -> Column:
    """least(dist_to(p0), …, dist_to(pn)) — the running dmin as one
    expression (rescan path of `kcenter_coreset`)."""
    def dist_to(vec):
        lits = F.array(*[F.lit(float(v)) for v in vec])
        return F.round(_l2sq(F.col("embedding"), lits), 9)

    dmin = dist_to(picked_embs[0])
    for e in picked_embs[1:]:
        dmin = F.least(dmin, dist_to(e))
    return dmin


def _kcenter_oracle_sql(k: int = K_CENTERS) -> str:
    """DuckDB twin of `kcenter_coreset`: the k−1 greedy rounds unroll
    into chained MATERIALIZED CTEs (the `_mmr_oracle_sql` pattern —
    each d{t} references d{t−1}, so default inlining would expand the
    base scan exponentially)."""
    parts = [f"""e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings),
    d0 AS MATERIALIZED (
      SELECT e.vec_id, e.emb,
             {_L2_SQL.format(e='e.emb', c='c.emb')} AS dmin
      FROM e, (SELECT emb FROM e ORDER BY vec_id LIMIT 1) c)"""]
    for t in range(1, k):
        parts.append(f"""p{t} AS MATERIALIZED (
      SELECT vec_id, dmin FROM d{t - 1}
      ORDER BY dmin DESC, vec_id LIMIT 1)""")
        if t < k - 1:
            parts.append(f"""d{t} AS MATERIALIZED (
      SELECT d.vec_id, d.emb,
             LEAST(d.dmin, {_L2_SQL.format(e='d.emb', c='c.emb')}) AS dmin
      FROM d{t - 1} d,
           (SELECT e2.emb FROM e e2 JOIN p{t} ON e2.vec_id = p{t}.vec_id) c)""")
    unions = "\n    UNION ALL ".join(
        f"SELECT CAST({t} AS INT), vec_id, dmin FROM p{t}"
        for t in range(1, k))
    chain = ",\n    ".join(parts)
    return f"""
    WITH {chain}
    SELECT CAST(0 AS INT) AS sel_order,
           CAST((SELECT MIN(vec_id) FROM e) AS BIGINT) AS vec_id,
           CAST(NULL AS DOUBLE) AS radius
    WHERE EXISTS (SELECT 1 FROM e)
    UNION ALL {unions}
    ORDER BY sel_order
    """


def topk_cosine_pandas(embeddings: DataFrame, query_vec_id: int = 0,
                       k: int = 10) -> DataFrame:
    """The Pandas-UDF variant of topk_cosine: one Arrow-vectorized
    numpy kernel instead of the builtin fold.  Same oracle — results
    agree to 6 dp (numpy's pairwise summation differs from the
    sequential fold only in last bits).

    Exists to pin the UDF surface (SURVEY.md §2.B gaps: UDF/UDAF): when
    a kernel genuinely needs Python, this is the shape — Arrow batches,
    closure-complete, zero per-row overhead."""
    qvec = [float(x) for x in
            embeddings.filter(F.col("vec_id") == query_vec_id)
            .select("embedding").collect()[0][0]]

    # Spark-4 type-hinted form (Series → Series ⇒ SCALAR); the
    # positional PandasUDFType enum is deprecated
    @F.pandas_udf("double")
    def cos(col: pd.Series) -> pd.Series:
        import numpy as np
        q = np.asarray(qvec, dtype=np.float64)
        qn = np.sqrt((q * q).sum())

        def one(v):
            a = np.asarray(v, dtype=np.float64)
            return float(a.dot(q) / (np.sqrt((a * a).sum()) * qn))
        return col.map(one)

    return (embeddings.filter(F.col("vec_id") != query_vec_id)
            .select("vec_id", "label",
                    F.round(cos(F.col("embedding")), 6).alias("cosine_sim"))
            .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
            .limit(k))


def incremental_topk_query(spark: SparkSession, sf_dir: str,
                           k: int = 10) -> DataFrame:
    """Contract wrapper for streaming.similarity.run_incremental_topk:
    stream the embeddings table micro-batch by micro-batch, merge
    per-batch local top-k into O(k) state, return the final top-k.
    Top-k merge is monotone, so the answer is EXACTLY the batch
    topk_cosine result — the two queries share one oracle."""
    from ..streaming.similarity import run_incremental_topk
    from .pipeline import _work_dir

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).select("embedding")
            .collect()[0][0]]
    work = _work_dir("inc_topk", sf_dir)
    return run_incremental_topk(spark, f"{sf_dir}/embeddings.parquet",
                                work, qvec, k=k)


def ivf_postings(embeddings: DataFrame) -> DataFrame:
    """IVF index BUILD artifact: one row per cell with its posting
    list (sorted vec_ids, CSV-serialized — the comparator cannot hash
    array cells) and occupancy.  This is the table an ANN serving
    layer consumes: query time = probe nprobe cells → scan their
    postings.  One extra groupBy over the assignment; posting arrays
    are written once and append-merged on ingest (the incremental
    story), while occupancy doubles as the rebalance signal (a cell
    growing hot ⇒ split/re-train, same remedy as any hot key).  CSV
    cells are bounded here (≤n/K ids); at 100 TB the postings column
    is a real array written to parquet and the CSV view is just the
    contract surface."""
    cells = ivf_cells(embeddings)
    return (cells.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.concat_ws(",", F.transform(
                     F.array_sort(F.collect_list("vec_id")),
                     lambda v: v.cast("string"))).alias("postings")))


def bucket_histogram(embeddings: DataFrame) -> DataFrame:
    """LSH bucket occupancy — the skew diagnostic you'd watch at scale."""
    return (lsh_signature(embeddings)
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vecs")))


def embedding_norms(embeddings: DataFrame) -> DataFrame:
    """L2 norms + dimension sanity (cheap full-scan vector kernel)."""
    sq = F.aggregate(F.col("embedding"), F.lit(0.0),
                     lambda acc, v: acc + v.cast("double") * v.cast("double"))
    return embeddings.select(
        "vec_id", "label",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(sq), 6).alias("l2_norm"))


def _int8_codes(emb: Column) -> Column:
    """Symmetric per-vector int8 quantization codes (as exact-integer
    doubles).

    step = absmax/127; code_i = clamp(floor(x_i/step + 0.5), ±127).
    ``floor(x + 0.5)`` is written out (not ``round``) because the two
    engines disagree on round-half semantics while ``floor`` is IEEE —
    the codes are bit-identical across Spark and DuckDB."""
    absmax = F.aggregate(F.transform(emb, lambda x: F.abs(x.cast("double"))),
                         F.lit(0.0), lambda a, x: F.greatest(a, x))
    step = F.greatest(absmax, F.lit(1e-30)) / F.lit(127.0)
    return F.transform(
        emb, lambda x: F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0),
                    F.floor(x.cast("double") / step + F.lit(0.5))
                    .cast("double"))))


def quantized_topk(embeddings: DataFrame, query_vec_id: int = 0,
                   k: int = 10) -> DataFrame:
    """int8-quantized cosine top-k — the 4×-compression serving path
    that complements PQ (SURVEY §2.C C3+).

    Per-vector symmetric quantization keeps one fp scale + d int8 codes;
    since cosine is scale-invariant, quantized cosine reduces to the
    cosine of the INTEGER code vectors — every product and partial sum
    is an exactly-representable integer-valued double, so the scores
    are engine-exact (no fold-order drift to round away, though the
    contract still rounds to 6 dp).  At 100 TB the scan reads a quarter
    of the bytes of the fp32 column and the inner loop is int8 SIMD;
    the fp32 vectors are only touched by an (optional) exact re-rank,
    same shape as q_ann_pq's ADC → re-rank split."""
    coded = embeddings.select(
        "vec_id", "label", _int8_codes(F.col("embedding")).alias("codes"))
    q = (coded.filter(F.col("vec_id") == query_vec_id)
         .select(F.col("codes").alias("q_codes")))
    dot = F.aggregate(F.zip_with(F.col("codes"), F.col("q_codes"),
                                 lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    nv = F.sqrt(F.aggregate(F.transform(F.col("codes"), lambda x: x * x),
                            F.lit(0.0), lambda a, x: a + x))
    nq = F.sqrt(F.aggregate(F.transform(F.col("q_codes"), lambda x: x * x),
                            F.lit(0.0), lambda a, x: a + x))
    n_sat = F.size(F.filter(F.col("codes"), lambda x: F.abs(x) == 127.0))
    return (coded.crossJoin(F.broadcast(q))
            .filter(F.col("vec_id") != query_vec_id)
            .select("vec_id", "label",
                    F.round(dot / (nv * nq), 6).alias("cos_q"),
                    n_sat.cast("int").alias("n_saturated"))
            .orderBy(F.col("cos_q").desc(), "vec_id")
            .limit(k))


BQ_WORDS = 2              # sign bits packed into two 32-bit BIGINT words
BQ_WORD_BITS = DIM // BQ_WORDS
BQ_RERANK = PQ_RERANK     # Hamming shortlist factor (same split as ADC)


def _sign_words(emb: str = "embedding") -> list[Column]:
    """Pack the per-dimension sign bits of a 64-d vector into two
    BIGINT words of 32 bits each (bit i of word w = 1 iff dimension
    w*32+i is positive).

    Two half-words rather than one 64-bit word because bit 63 is the
    sign bit of a signed BIGINT and the engines disagree on shift
    overflow there (Java wraps silently; DuckDB range-checks) —
    capping at bit 31 keeps every packed value an exact small
    non-negative integer in both.  SUM serves as the bit-OR: the
    shifted positions are distinct, so the adds never carry."""
    return [
        F.expr(
            f"aggregate(transform(slice({emb}, {w * BQ_WORD_BITS + 1}, "
            f"{BQ_WORD_BITS}), (x, i) -> IF(CAST(x AS DOUBLE) > 0D, "
            f"shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)")
        for w in range(BQ_WORDS)
    ]


def binary_ann_topk(embeddings: DataFrame, query_vec_id: int = 0,
                    k: int = 10, rerank_factor: int = BQ_RERANK) -> DataFrame:
    """ANN via 1-bit (binary sign) quantization + Hamming shortlist +
    exact cosine re-rank — the most compressed serving path in the
    family: 64 float32 dims (256 B) become two BIGINT words (16 B, a
    16× scan cut; 32× against fp64), and the candidate metric is two
    XOR+POPCNT instructions per vector, cheaper than any ADC lookup.
    This is the production "binary quantization" tier (sign bits of
    the raw dimensions, the degenerate m=64/1-bit PQ codebook): it
    approximates ANGULAR closeness, so the shortlist re-ranks by
    exact cosine rather than L2 (contrast `ann_pq_topk`, whose ADC
    approximates L2 and re-ranks by L2).

    Plan shape at 100 TB: one map-only projection packs the words
    (scan reads only the code columns on a stored index), a 1-row
    broadcast carries the query words, TakeOrdered keeps the
    ``rerank_factor*k`` smallest Hamming distances (integer-exact in
    both engines, ties by vec_id), and only those rows' full vectors
    are fetched for the exact re-rank.  No shuffle anywhere except
    the O(k) TakeOrdered merge."""
    words = _sign_words()
    coded = embeddings.select(
        "vec_id", *[w.alias(f"w{i}") for i, w in enumerate(words)])
    q = (coded.filter(F.col("vec_id") == query_vec_id)
         .select(*[F.col(f"w{i}").alias(f"q{i}") for i in range(BQ_WORDS)]))
    ham = None
    for i in range(BQ_WORDS):
        term = F.bit_count(F.col(f"w{i}").bitwiseXOR(F.col(f"q{i}")))
        ham = term if ham is None else ham + term
    shortlist = (coded.crossJoin(F.broadcast(q))
                 .filter(F.col("vec_id") != query_vec_id)
                 .select("vec_id", ham.cast("int").alias("hamming"))
                 .orderBy("hamming", "vec_id")
                 .limit(rerank_factor * k))
    qvec = (embeddings.filter(F.col("vec_id") == query_vec_id)
            .select(F.col("embedding").alias("q_emb")))
    cos = cosine_similarity(F.col("embedding"), F.col("q_emb"))
    return (shortlist
            .join(embeddings.select("vec_id", "embedding"), "vec_id")
            .crossJoin(F.broadcast(qvec))
            .select("vec_id", "hamming", F.round(cos, 6).alias("cos_q"))
            .orderBy(F.round(cos, 9).desc(), "vec_id")
            .limit(k))


def _binary_ann_oracle_sql(k: int = 10,
                           rerank_factor: int = BQ_RERANK) -> str:
    """DuckDB twin of `binary_ann_topk`: identical packing (sum-as-OR
    over distinct shifted bits), identical integer Hamming, identical
    9-dp cosine tie-break."""
    def word(lo: int, hi: int) -> str:
        return (f"list_aggregate(list_transform("
                f"list_zip(embedding[{lo}:{hi}], "
                f"generate_series(0, {BQ_WORD_BITS - 1})), "
                f"x -> CASE WHEN CAST(x[1] AS DOUBLE) > 0 THEN "
                f"(CAST(1 AS BIGINT) << CAST(x[2] AS INT)) "
                f"ELSE CAST(0 AS BIGINT) END), 'sum')")
    cos = (f"({_DOT_Q_SQL}) / ({_NORM_SQL.format(c='e.embedding')} * "
           f"{_NORM_SQL.format(c='q.q_emb')})")
    return f"""
    WITH coded AS (
      SELECT vec_id,
             {word(1, BQ_WORD_BITS)} AS w0,
             {word(BQ_WORD_BITS + 1, DIM)} AS w1
      FROM embeddings),
    qw AS (SELECT w0 AS q0, w1 AS q1 FROM coded WHERE vec_id = 0),
    short AS (
      SELECT c.vec_id,
             CAST(bit_count(xor(c.w0, qw.q0))
                  + bit_count(xor(c.w1, qw.q1)) AS INT) AS hamming
      FROM coded c, qw
      WHERE c.vec_id <> 0
      ORDER BY hamming, c.vec_id
      LIMIT {rerank_factor * k}),
    q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
    SELECT s.vec_id, s.hamming, ROUND({cos}, 6) AS cos_q
    FROM short s
    JOIN embeddings e ON e.vec_id = s.vec_id, q
    ORDER BY ROUND({cos}, 9) DESC, s.vec_id
    LIMIT {k}
    """


MMR_SHORTLIST = 30   # relevance shortlist fed to the greedy
MMR_K = 10           # diversified results returned
MMR_LAMBDA = 0.7     # relevance vs diversity weight (Carbonell 1998)


def mmr_rerank(embeddings: DataFrame, query_vec_id: int = 0,
               k: int = MMR_K, shortlist: int = MMR_SHORTLIST,
               lam: float = MMR_LAMBDA) -> DataFrame:
    """Maximal Marginal Relevance diversity re-rank (Carbonell &
    Goldstein 1998) — the standard RAG retrieval-diversification
    step: greedily pick, k times, the candidate maximizing
    ``λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)``, so near-duplicate
    passages don't crowd the context window.

    Distribution split: the DISTRIBUTED work is the relevance
    shortlist (full-scan cosine + TakeOrdered, same kernel as
    `topk_cosine`) and the within-shortlist pairwise similarity
    matrix (broadcast self-join, ≤ shortlist² = 900 rows).  The
    greedy itself is inherently sequential over k steps, so it runs
    driver-side on the BOUNDED collected matrix (≤ shortlist +
    shortlist² rows — the same bounded-model-collect discipline as
    `build_pca_model`); at 100 TB the shortlist comes from the
    committed ANN index and this stage's cost is O(k·shortlist),
    independent of corpus size.

    Cross-engine exactness: rel and sim collect 9-dp-rounded (HALF_UP
    on both engines), every score is then pure IEEE-double arithmetic
    (λ·rel − (1−λ)·max) identical in Python and DuckDB, ties break on
    vec_id, and the 6-dp display rounding happens IN SPARK on the way
    out (F.round == DuckDB ROUND; Python's round() is banker's and
    never touches the data)."""
    q = (embeddings.filter(F.col("vec_id") == query_vec_id)
         .select(F.col("embedding").alias("q_emb")))
    rel_col = F.round(
        cosine_similarity(F.col("embedding"), F.col("q_emb")), 9)
    cand = (embeddings.crossJoin(F.broadcast(q))
            .filter(F.col("vec_id") != query_vec_id)
            .select("vec_id", "embedding", rel_col.alias("rel"))
            .orderBy(F.col("rel").desc(), "vec_id")
            .limit(shortlist)
            # ≤ shortlist rows; truncating here keeps the full-corpus
            # relevance scan to ONE execution (cand feeds the pair
            # self-join and two collects)
            .localCheckpoint(eager=True))
    a = cand.select(F.col("vec_id").alias("i"), F.col("embedding").alias("ea"))
    b = cand.select(F.col("vec_id").alias("j"), F.col("embedding").alias("eb"))
    pairs = (a.crossJoin(F.broadcast(b))
             .filter(F.col("i") != F.col("j"))
             .select("i", "j", F.round(
                 cosine_similarity(F.col("ea"), F.col("eb")), 9).alias("s")))
    rel = {r["vec_id"]: r["rel"]
           for r in cand.select("vec_id", "rel").collect()}  # ≤ shortlist rows
    sim = {(r["i"], r["j"]): r["s"]
           for r in pairs.collect()}                         # ≤ shortlist² rows
    selected: list[int] = []
    remaining = set(rel)
    rows = []
    # a corpus smaller than k stops at the candidate count, exactly
    # like the oracle's winnerless sel{t} steps emit no row
    for step in range(1, min(k, len(remaining)) + 1):
        best_v, best_score = None, None
        for v in sorted(remaining):
            penalty = max((sim[(v, u)] for u in selected), default=0.0)
            score = lam * rel[v] - (1.0 - lam) * penalty
            if best_score is None or score > best_score:
                best_v, best_score = v, score
        selected.append(best_v)
        remaining.discard(best_v)
        rows.append((step, best_v, best_score))
    out = one_slice_df(embeddings.sparkSession,
        rows, "step INT, vec_id BIGINT, mmr_score DOUBLE")
    return out.select("step", "vec_id",
                      F.round("mmr_score", 6).alias("mmr_score"))


def _mmr_oracle_sql(k: int = MMR_K, shortlist: int = MMR_SHORTLIST,
                    lam: float = MMR_LAMBDA) -> str:
    """DuckDB twin of `mmr_rerank`: the k greedy steps UNROLL into k
    chained CTEs (the `_kmeans_cells_sql` unrolling pattern) — step t
    scores every unselected shortlist member against the accumulated
    selection via a correlated MAX and keeps the (score DESC, vec_id)
    winner.

    Every CTE is MATERIALIZED: each sel{{t}} references sel{{t-1}}
    three times, so DuckDB's default CTE inlining would expand the
    base scan 3^k times (observed as fd exhaustion before the first
    row)."""
    cos = ("list_aggregate(list_transform(list_zip({a}, {b}), "
           "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') / "
           "(sqrt(list_aggregate(list_transform({a}, "
           "v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) * "
           "sqrt(list_aggregate(list_transform({b}, "
           "v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')))")
    steps = []
    for t in range(1, k + 1):
        prev = f"sel{t - 1}"
        steps.append(f"""
    sel{t} AS MATERIALIZED (
      SELECT * FROM {prev}
      UNION ALL
      (SELECT c.vec_id, {t} AS step,
              {lam} * c.rel - {1.0 - lam} * COALESCE(
                (SELECT MAX(p.s) FROM pairs p
                 WHERE p.i = c.vec_id
                   AND p.j IN (SELECT vec_id FROM {prev})), 0.0) AS score
       FROM short c
       WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
       ORDER BY score DESC, c.vec_id
       LIMIT 1))""")
    return f"""
    WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
    short AS MATERIALIZED (
      SELECT e.vec_id, e.embedding,
             ROUND({cos.format(a='e.embedding', b='q.q_emb')}, 9) AS rel
      FROM embeddings e, q
      WHERE e.vec_id <> 0
      ORDER BY rel DESC, e.vec_id
      LIMIT {shortlist}),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS i, b.vec_id AS j,
             ROUND({cos.format(a='a.embedding', b='b.embedding')}, 9) AS s
      FROM short a, short b
      WHERE a.vec_id <> b.vec_id),
    sel0 AS (SELECT CAST(NULL AS BIGINT) AS vec_id, 0 AS step,
                    0.0 AS score WHERE 1 = 0),{','.join(steps)}
    SELECT step, vec_id, ROUND(score, 6) AS mmr_score
    FROM sel{k}
    ORDER BY step
    """


# --- oracle SQL -----------------------------------------------------------

_DOT_Q_SQL = """
  list_aggregate(list_transform(list_zip(embedding, q.q_emb),
                                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
"""
_NORM_SQL = "sqrt(list_aggregate(list_transform({c}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))"

_W_SQL = ("(CASE WHEN CAST('0x' || substr(md5('plane_' || p.p || '_' || d.d), 1, 15) AS BIGINT) % 2 = 0 "
          "THEN 1.0 ELSE -1.0 END)")

def _sig_sql(n_planes: int = N_PLANES) -> str:
    """Signature CTE body, parameterized on plane count so the 8-bit
    ANN surface and the 16-bit near-dup surface share one generator."""
    return f"""
  SELECT vec_id, label,
         STRING_AGG(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
  FROM (
    SELECT e.vec_id, e.label, p.p,
           SUM({_W_SQL} * CAST(e.embedding[d.d + 1] AS DOUBLE)) AS dot
    FROM embeddings e,
         (SELECT unnest(range({n_planes})) AS p) p,
         (SELECT unnest(range({DIM})) AS d) d
    GROUP BY e.vec_id, e.label, p.p
  )
  GROUP BY vec_id, label
"""


_SIG_SQL = _sig_sql(N_PLANES)

# Tie-break symmetry contract (re-audited for r6 ADVICE): every
# Spark-side ANN ranking orders by ROUND(l2, 9), and every oracle
# ORDER BY that ranks on an L2 distance goes through THIS template —
# which bakes the same ROUND(..., 9) into the expression — so a
# near-tie at the 9th decimal resolves identically in both engines
# (probe CTEs, exact ground-truth CTEs, and shortlist CTEs all
# included; the double ROUND at projection sites is a no-op).
_L2_SQL = ("ROUND(list_aggregate(list_transform(list_zip({e}, {c}), "
           "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
           " * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), 'sum'), 9)")


def _kmeans_cells_sql(iters: int = IVF_ITERS, k: int | str = N_CENTROIDS,
                      dim: int = DIM, emb: str = "embedding",
                      prefix: str = "", src: str = "embeddings",
                      seed_stride: int = 1) -> str:
    """CTE chain mirroring kmeans_centroids + final assignment —
    Lloyd unrolled (no recursion needed for a fixed iteration count).
    Ends with a ``{prefix}cells(vec_id, cell)`` CTE.  ``emb`` is any
    list-valued expression over a ``src`` row (e.g. a slice for PQ
    subspaces); ``src`` lets the chain train on a derived relation
    (the residual CTE for IVFPQ-residual); ``prefix`` namespaces the
    CTEs so several chains can coexist in one query.  ``k`` may be an
    int literal (the PQ subspace codebooks, which never scale with
    the corpus) or a SQL scalar expression (`_derived_k_sql` — the
    corpus-proportional coarse K); it only gates the SEED rows, so
    the Lloyd steps adapt to whatever the expression evaluates to."""
    def assign(name: str, cent: str) -> str:
        return f"""{name} AS (
          SELECT vec_id, cid AS cell FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY {_L2_SQL.format(e=f'({emb})', c='c.cemb')}, c.cid) AS rn
            FROM {src} e, {cent} c) WHERE rn = 1)"""

    p = prefix
    k_expr = k if isinstance(k, str) else str(k)
    parts = [f"""{p}cent0 AS (
      SELECT CAST(vec_id // {seed_stride} AS INT) AS cid,
             list_transform(({emb}), x -> CAST(x AS DOUBLE)) AS cemb
      FROM {src} e
      WHERE vec_id % {seed_stride} = 0
        AND vec_id < ({k_expr}) * {seed_stride})"""]
    for i in range(1, iters + 1):
        parts.append(assign(f"{p}assign{i}", f"{p}cent{i - 1}"))
        parts.append(f"""{p}cent{i} AS (
          SELECT cell AS cid, list(m ORDER BY d) AS cemb FROM (
            SELECT a.cell, d.d,
                   CAST(SUM(CAST(CAST(({emb})[d.d + 1] AS DOUBLE)
                                 AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS m
            FROM {src} e JOIN {p}assign{i} a USING (vec_id),
                 (SELECT unnest(range({dim})) AS d) d
            GROUP BY a.cell, d.d) GROUP BY cell)""")
    parts.append(assign(f"{p}cells", f"{p}cent{iters}"))
    return ",\n".join(parts)

def _pq_oracle_sql(k: int = 5, rerank_factor: int = PQ_RERANK) -> str:
    """m prefixed k-means chains (one per subspace slice) + codes +
    query LUTs + ADC sum + exact re-rank of the shortlist — the full
    PQ pipeline in DuckDB."""
    chains, luts, join_luts = [], [], ""
    for j in range(PQ_M):
        lo, hi = j * PQ_SUB_DIM + 1, (j + 1) * PQ_SUB_DIM
        emb = f"e.embedding[{lo}:{hi}]"
        chains.append(_kmeans_cells_sql(IVF_ITERS, PQ_K, PQ_SUB_DIM,
                                        emb=emb, prefix=f"s{j}_"))
        luts.append(f"""lut{j} AS (
          SELECT c.cid AS code{j},
                 ROUND({_L2_SQL.format(e='(q.qe)', c='c.cemb')}, 9) AS d{j}
          FROM s{j}_cent{IVF_ITERS} c,
               (SELECT embedding[{lo}:{hi}] AS qe
                FROM embeddings WHERE vec_id = 0) q)""")
        join_luts += f" JOIN lut{j} USING (code{j})"
    code_cols = ", ".join(f"s{j}_cells.cell AS code{j}" for j in range(PQ_M))
    froms = "s0_cells" + "".join(
        f" JOIN s{j}_cells USING (vec_id)" for j in range(1, PQ_M))
    dist = " + ".join(f"d{j}" for j in range(PQ_M))
    return f"""
    WITH {", ".join(chains)},
    codes AS (
      SELECT s0_cells.vec_id, {code_cols}
      FROM {froms}),
    {", ".join(luts)},
    shortlist AS (
      SELECT codes.vec_id, ROUND({dist}, 9) AS approx_dist
      FROM codes{join_luts}
      WHERE codes.vec_id <> 0
      ORDER BY approx_dist, codes.vec_id LIMIT {rerank_factor * k})
    SELECT s.vec_id, s.approx_dist,
           ROUND({_L2_SQL.format(e='e.embedding', c='q.q_emb')}, 9)
             AS exact_dist
    FROM shortlist s JOIN embeddings e ON s.vec_id = e.vec_id,
         (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) q
    ORDER BY exact_dist, s.vec_id LIMIT {k}
    """


def _ivfpq_oracle_sql(k: int = 5, nprobe: int = 2,
                      rerank_factor: int = PQ_RERANK) -> str:
    """Coarse Lloyd chain (c_ prefix) + the m subspace PQ chains +
    query LUTs + probe-restricted ADC + exact re-rank — the composed
    IVFADC pipeline in DuckDB, reusing the exact CTE generators the
    standalone IVF and PQ oracles pinned."""
    chains, luts, join_luts = [], [], ""
    for j in range(PQ_M):
        lo, hi = j * PQ_SUB_DIM + 1, (j + 1) * PQ_SUB_DIM
        emb = f"e.embedding[{lo}:{hi}]"
        chains.append(_kmeans_cells_sql(IVF_ITERS, PQ_K, PQ_SUB_DIM,
                                        emb=emb, prefix=f"s{j}_"))
        luts.append(f"""lut{j} AS (
          SELECT c.cid AS code{j},
                 ROUND({_L2_SQL.format(e='(q.qe)', c='c.cemb')}, 9) AS d{j}
          FROM s{j}_cent{IVF_ITERS} c,
               (SELECT embedding[{lo}:{hi}] AS qe
                FROM embeddings WHERE vec_id = 0) q)""")
        join_luts += f" JOIN lut{j} USING (code{j})"
    code_cols = ", ".join(f"s{j}_cells.cell AS code{j}" for j in range(PQ_M))
    froms = "s0_cells" + "".join(
        f" JOIN s{j}_cells USING (vec_id)" for j in range(1, PQ_M))
    dist = " + ".join(f"d{j}" for j in range(PQ_M))
    return f"""
    WITH {_kmeans_cells_sql(IVF_ITERS, _derived_k_sql(), DIM, prefix="c_")},
    probe AS (
      SELECT cid AS q_cell FROM c_cent{IVF_ITERS} c,
           (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
            FROM embeddings WHERE vec_id = 0) q
      ORDER BY {_L2_SQL.format(e='(q.qe)', c='c.cemb')}, cid
      LIMIT {nprobe}),
    {", ".join(chains)},
    codes AS (
      SELECT s0_cells.vec_id, {code_cols}
      FROM {froms}),
    {", ".join(luts)},
    shortlist AS (
      SELECT codes.vec_id, c_cells.cell, ROUND({dist}, 9) AS approx_dist
      FROM codes
      JOIN c_cells USING (vec_id)
      JOIN probe ON c_cells.cell = probe.q_cell{join_luts}
      WHERE codes.vec_id <> 0
      ORDER BY approx_dist, codes.vec_id LIMIT {rerank_factor * k})
    SELECT s.vec_id, s.cell, s.approx_dist,
           ROUND({_L2_SQL.format(e='e.embedding', c='q.q_emb')}, 9)
             AS exact_dist
    FROM shortlist s JOIN embeddings e ON s.vec_id = e.vec_id,
         (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) q
    ORDER BY exact_dist, s.vec_id LIMIT {k}
    """


def _ivfpq_residual_oracle_sql(k: int = 5, nprobe: int = 2,
                               rerank_factor: int = PQ_RERANK,
                               deleted: tuple[int, ...] | None = None,
                               trained_without: tuple[int, ...] | None = None
                               ) -> str:
    """Residual-encoded IVFADC in DuckDB: the coarse chain (c_),
    a ``res`` CTE of double-precision residuals r = x − c(cell(x)),
    the m subspace Lloyd chains trained ON ``res`` (src= parameter),
    per-probed-cell query-residual LUTs, cell+code ADC joins, exact
    re-rank.  Mirrors ann_ivfpq_residual_topk argmin-for-argmin.

    ``deleted`` adds a NOT IN over the candidate vec_ids at the
    shortlist stage — the oracle twin of the deletion-vector
    anti-join in `ann_query_after_forget` (training still runs over
    the FULL corpus: erasure is logical, the quantizers are frozen
    artifacts the tombstones don't retrain).

    ``trained_without`` instead filters the tombstones out of the
    TRAINING INPUT itself (a ``live`` CTE replaces ``embeddings`` as
    the corpus for the coarse chain, the residuals, and hence every
    subspace chain) — the oracle twin of `retrain_ann_index`, where
    erasure reaches the quantizers and the residue is zero."""
    src = "embeddings"
    live_cte = ""
    if trained_without:
        src = "live"
        # MATERIALIZED: the live relation is re-referenced by every
        # Lloyd assign/mean step — one materialization beats O(steps)
        # re-filtered base scans (duckdb inlines CTEs by default)
        live_cte = ("live AS MATERIALIZED (SELECT * FROM embeddings "
                    f"WHERE vec_id NOT IN {sql_in_list(trained_without)}"
                    "),\n    ")
    sub = "list_transform(list_zip({a}, {b}), " \
          "x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
    chains, luts, join_luts = [], [], ""
    for j in range(PQ_M):
        lo, hi = j * PQ_SUB_DIM + 1, (j + 1) * PQ_SUB_DIM
        emb = f"e.embedding[{lo}:{hi}]"
        chains.append(_kmeans_cells_sql(IVF_ITERS, PQ_K, PQ_SUB_DIM,
                                        emb=emb, prefix=f"s{j}_",
                                        src="res",
                                        seed_stride=RES_SEED_STRIDE))
        luts.append(f"""lut{j} AS (
          SELECT r.q_cell,
                 c.cid AS code{j},
                 ROUND({_L2_SQL.format(e=f'(r.qr[{lo}:{hi}])',
                                       c='c.cemb')}, 9) AS d{j}
          FROM s{j}_cent{IVF_ITERS} c, qres r)""")
        join_luts += (f" JOIN lut{j} ON lut{j}.q_cell = c_cells.cell"
                      f" AND lut{j}.code{j} = codes.code{j}")
    code_cols = ", ".join(f"s{j}_cells.cell AS code{j}" for j in range(PQ_M))
    froms = "s0_cells" + "".join(
        f" JOIN s{j}_cells USING (vec_id)" for j in range(1, PQ_M))
    dist = " + ".join(f"d{j}" for j in range(PQ_M))
    del_sql = (f" AND codes.vec_id NOT IN {sql_in_list(deleted)}"
               if deleted else "")
    return f"""
    WITH {live_cte}{_kmeans_cells_sql(IVF_ITERS, _derived_k_sql(src), DIM,
                                      prefix="c_", src=src)},
    probe AS (
      SELECT cid AS q_cell FROM c_cent{IVF_ITERS} c,
           (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
            FROM embeddings WHERE vec_id = 0) q
      ORDER BY {_L2_SQL.format(e='(q.qe)', c='c.cemb')}, cid
      LIMIT {nprobe}),
    res AS (
      SELECT e.vec_id,
             {sub.format(a='e.embedding', b='c.cemb')} AS embedding
      FROM {src} e
      JOIN c_cells cc USING (vec_id)
      JOIN c_cent{IVF_ITERS} c ON c.cid = cc.cell),
    {", ".join(chains)},
    codes AS (
      SELECT s0_cells.vec_id, {code_cols}
      FROM {froms}),
    qres AS (
      SELECT p.q_cell,
             {sub.format(a='q.q_emb', b='c.cemb')} AS qr
      FROM probe p
      JOIN c_cent{IVF_ITERS} c ON c.cid = p.q_cell,
           (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) q),
    {", ".join(luts)},
    shortlist AS (
      SELECT codes.vec_id, c_cells.cell, ROUND({dist}, 9) AS approx_dist
      FROM codes
      JOIN c_cells USING (vec_id)
      JOIN probe ON c_cells.cell = probe.q_cell{join_luts}
      WHERE codes.vec_id <> 0{del_sql}
      ORDER BY approx_dist, codes.vec_id LIMIT {rerank_factor * k})
    SELECT s.vec_id, s.cell, s.approx_dist,
           ROUND({_L2_SQL.format(e='e.embedding', c='q.q_emb')}, 9)
             AS exact_dist
    FROM shortlist s JOIN embeddings e ON s.vec_id = e.vec_id,
         (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) q
    ORDER BY exact_dist, s.vec_id LIMIT {k}
    """


def _ivfpq_append_oracle_sql(split: int | str = _APPEND_SPLIT_SQL,
                             k: int = 5, nprobe: int = 2,
                             rerank_factor: int = PQ_RERANK) -> str:
    """Append-index serve in DuckDB: train every Lloyd chain on the
    BASE subset only (``src`` parameterization), then assign ALL
    vectors (base + appended) to the frozen centroids/codebooks —
    mirroring the two-pass Spark build argmin-for-argmin."""
    sub = "list_transform(list_zip({a}, {b}), " \
          "x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
    i = IVF_ITERS
    chains, alls, luts, join_luts = [], [], [], ""
    for j in range(PQ_M):
        lo, hi = j * PQ_SUB_DIM + 1, (j + 1) * PQ_SUB_DIM
        emb = f"e.embedding[{lo}:{hi}]"
        chains.append(_kmeans_cells_sql(i, PQ_K, PQ_SUB_DIM, emb=emb,
                                        prefix=f"s{j}_", src="res_base",
                                        seed_stride=RES_SEED_STRIDE))
        alls.append(f"""s{j}_all AS (
          SELECT vec_id, cid AS code{j} FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY {_L2_SQL.format(e=f'({emb})', c='c.cemb')},
                                c.cid) AS rn
            FROM res e, s{j}_cent{i} c) WHERE rn = 1)""")
        luts.append(f"""lut{j} AS (
          SELECT r.q_cell, c.cid AS code{j},
                 ROUND({_L2_SQL.format(e=f'(r.qr[{lo}:{hi}])',
                                       c='c.cemb')}, 9) AS d{j}
          FROM s{j}_cent{i} c, qres r)""")
        join_luts += (f" JOIN lut{j} ON lut{j}.q_cell = all_cells.cell"
                      f" AND lut{j}.code{j} = codes.code{j}")
    code_cols = ", ".join(f"s{j}_all.code{j}" for j in range(PQ_M))
    froms = "s0_all" + "".join(
        f" JOIN s{j}_all USING (vec_id)" for j in range(1, PQ_M))
    dist = " + ".join(f"d{j}" for j in range(PQ_M))
    qe_all = "list_transform(e.embedding, x -> CAST(x AS DOUBLE))"
    return f"""
    WITH base AS (SELECT * FROM embeddings WHERE vec_id < ({split})),
    {_kmeans_cells_sql(i, _derived_k_sql("base"), DIM, prefix="c_", src="base")},
    all_cells AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_L2_SQL.format(e=f'({qe_all})', c='c.cemb')},
                            c.cid) AS rn
        FROM embeddings e, c_cent{i} c) WHERE rn = 1),
    probe AS (
      SELECT cid AS q_cell FROM c_cent{i} c,
           (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
            FROM embeddings WHERE vec_id = 0) q
      ORDER BY {_L2_SQL.format(e='(q.qe)', c='c.cemb')}, cid
      LIMIT {nprobe}),
    res AS (
      SELECT e.vec_id,
             {sub.format(a='e.embedding', b='c.cemb')} AS embedding
      FROM embeddings e
      JOIN all_cells cc USING (vec_id)
      JOIN c_cent{i} c ON c.cid = cc.cell),
    res_base AS (SELECT * FROM res WHERE vec_id < ({split})),
    {", ".join(chains)},
    {", ".join(alls)},
    codes AS (SELECT s0_all.vec_id, {code_cols} FROM {froms}),
    qres AS (
      SELECT p.q_cell,
             {sub.format(a='q.q_emb', b='c.cemb')} AS qr
      FROM probe p
      JOIN c_cent{i} c ON c.cid = p.q_cell,
           (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) q),
    {", ".join(luts)},
    shortlist AS (
      SELECT codes.vec_id, all_cells.cell, ROUND({dist}, 9) AS approx_dist
      FROM codes
      JOIN all_cells USING (vec_id)
      JOIN probe ON all_cells.cell = probe.q_cell{join_luts}
      WHERE codes.vec_id <> 0
      ORDER BY approx_dist, codes.vec_id LIMIT {rerank_factor * k})
    SELECT s.vec_id, s.cell, s.approx_dist,
           ROUND({_L2_SQL.format(e='e.embedding', c='q.q_emb')}, 9)
             AS exact_dist
    FROM shortlist s JOIN embeddings e ON s.vec_id = e.vec_id,
         (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) q
    ORDER BY exact_dist, s.vec_id LIMIT {k}
    """


def _ann_batch_oracle_sql(n_queries: int = ANN_BATCH_Q, k: int = 5,
                          nprobe: int = 2,
                          rerank_factor: int = PQ_RERANK) -> str:
    """Batch residual-ADC serve in DuckDB: the residual oracle's
    chains (full-corpus training) with the query side generalized to
    a Q-row relation — per-query probes, per-(query, cell) LUTs, and
    per-query ROW_NUMBER shortlist/rank windows."""
    sub = "list_transform(list_zip({a}, {b}), " \
          "x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
    i = IVF_ITERS
    chains, luts, join_luts = [], [], ""
    for j in range(PQ_M):
        lo, hi = j * PQ_SUB_DIM + 1, (j + 1) * PQ_SUB_DIM
        emb = f"e.embedding[{lo}:{hi}]"
        chains.append(_kmeans_cells_sql(i, PQ_K, PQ_SUB_DIM, emb=emb,
                                        prefix=f"s{j}_", src="res",
                                        seed_stride=RES_SEED_STRIDE))
        luts.append(f"""lut{j} AS (
          SELECT r.q_id, r.q_cell, c.cid AS code{j},
                 ROUND({_L2_SQL.format(e=f'(r.qr[{lo}:{hi}])',
                                       c='c.cemb')}, 9) AS d{j}
          FROM s{j}_cent{i} c, qres r)""")
        join_luts += (f" JOIN lut{j} ON lut{j}.q_id = probe.q_id"
                      f" AND lut{j}.q_cell = c_cells.cell"
                      f" AND lut{j}.code{j} = codes.code{j}")
    code_cols = ", ".join(f"s{j}_cells.cell AS code{j}" for j in range(PQ_M))
    froms = "s0_cells" + "".join(
        f" JOIN s{j}_cells USING (vec_id)" for j in range(1, PQ_M))
    dist = " + ".join(f"d{j}" for j in range(PQ_M))
    return f"""
    WITH {_kmeans_cells_sql(i, _derived_k_sql(), DIM, prefix="c_")},
    qs AS (SELECT vec_id AS q_id, embedding AS q_emb
           FROM embeddings WHERE vec_id < {n_queries}),
    probe AS (
      SELECT q_id, q_cell FROM (
        SELECT q.q_id, c.cid AS q_cell,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {_L2_SQL.format(
                     e='list_transform(q.q_emb, x -> CAST(x AS DOUBLE))',
                     c='c.cemb')}, c.cid) AS rn
        FROM c_cent{i} c, qs q) WHERE rn <= {nprobe}),
    res AS (
      SELECT e.vec_id,
             {sub.format(a='e.embedding', b='c.cemb')} AS embedding
      FROM embeddings e
      JOIN c_cells cc USING (vec_id)
      JOIN c_cent{i} c ON c.cid = cc.cell),
    {", ".join(chains)},
    codes AS (
      SELECT s0_cells.vec_id, {code_cols}
      FROM {froms}),
    qres AS (
      SELECT p.q_id, p.q_cell,
             {sub.format(a='q.q_emb', b='c.cemb')} AS qr
      FROM probe p
      JOIN c_cent{i} c ON c.cid = p.q_cell
      JOIN qs q ON q.q_id = p.q_id),
    {", ".join(luts)},
    scored AS (
      SELECT probe.q_id, codes.vec_id, c_cells.cell,
             ROUND({dist}, 9) AS approx_dist
      FROM codes
      JOIN c_cells USING (vec_id)
      JOIN probe ON c_cells.cell = probe.q_cell{join_luts}
      WHERE codes.vec_id <> probe.q_id),
    shortlist AS (
      SELECT q_id, vec_id, cell, approx_dist FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY approx_dist, vec_id) AS srn
        FROM scored) WHERE srn <= {rerank_factor * k})
    SELECT q_id, vec_id, cell, approx_dist, exact_dist,
           CAST(rn AS INT) AS rank
    FROM (SELECT x.*, ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY exact_dist, vec_id) AS rn
          FROM (SELECT s.q_id, s.vec_id, s.cell, s.approx_dist,
                       ROUND({_L2_SQL.format(e='e.embedding',
                                             c='q.q_emb')}, 9)
                         AS exact_dist
                FROM shortlist s
                JOIN embeddings e ON s.vec_id = e.vec_id
                JOIN qs q ON q.q_id = s.q_id) x)
    WHERE rn <= {k}
    """


def _ann_index_build_oracle_sql() -> str:
    """From-scratch retraining of the residual-IVFADC artifacts in
    DuckDB (same CTE generators the residual query oracle pins),
    aggregated to the per-cell build summary — the Spark side reads
    the MANIFEST-committed artifacts, so a hash match proves the
    atomic publish preserved training bit-for-bit."""
    sub = "list_transform(list_zip({a}, {b}), " \
          "x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
    chains = []
    for j in range(PQ_M):
        lo, hi = j * PQ_SUB_DIM + 1, (j + 1) * PQ_SUB_DIM
        emb = f"e.embedding[{lo}:{hi}]"
        chains.append(_kmeans_cells_sql(IVF_ITERS, PQ_K, PQ_SUB_DIM,
                                        emb=emb, prefix=f"s{j}_",
                                        src="res",
                                        seed_stride=RES_SEED_STRIDE))
    code_cols = ", ".join(f"s{j}_cells.cell AS code{j}" for j in range(PQ_M))
    froms = "s0_cells" + "".join(
        f" JOIN s{j}_cells USING (vec_id)" for j in range(1, PQ_M))
    code_sum = " + ".join(f"code{j}" for j in range(PQ_M))
    return f"""
    WITH {_kmeans_cells_sql(IVF_ITERS, _derived_k_sql(), DIM, prefix="c_")},
    res AS (
      SELECT e.vec_id,
             {sub.format(a='e.embedding', b='c.cemb')} AS embedding
      FROM embeddings e
      JOIN c_cells cc USING (vec_id)
      JOIN c_cent{IVF_ITERS} c ON c.cid = cc.cell),
    {", ".join(chains)},
    codes AS (
      SELECT s0_cells.vec_id, {code_cols}
      FROM {froms})
    SELECT cc.cell,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM({code_sum}) AS BIGINT) AS code_sum,
           MIN(cn.cent_norm) AS cent_norm
    FROM c_cells cc
    JOIN codes USING (vec_id)
    JOIN (SELECT cid AS cell,
                 ROUND({_NORM_SQL.format(c='cemb')}, 6) AS cent_norm
          FROM c_cent{IVF_ITERS}) cn USING (cell)
    GROUP BY cc.cell
    """


def _banded_pairs_sql(min_cos: float) -> str:
    """Banded sign-LSH candidate pairs + exact verify, parameterized
    on the verify threshold — shared by the near-dup (0.4) and ANN
    (0.2) surfaces, mirroring the shared Spark kernel."""
    return f"""
        WITH sig AS ({_sig_sql(N_EMB_PLANES)}),
        banded AS (
          SELECT s.vec_id, b.b AS band,
                 substr(s.bucket, b.b * {N_EMB_PLANES // N_EMB_BANDS} + 1,
                        {N_EMB_PLANES // N_EMB_BANDS}) AS bsig,
                 e.embedding
          FROM sig s JOIN embeddings e ON s.vec_id = e.vec_id,
               (SELECT unnest(range({N_EMB_BANDS})) AS b) b)
        SELECT vec_a, vec_b, cosine_sim FROM (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 MAX(ROUND(list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
                           x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') /
                       ({_NORM_SQL.format(c='a.embedding')} * {_NORM_SQL.format(c='b.embedding')}),
                       6)) AS cosine_sim
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bsig = b.bsig AND a.vec_id < b.vec_id
          GROUP BY 1, 2)
        WHERE cosine_sim >= {min_cos}
        """


# bm25 oracle reused by q_rrf_fusion's composed oracle (no cycle:
# text.py imports nothing from this module)
from .text import SPECS as _TEXT_SPECS  # noqa: E402

_TOPK_COS_ORACLE = f"""
        SELECT vec_id, label,
               ROUND({_DOT_Q_SQL} /
                     ({_NORM_SQL.format(c='embedding')} * {_NORM_SQL.format(c='q.q_emb')}), 6)
                 AS cosine_sim
        FROM embeddings, (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) q
        WHERE vec_id <> 0
        ORDER BY cosine_sim DESC, vec_id LIMIT 10
        """

#: Shared VERBATIM by `q_ann_filtered` (in-query) and
#: `q_ann_filtered_from_index` (committed-index serve): probe the
#: nprobe nearest cells by the same rounded L2 / lowest-cid order as
#: the Spark kernel, then exact cosine over the label-filtered
#: candidates within them.
_ANN_FILTERED_ORACLE = f"""
    WITH {_kmeans_cells_sql(k=_derived_k_sql())},
    q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
    probe AS (
      SELECT cid AS q_cell
      FROM cent{IVF_ITERS} c, q
      ORDER BY {_L2_SQL.format(e='q.q_emb', c='c.cemb')}, c.cid
      LIMIT {ANN_FILTER_NPROBE})
    SELECT e.vec_id, cells.cell, e.label,
           ROUND(list_aggregate(list_transform(list_zip(e.embedding, q.q_emb),
                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') /
                 ({_NORM_SQL.format(c='e.embedding')} * {_NORM_SQL.format(c='q.q_emb')}),
                 6) AS cosine_sim
    FROM embeddings e
    JOIN cells ON e.vec_id = cells.vec_id
    JOIN probe ON cells.cell = probe.q_cell
    CROSS JOIN q
    WHERE e.vec_id <> 0
      AND e.label IN {sql_in_list(ANN_FILTER_LABELS)}
    ORDER BY cosine_sim DESC, e.vec_id LIMIT 5
    """

#: Monitor oracle: retrain the coarse quantizer (the committed cells
#: equal from-scratch training bit-for-bit — the `q_ann_index_build`
#: argument), then the same exact-integer per-cell rollup over the
#: tombstone fixture.
_DV_FRACTION_ORACLE = f"""
    WITH {_kmeans_cells_sql(k=_derived_k_sql())}
    SELECT cell,
           CAST(COUNT(*) FILTER (vec_id NOT IN
                {sql_in_list(FORGET_VEC_IDS)}) AS BIGINT) AS n_live,
           CAST(COUNT(*) FILTER (vec_id IN
                {sql_in_list(FORGET_VEC_IDS)}) AS BIGINT) AS n_tombstoned,
           COUNT(*) FILTER (vec_id IN {sql_in_list(FORGET_VEC_IDS)}) * 100
             > {DV_REWRITE_PCT} * COUNT(*) AS rewrite_due
    FROM cells GROUP BY cell ORDER BY cell
    """

#: Shared by q_dedup_semantic and its committed-index serve twin: the
#: committed ``cells`` artifact equals from-scratch training
#: bit-for-bit (the q_ann_query_from_index argument), so one oracle
#: replaying the full Lloyd chain proves both.  Since r13 the pair
#: search carries the same within-cell banded sign-LSH restriction as
#: the Spark kernel (VERDICT r12 item 3) — same deterministic planes
#: as the near-dup surface's `_banded_pairs_sql`.
_SEMANTIC_DEDUP_ORACLE = f"""
    WITH {_kmeans_cells_sql(k=_derived_k_sql())},
    sig AS ({_sig_sql(SEM_PLANES)}),
    banded AS (
      SELECT c.vec_id, c.cell, b.b AS band,
             substr(s.bucket, b.b * {SEM_PLANES // SEM_BANDS} + 1,
                    {SEM_PLANES // SEM_BANDS}) AS bsig
      FROM cells c JOIN sig s USING (vec_id),
           (SELECT unnest(range({SEM_BANDS})) AS b) b),
    cand AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
      FROM banded a JOIN banded b
        ON a.cell = b.cell AND a.band = b.band AND a.bsig = b.bsig
       AND b.vec_id < a.vec_id),
    withv AS (
      SELECT vec_id, embedding FROM embeddings),
    dup AS (
      SELECT DISTINCT c.va AS vec_id
      FROM cand c JOIN withv a ON a.vec_id = c.va
      JOIN withv b ON b.vec_id = c.vb
      WHERE ROUND(list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
                      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') /
                  ({_NORM_SQL.format(c='a.embedding')} * {_NORM_SQL.format(c='b.embedding')}),
                  6) >= {SEMANTIC_COS})
    SELECT c.vec_id, c.cell, d.vec_id IS NULL AS keep
    FROM cells c LEFT JOIN dup d ON c.vec_id = d.vec_id
    """

def _semdedup_recall_oracle_sql() -> str:
    """Monitor oracle (q_semdedup_recall_report): retrain the coarse
    quantizer (committed cells ≡ from-scratch training — the
    q_ann_query_from_index argument), then for probe ids < the bound
    emit every EXACT within-cell dup pair (no band filter — the
    ground-truth arm) with band_hit = the 32/8 banded candidate
    stage would have surfaced it (OR over the 8 per-band substring
    equalities of the same deterministic plane signatures)."""
    r = SEM_PLANES // SEM_BANDS
    cos = ("list_aggregate(list_transform(list_zip(p.embedding, o.embedding), "
           "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') / ("
           + _NORM_SQL.format(c='p.embedding') + " * "
           + _NORM_SQL.format(c='o.embedding') + ")")
    bands = " OR ".join(
        f"substr(p.bucket, {b * r + 1}, {r}) = substr(o.bucket, {b * r + 1}, {r})"
        for b in range(SEM_BANDS))
    return f"""
    WITH {_kmeans_cells_sql(k=_derived_k_sql())},
    sig AS ({_sig_sql(SEM_PLANES)}),
    side AS (
      SELECT c.vec_id, c.cell, s.bucket, e.embedding
      FROM cells c JOIN sig s USING (vec_id)
      JOIN embeddings e USING (vec_id))
    SELECT p.vec_id AS probe_id, o.vec_id AS vec_o, p.cell,
           ROUND({cos}, 6) AS cosine_sim,
           ({bands}) AS band_hit
    FROM side p JOIN side o
      ON p.cell = o.cell AND o.vec_id <> p.vec_id
    WHERE p.vec_id < {SEMDEDUP_PROBE_MAX}
      AND ROUND({cos}, 6) >= {SEMANTIC_COS}
    """

#: Margin tail shared by the exact and ANN-probed bitext oracles:
#: everything downstream of a ``p(src_id, tgt_id, cos)`` CTE — k-NN
#: means over the candidate lists (divide by the ACTUAL top-k count,
#: ADVICE r11), ratio margin, forward-mine.
_BITEXT_TAIL_SQL = f"""kx AS (
      SELECT src_id,
             CAST(SUM(CAST(cos AS DECIMAL(30,10))) AS DOUBLE)
               / COUNT(*) AS ax
      FROM (SELECT src_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY src_id
                       ORDER BY cos DESC, tgt_id) AS rn FROM p)
      WHERE rn <= {MARGIN_K} GROUP BY src_id),
    ky AS (
      SELECT tgt_id,
             CAST(SUM(CAST(cos AS DECIMAL(30,10))) AS DOUBLE)
               / COUNT(*) AS ay
      FROM (SELECT tgt_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY tgt_id
                       ORDER BY cos DESC, src_id) AS rn FROM p)
      WHERE rn <= {MARGIN_K} GROUP BY tgt_id),
    m AS (
      SELECT p.src_id, p.tgt_id, p.cos,
             ROUND(p.cos / ((kx.ax + ky.ay) / 2), 6) AS margin
      FROM p JOIN kx USING (src_id) JOIN ky USING (tgt_id)),
    best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                    ORDER BY margin DESC, tgt_id) AS rn FROM m)
    SELECT src_id, tgt_id, ROUND(cos, 6) AS cosine_sim, margin
    FROM best WHERE rn = 1 AND margin >= {MARGIN_THRESHOLD}
    """

_BITEXT_COS_SQL = f"""ROUND(list_aggregate(list_transform(list_zip(xe, ye),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
               'sum')
           / ({_NORM_SQL.format(c='xe')}
              * {_NORM_SQL.format(c='ye')}), 9)"""

# (the retired q_bitext_mine's exact-margin oracle generator was
# deleted with it — the tail/cos fragments above serve the three
# registered index-backed forms)

def _bitext_index_oracle_sql(vec_filter: str = "") -> str:
    """ANN-probed candidate generation: the oracle retrains the
    coarse quantizer from scratch (bit-identical to the committed
    artifacts — trained on the FULL corpus, matching the frozen-
    quantizer DV semantics), probes each source's nprobe nearest
    cells, and restricts the pair set to targets committed to those
    cells — then the shared margin tail runs over exactly that
    candidate set.  ``vec_filter`` (the erasure twin passes an
    ``AND e.vec_id NOT IN (...)``) applies to BOTH language sides —
    never to the training scan."""
    return f"""
    WITH {_kmeans_cells_sql(k=_derived_k_sql())},
    x AS (
      SELECT e.vec_id AS src_id, e.embedding AS xe
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
      WHERE d.lang = '{BITEXT_SRC_LANG}'{vec_filter}),
    y AS (
      SELECT e.vec_id AS tgt_id, e.embedding AS ye, c.cell
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
      JOIN cells c ON c.vec_id = e.vec_id
      WHERE d.lang = '{BITEXT_TGT_LANG}'{vec_filter}),
    probe AS (
      SELECT src_id, cell FROM (
        SELECT x.src_id, c.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY x.src_id
                   ORDER BY {_L2_SQL.format(e='x.xe', c='c.cemb')},
                            c.cid) AS rn
        FROM x, cent{IVF_ITERS} c) WHERE rn <= {BITEXT_NPROBE}),
    p AS (
      SELECT pr.src_id, y.tgt_id, {_BITEXT_COS_SQL} AS cos
      FROM probe pr JOIN x ON x.src_id = pr.src_id
      JOIN y ON y.cell = pr.cell),
    {_BITEXT_TAIL_SQL}"""


_BITEXT_FROM_INDEX_ORACLE = _bitext_index_oracle_sql()

#: Append-serve oracle: coarse quantizer retrained on the BASE subset
#: (frozen-quantizer semantics, `q_ann_index_append`'s proof shape),
#: ALL vectors assigned to the frozen centroids, sources restricted
#: to the new batch, probe + equi-join candidates, shared margin tail.
_BITEXT_APPEND_ORACLE = f"""
    WITH base AS (SELECT * FROM embeddings
                  WHERE vec_id < {_APPEND_SPLIT_SQL}),
    {_kmeans_cells_sql(IVF_ITERS, _derived_k_sql("base"), DIM,
                       prefix="c_", src="base")},
    all_cells AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_L2_SQL.format(
                       e="(list_transform(e.embedding,"
                         " x -> CAST(x AS DOUBLE)))",
                       c='c.cemb')}, c.cid) AS rn
        FROM embeddings e, c_cent{IVF_ITERS} c) WHERE rn = 1),
    x AS (
      SELECT e.vec_id AS src_id, e.embedding AS xe
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
      WHERE d.lang = '{BITEXT_SRC_LANG}'
        AND e.vec_id >= {_APPEND_SPLIT_SQL}),
    y AS (
      SELECT e.vec_id AS tgt_id, e.embedding AS ye, c.cell
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
      JOIN all_cells c ON c.vec_id = e.vec_id
      WHERE d.lang = '{BITEXT_TGT_LANG}'),
    probe AS (
      SELECT src_id, cell FROM (
        SELECT x.src_id, c.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY x.src_id
                   ORDER BY {_L2_SQL.format(e='x.xe', c='c.cemb')},
                            c.cid) AS rn
        FROM x, c_cent{IVF_ITERS} c) WHERE rn <= {BITEXT_NPROBE}),
    p AS (
      SELECT pr.src_id, y.tgt_id, {_BITEXT_COS_SQL} AS cos
      FROM probe pr JOIN x ON x.src_id = pr.src_id
      JOIN y ON y.cell = pr.cell),
    {_BITEXT_TAIL_SQL}"""

#: Monitor oracle: retrain the coarse quantizer from scratch (the
#: committed artifacts equal it bit-for-bit — the
#: q_ann_query_from_index argument), exact best-cosine target per
#: probe source, probed-cell membership, and the production miner's
#: pair (the full index-serve oracle nested as a subquery).
_BITEXT_RECALL_ORACLE = f"""
    WITH {_kmeans_cells_sql(k=_derived_k_sql())},
    x AS (
      SELECT e.vec_id AS src_id, e.embedding AS xe
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
      WHERE d.lang = '{BITEXT_SRC_LANG}'
        AND e.vec_id < {BITEXT_PROBE_MAX}),
    y AS (
      SELECT e.vec_id AS tgt_id, e.embedding AS ye, c.cell
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
      JOIN cells c ON c.vec_id = e.vec_id
      WHERE d.lang = '{BITEXT_TGT_LANG}'),
    best AS (
      SELECT src_id, tgt_id AS exact_tgt, ROUND(cos, 6) AS best_cos,
             cell AS tcell FROM (
        SELECT x.src_id, y.tgt_id, y.cell, {_BITEXT_COS_SQL} AS cos,
               ROW_NUMBER() OVER (PARTITION BY x.src_id
                   ORDER BY {_BITEXT_COS_SQL} DESC, y.tgt_id) AS rn
        FROM x, y) WHERE rn = 1),
    probe AS (
      SELECT src_id, cell FROM (
        SELECT x.src_id, c.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY x.src_id
                   ORDER BY {_L2_SQL.format(e='x.xe', c='c.cemb')},
                            c.cid) AS rn
        FROM x, cent{IVF_ITERS} c) WHERE rn <= {BITEXT_NPROBE}),
    idx AS (
      SELECT src_id, tgt_id FROM ({_bitext_index_oracle_sql()})
      WHERE src_id < {BITEXT_PROBE_MAX})
    SELECT b.src_id, b.exact_tgt, b.best_cos,
           pr.src_id IS NOT NULL AS cand_hit,
           idx.tgt_id AS index_tgt
    FROM best b
    LEFT JOIN probe pr ON pr.src_id = b.src_id AND pr.cell = b.tcell
    LEFT JOIN idx ON idx.src_id = b.src_id
    """

#: Shared by q_proto_prune and its committed-index serve twin (same
#: bit-for-bit argument as above).
_PROTO_PRUNE_ORACLE = f"""
    WITH {_kmeans_cells_sql(k=_derived_k_sql())},
    d AS (
      SELECT e.vec_id, cells.cell,
             {_L2_SQL.format(e='e.embedding', c='c.cemb')} AS dist
      FROM embeddings e JOIN cells ON e.vec_id = cells.vec_id
      JOIN cent{IVF_ITERS} c ON cells.cell = c.cid),
    r AS (
      SELECT vec_id, cell, dist,
             ROW_NUMBER() OVER (PARTITION BY cell
                                ORDER BY dist, vec_id) AS proto_rank,
             COUNT(*) OVER (PARTITION BY cell) AS cnt
      FROM d)
    SELECT vec_id, cell, dist, CAST(proto_rank AS INT) AS proto_rank
    FROM r WHERE proto_rank > CAST(ceil(cnt * {PROTO_DROP}) AS BIGINT)
    """

SPECS: dict[str, Spec] = {
    "q_topk_cosine": Spec(
        lambda spark, sf: topk_cosine(load_table(spark, sf, "embeddings")),
        _TOPK_COS_ORACLE,
        "C3 brute-force cosine top-k (exact baseline)"),
    "q_mrl_rerank": Spec(
        lambda spark, sf: mrl_rerank_topk(load_table(spark, sf,
                                                     "embeddings")),
        f"""
        WITH q AS (SELECT embedding[1:{MRL_PREFIX}] AS q_pfx,
                          embedding AS q_emb
                   FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT vec_id, label, embedding, q.q_emb,
                 list_aggregate(list_transform(
                     list_zip(embedding[1:{MRL_PREFIX}], q.q_pfx),
                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
                   'sum')
                 / ({_NORM_SQL.format(c=f'embedding[1:{MRL_PREFIX}]')}
                    * {_NORM_SQL.format(c='q.q_pfx')}) AS pfx_sim
          FROM embeddings, q WHERE vec_id <> 0),
        short AS (SELECT * FROM scored
                  ORDER BY pfx_sim DESC, vec_id LIMIT {MRL_SHORTLIST})
        SELECT vec_id, label,
               ROUND({_DOT_Q_SQL.replace('q.q_emb', 'q_emb')} /
                     ({_NORM_SQL.format(c='embedding')}
                      * {_NORM_SQL.format(c='q_emb')}), 6) AS cosine_sim,
               ROUND(pfx_sim, 6) AS prefix_sim
        FROM short ORDER BY cosine_sim DESC, vec_id LIMIT 10
        """,
        "Matryoshka progressive re-rank: 32-dim prefix ranks the "
        "corpus (2x fold/IO cut), 100-row shortlist re-ranked with the "
        "exact full-dim cosine (Kusupati et al. 2022; the prefix IS "
        "the coarse quantizer — no codebook to train)"),
    "q_ann_ivfpq": Spec(
        lambda spark, sf: ann_ivfpq_topk(load_table(spark, sf, "embeddings")),
        _ivfpq_oracle_sql(),
        "IVF+PQ composed (FAISS IVFADC shape): coarse cells prune the "
        "scan to nprobe cells, ADC ranks their code columns, exact "
        "re-rank of the shortlist — both kernels reused verbatim from "
        "their standalone pinned queries"),
    "q_ann_ivfpq_residual": Spec(
        lambda spark, sf: ann_ivfpq_residual_topk(
            load_table(spark, sf, "embeddings")),
        _ivfpq_residual_oracle_sql(),
        "residual-encoded IVFADC (Jégou et al. 2011 §IV / FAISS "
        "IndexIVFPQ default): PQ codebooks trained on x − c(cell(x)), "
        "per-probed-cell query LUTs, (cell, code) ADC joins — equal "
        "m/k byte budget, better within-cell resolution (recall "
        "comparison pinned in tests)"),
    "q_ann_index_build": Spec(
        ann_index_build_summary,
        _ann_index_build_oracle_sql(),
        "train-once half of the ANN serving split: coarse centroids + "
        "cells + residual PQ codes + codebook published as FOUR "
        "manifest tables in ONE atomic catalog pass, summary read back "
        "through the manifest (oracle retrains from scratch — hash "
        "match proves the committed artifacts equal training "
        "bit-for-bit)"),
    "q_ann_forget": Spec(
        ann_query_after_forget,
        _ivfpq_residual_oracle_sql(deleted=FORGET_VEC_IDS),
        "right-to-be-forgotten for the ANN index via deletion "
        "vectors (Delta DV shape): one tiny tombstone table, "
        "cells/codes files untouched; serve anti-joins the DV at "
        "candidate time — oracle replays the residual-IVFADC rebuild "
        "with the same NOT IN, so logical erasure is candidate-exact"),
    "q_dv_fraction": Spec(
        lambda spark, sf: dv_fraction_report(spark, sf),
        _DV_FRACTION_ORACLE,
        "erasure MONITOR (VERDICT r9 item 2): per-cell live vs "
        "tombstoned membership + the exact-integer rewrite decision, "
        "a rollup over two committed artifacts (cells + DV) — the "
        "DV-debt signal gating the physical-application actuator; "
        "both decision values live in the contract fixture"),
    "q_ann_dv_rewrite": Spec(
        ann_query_after_dv_rewrite,
        _ivfpq_residual_oracle_sql(deleted=FORGET_VEC_IDS),
        "erasure ACTUATOR serve: physical DV application rewrote "
        "ONLY the files of rewrite-due cells (decision versioned in "
        "the same atomic pass); the not-due remainder stays a "
        "logical DV — the serve composes both phases, oracle = "
        "rebuild minus ALL tombstones, so the phase boundary is "
        "candidate-exact"),
    "q_ann_retrain": Spec(
        ann_query_after_retrain,
        _ivfpq_residual_oracle_sql(trained_without=FORGET_VEC_IDS),
        "global-retrain erasure actuator serve (the build_ann_index "
        "rerun the dv_decision's retrain_due flag names): quantizers "
        "retrained on live vectors only, empty DV, four artifacts + "
        "decision in one atomic pass — oracle filters the tombstones "
        "from the TRAINING input itself, so the hash gate proves "
        "zero residue: the index is a function of live vectors only"),
    "q_ann_query_from_index": Spec(
        ann_query_from_index,
        _ivfpq_residual_oracle_sql(),
        "serve-only residual IVFADC: reads ONLY the four committed "
        "index artifacts + the query vector; zero Lloyd iterations in "
        "the plan (pinned in test_plans) — same oracle as "
        "q_ann_ivfpq_residual, so build/serve must rank identically"),
    "q_pca_project": Spec(
        pca_project_query,
        None,  # eigendecomposition is not SQL-expressible: rows-only;
        #        orthonormality / variance-equals-eigenvalue /
        #        eigenvalue-order pins in test_similarity
        "PCA with the train-once/serve split: distributed covariance "
        "+ D-row means feed a driver-side 64x64 eigh (sign-"
        "canonicalized basis) published as manifest artifacts "
        "(components + pre-folded offsets); serve is a map-only "
        "(x-mu)@V projection against broadcast literal components — "
        "the decorrelation step before clustering or coarse ANN"),
    "q_mahalanobis": Spec(
        mahalanobis_query,
        None,  # PCA-model-derived (eigh): rows-only; mean-md2 == p
        #        and numpy-equality pins in test_similarity
        "embedding outlier top-k via PCA-whitened Mahalanobis "
        "distance over the committed model (md2 = sum_c ((x-mu)@v_c)^2"
        "/lam_c): map-only serve + TakeOrdered heap, zero training in "
        "the query path — the statistical data-cleaning filter for an "
        "embedding column"),
    "q_embed_covariance": Spec(
        lambda spark, sf: embedding_covariance(
            load_table(spark, sf, "embeddings")),
        _EMBED_COV_ORACLE,
        "population covariance of the embedding corpus (upper "
        "triangle, D(D+1)/2 rows) — the PCA/whitening/Mahalanobis "
        "input artifact; in-row outer-product explode with map-side "
        "combine (shuffle carries O(D^2) rows, never O(n*D^2)), "
        "decimal-exact sums, one fixed double combine expression"),
    "q_ann_batch_queries": Spec(
        ann_batch_query_from_index,
        _ann_batch_oracle_sql(),
        "amortized BATCH serve from the committed index: 8 top-k "
        "searches in ONE pass over the code columns — probed rows fan "
        "out only to the queries probing their cell, LUTs are one "
        "(q, cell, code)-keyed broadcast, shortlist + re-rank are "
        "per-query WindowGroupLimit heaps; the 1/Q scan amortization "
        "is why vector serving batches queries at 100 TB"),
    "q_ann_recall_report": Spec(
        ann_recall_report,
        _ann_recall_oracle_sql(),
        "index quality monitor: per-query recall@k of the committed "
        "residual-IVFADC index vs the exact L2 ground truth over the "
        "probe set — the per-rebuild evaluation artifact that decides "
        "nprobe bumps / retrains; integer hit counts divide once at "
        "the end (engine-exact)"),
    "q_ann_index_append": Spec(
        ann_query_from_appended_index,
        _ivfpq_append_oracle_sql(),
        "incremental index maintenance (the FAISS add() shape): new "
        "vectors encoded with the FROZEN base-trained quantizers (one "
        "assignment pass, zero Lloyd iterations) and appended to "
        "cells+codes in ONE atomic multi-table catalog pass (version "
        "1 = base index stays time-travelable); serve reads the "
        "appended head through the shared serve kernel — the oracle "
        "retrains on base and encodes everything from scratch, so the "
        "hash match proves append encoding is exact"),
    "q_graph_jaccard": Spec(
        lambda spark, sf: graph_jaccard(load_table(spark, sf,
                                                   "embeddings")),
        f"""
        WITH pairs AS ({_banded_pairs_sql(KNN_MIN_COS)}),
        sym AS (
          SELECT vec_a AS src, vec_b AS dst FROM pairs
          UNION ALL SELECT vec_b, vec_a FROM pairs),
        deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
                FROM sym GROUP BY src),
        common AS (
          SELECT e1.src AS vec_a, e2.src AS vec_b,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM sym e1 JOIN sym e2
            ON e1.dst = e2.dst AND e1.src < e2.src
          GROUP BY e1.src, e2.src)
        SELECT c.vec_a, c.vec_b, c.n_common,
               da.deg AS deg_a, db.deg AS deg_b,
               ROUND(CAST(c.n_common AS DOUBLE)
                     / (da.deg + db.deg - c.n_common), 6) AS jaccard
        FROM common c
        JOIN deg da ON da.src = c.vec_a
        JOIN deg db ON db.src = c.vec_b
        ORDER BY jaccard DESC, vec_a, vec_b LIMIT {JACC_TOP}
        """,
        "neighborhood-Jaccard link prediction over the near-dup graph "
        "(compact wedge equi-join + broadcast degree joins; integer "
        "counts make the ratio engine-exact; template-family signal "
        "even for non-colliding pairs)"),
    "q_knn_graph": Spec(
        lambda spark, sf: knn_graph(load_table(spark, sf, "embeddings")),
        f"""
        WITH pairs AS ({_banded_pairs_sql(KNN_MIN_COS)}),
        sym AS (
          SELECT vec_a AS src, vec_b AS dst, cosine_sim FROM pairs
          UNION ALL
          SELECT vec_b AS src, vec_a AS dst, cosine_sim FROM pairs)
        SELECT src, dst, cosine_sim, CAST(rn AS INT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                  ORDER BY cosine_sim DESC, dst) AS rn FROM sym)
        WHERE rn <= {KNN_K}
        """,
        "kNN graph over banded-LSH candidates: symmetrized verified "
        "pairs, per-node exact top-k via WindowGroupLimit (graph-based "
        "sampling/label-prop artifact)"),
    "q_negative_pairs": Spec(
        lambda spark, sf: negative_pairs(load_table(spark, sf, "embeddings")),
        f"""
        WITH pairs AS ({_banded_pairs_sql(KNN_MIN_COS)}),
        near AS (
          SELECT vec_a AS vec_id, vec_b AS neg_id FROM pairs
          UNION ALL
          SELECT vec_b AS vec_id, vec_a AS neg_id FROM pairs),
        bounds AS (SELECT MAX(vec_id) AS max_id FROM embeddings),
        cands AS (
          SELECT e.vec_id, CAST(i.i AS BIGINT) AS i,
                 CAST('0x' || substr(md5('{NEG_SEED}:'
                      || CAST(e.vec_id AS VARCHAR) || ':'
                      || CAST(i.i AS VARCHAR)), 1, 8) AS BIGINT)
                   % (b.max_id + 1) AS neg_id
          FROM embeddings e,
               (SELECT unnest(generate_series(1, {NEG_K * NEG_OVERSAMPLE}))
                  AS i) i,
               bounds b),
        kept AS (
          SELECT c.vec_id, c.neg_id, MIN(c.i) AS i
          FROM cands c
          JOIN (SELECT DISTINCT vec_id AS neg_id FROM embeddings) x
            USING (neg_id)
          WHERE c.neg_id <> c.vec_id
            AND NOT EXISTS (SELECT 1 FROM near n
                            WHERE n.vec_id = c.vec_id
                              AND n.neg_id = c.neg_id)
          GROUP BY c.vec_id, c.neg_id)
        SELECT vec_id, neg_id, CAST(i AS INT) AS draw,
               CAST(rn AS INT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                  ORDER BY i, neg_id) AS rn FROM kept)
        WHERE rn <= {NEG_K}
        """,
        "contrastive negative mining: salted-hash candidate draws, "
        "near-dup anti-join (banded-LSH surface as the false-negative "
        "filter), first-k surviving draws per anchor"),
    "q_rrf_fusion": Spec(
        lambda spark, sf: rrf_fusion(load_table(spark, sf, "documents"),
                                     load_table(spark, sf, "embeddings")),
        f"""
        WITH bm AS ({{bm25}}),
        cs AS ({_TOPK_COS_ORACLE}),
        bmr AS (SELECT doc_id AS id,
                       CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                            AS INT) AS bm25_rank
                FROM bm),
        csr AS (SELECT vec_id AS id,
                       CAST(ROW_NUMBER() OVER (ORDER BY cosine_sim DESC,
                                               vec_id) AS INT) AS cos_rank
                FROM cs)
        SELECT COALESCE(bmr.id, csr.id) AS id, bm25_rank, cos_rank,
               ROUND(COALESCE(1.0 / ({RRF_K} + bm25_rank), 0.0)
                     + COALESCE(1.0 / ({RRF_K} + cos_rank), 0.0), 6) AS rrf
        FROM bmr FULL OUTER JOIN csr ON bmr.id = csr.id
        ORDER BY rrf DESC, id LIMIT 10
        """.replace("{bm25}", _TEXT_SPECS["q_bm25"].oracle),
        "hybrid retrieval: reciprocal-rank fusion of the BM25 lexical "
        "list and the cosine vector list (score-free fusion; ranks from "
        "the two pinned contract lists)"),
    "q_hybrid_from_index": Spec(
        lambda spark, sf: hybrid_from_index(spark, sf),
        f"""
        WITH bm AS ({{bm25}}),
        vec AS ({_ivfpq_residual_oracle_sql()}),
        bmr AS (SELECT doc_id AS id,
                       CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                            AS INT) AS bm25_rank
                FROM bm),
        vr AS (SELECT vec_id AS id,
                      CAST(ROW_NUMBER() OVER (ORDER BY exact_dist,
                                              vec_id) AS INT) AS vec_rank
               FROM vec)
        SELECT COALESCE(bmr.id, vr.id) AS id, bm25_rank, vec_rank,
               ROUND(COALESCE(1.0 / ({RRF_K} + bm25_rank), 0.0)
                     + COALESCE(1.0 / ({RRF_K} + vec_rank), 0.0), 6) AS rrf
        FROM bmr FULL OUTER JOIN vr ON bmr.id = vr.id
        ORDER BY rrf DESC, id LIMIT 10
        """.replace("{bm25}", _TEXT_SPECS["q_bm25"].oracle),
        "serve-split hybrid retrieval (the production RAG serving "
        "query): committed inverted index + committed residual-IVFADC "
        "index, RRF-fused — training lives in the artifacts; oracle "
        "recomputes both legs from raw data"),
    "q_embed_norms": Spec(
        lambda spark, sf: embedding_norms(load_table(spark, sf, "embeddings")),
        f"""
        SELECT vec_id, label, CAST(len(embedding) AS INT) AS dim,
               ROUND({_NORM_SQL.format(c='embedding')}, 6) AS l2_norm
        FROM embeddings
        """,
        "embedding L2 norm kernel"),
    "q_ann_lsh_buckets": Spec(
        lambda spark, sf: bucket_histogram(load_table(spark, sf, "embeddings")),
        f"""
        SELECT bucket, COUNT(*) AS n_vecs FROM ({_SIG_SQL}) GROUP BY bucket
        """,
        "sign-LSH bucket occupancy (ANN scale path, skew diagnostic)"),
    "q_dedup_embedding": Spec(
        lambda spark, sf: dedup_embedding_pairs(load_table(spark, sf, "embeddings")),
        _banded_pairs_sql(0.4),
        "embedding near-dup pairs: banded sign-LSH candidates (16 planes, "
        "4 bands) + exact verify — APPROXIMATE contract: measured recall "
        "~52% on near-threshold cos≈0.4 pairs (sf0.001, vs exact audit), "
        "→1 for true duplicates (cos→1); zero false positives"),
    "q_ann_filtered": Spec(
        lambda spark, sf: ann_ivf_filtered_topk(
            load_table(spark, sf, "embeddings")),
        _ANN_FILTERED_ORACLE,
        "metadata-filtered ANN (FAISS IDSelector / filtered search): "
        "label predicate PRE-filters candidates inside the probed "
        "cells before scoring (post-filtering under-fills k); the "
        "predicate pushes into the parquet scan"),
    "q_ann_filtered_from_index": Spec(
        ann_filtered_from_index,
        _ANN_FILTERED_ORACLE,
        "filtered-ANN serve over the COMMITTED index (centroids + "
        "cells read from the catalog, zero training in the plan) — "
        "shares q_ann_filtered's oracle verbatim: per-query "
        "predicates over a per-snapshot index is the production "
        "serving shape"),
    "q_ann_ivf": Spec(
        lambda spark, sf: ann_ivf_topk(load_table(spark, sf, "embeddings")),
        f"""
        WITH {_kmeans_cells_sql(k=_derived_k_sql())}
        SELECT e.vec_id, cells.cell,
               ROUND(list_aggregate(list_transform(list_zip(e.embedding, q.q_emb),
                         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') /
                     ({_NORM_SQL.format(c='e.embedding')} * {_NORM_SQL.format(c='q.q_emb')}),
                     6) AS cosine_sim
        FROM embeddings e
        JOIN cells ON e.vec_id = cells.vec_id
        JOIN (SELECT c2.cell AS q_cell, e2.embedding AS q_emb
              FROM cells c2 JOIN embeddings e2 ON c2.vec_id = e2.vec_id
              WHERE c2.vec_id = 0) q ON cells.cell = q.q_cell
        WHERE e.vec_id <> 0
        ORDER BY cosine_sim DESC, e.vec_id LIMIT 5
        """,
        "ANN via IVF with Lloyd-iterated k-means centroids (nprobe=1 path; "
        "nprobe>1 recall pinned in tests)"),
    "q_dedup_semantic": Spec(
        lambda spark, sf: semantic_dedup(load_table(spark, sf, "embeddings")),
        _SEMANTIC_DEDUP_ORACLE,
        "SemDeDup-shaped semantic dedup: k-means cells bound the pair "
        "search; deterministic lowest-id keeper within cluster"),
    "q_dedup_semantic_from_index": Spec(
        semantic_dedup_from_index,
        _SEMANTIC_DEDUP_ORACLE,
        "SemDeDup over the COMMITTED ANN index's cell assignment — "
        "zero Lloyd in the plan; re-dedup after append/threshold "
        "change pays only the within-cell pair join (serve-split "
        "twin of q_dedup_semantic)"),
    "q_semdedup_recall_report": Spec(
        semdedup_recall_report,
        _semdedup_recall_oracle_sql(),
        "committed recall monitor for the banded (approximate) "
        "semantic dedup: bounded probe set, exact unfiltered "
        "within-cell dup pairs vs the 32/8 band candidate stage "
        "(band_hit = stage-1 candidate recall) — the per-rebuild "
        "drift signal every other approximate family already has"),
    "q_ivf_postings": Spec(
        lambda spark, sf: ivf_postings(load_table(spark, sf, "embeddings")),
        f"""
        WITH {_kmeans_cells_sql(k=_derived_k_sql())}
        SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               STRING_AGG(CAST(vec_id AS VARCHAR), ',' ORDER BY vec_id)
                 AS postings
        FROM cells GROUP BY cell
        """,
        "IVF index build: per-cell posting lists + occupancy (the ANN "
        "serving artifact; occupancy doubles as the rebalance signal)"),
    "q_ivf_rebalance": Spec(
        lambda spark, sf: ivf_rebalance_report(spark, sf),
        _ivf_rebalance_oracle_sql(),
        "IVF maintenance acting on the occupancy/recall signals (r7 "
        "VERDICT item 4): split over-occupied cells via parallel "
        "per-cell 2-means, merge starved cells into nearest surviving "
        "centroids, re-encode ONLY moved vectors with the frozen "
        "codebook; published as shallow-clone v1 + overlay v2 "
        "(centroids replace + cells/codes deltas — write cost "
        "∝ |moved|+K).  Oracle replays the full rebalance in unrolled "
        "SQL; recall non-degradation + time-travel pins in "
        "test_similarity"),
    "q_topk_cosine_incremental": Spec(
        incremental_topk_query,
        f"""
        SELECT vec_id, label,
               ROUND({_DOT_Q_SQL} /
                     ({_NORM_SQL.format(c='embedding')} * {_NORM_SQL.format(c='q.q_emb')}), 6)
                 AS cosine_sim
        FROM embeddings, (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) q
        WHERE vec_id <> 0
        ORDER BY cosine_sim DESC, vec_id LIMIT 10
        """,
        "incremental streaming top-k (foreachBatch O(k)-state merge; "
        "monotone merge ⇒ exact batch answer, same oracle as q_topk_cosine)"),
    "q_ann_pq": Spec(
        lambda spark, sf: ann_pq_topk(load_table(spark, sf, "embeddings")),
        _pq_oracle_sql(),
        "ANN via product quantization + ADC lookup (16× compression; "
        "query never reads original vectors)"),
    "q_topk_cosine_pandas": Spec(
        lambda spark, sf: topk_cosine_pandas(load_table(spark, sf, "embeddings")),
        f"""
        SELECT vec_id, label,
               ROUND({_DOT_Q_SQL} /
                     ({_NORM_SQL.format(c='embedding')} * {_NORM_SQL.format(c='q.q_emb')}), 6)
                 AS cosine_sim
        FROM embeddings, (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) q
        WHERE vec_id <> 0
        ORDER BY cosine_sim DESC, vec_id LIMIT 10
        """,
        "C3 via Arrow-vectorized pandas_udf (UDF-surface pin; same oracle)"),
    "q_ann_lsh_pairs": Spec(
        lambda spark, sf: ann_lsh_pairs(load_table(spark, sf, "embeddings")),
        _banded_pairs_sql(0.2),
        "ANN via banded sign-LSH (16 planes / 4 bands, OR-amplified) + "
        "exact verify — recall ~35% at cos≥0.2 vs ~1.3% for the round-3 "
        "AND-only bucket join (floor pinned in tests)"),
    "q_quantize_int8": Spec(
        lambda spark, sf: quantized_topk(load_table(spark, sf, "embeddings")),
        """
        WITH stepped AS (
          SELECT vec_id, label, embedding,
                 greatest(list_max(list_transform(embedding,
                                                  v -> abs(CAST(v AS DOUBLE)))),
                          1e-30) / 127.0 AS step
          FROM embeddings),
        coded AS (
          SELECT vec_id, label,
                 list_transform(embedding,
                                x -> greatest(-127.0, least(127.0,
                                     floor(CAST(x AS DOUBLE) / step + 0.5))))
                   AS codes
          FROM stepped),
        q AS (SELECT codes AS q_codes FROM coded WHERE vec_id = 0)
        SELECT vec_id, label,
               ROUND(list_aggregate(list_transform(list_zip(codes, q.q_codes),
                                                   x -> x[1] * x[2]), 'sum')
                     / (sqrt(list_aggregate(list_transform(codes, v -> v * v),
                                            'sum'))
                        * sqrt(list_aggregate(list_transform(q.q_codes,
                                                             v -> v * v),
                                              'sum'))), 6) AS cos_q,
               CAST(len(list_filter(codes, v -> abs(v) = 127.0)) AS INT)
                 AS n_saturated
        FROM coded, q
        WHERE vec_id <> 0
        ORDER BY cos_q DESC, vec_id LIMIT 10
        """,
        "int8 symmetric quantization + quantized-cosine top-k (4× scan "
        "compression; integer-exact scores — scale cancels in cosine)"),
    "q_ann_binary": Spec(
        lambda spark, sf: binary_ann_topk(load_table(spark, sf, "embeddings")),
        _binary_ann_oracle_sql(),
        "ANN via 1-bit binary quantization (sign bits packed into two "
        "BIGINT words, 16× scan cut) — XOR+POPCNT Hamming shortlist, "
        "exact cosine re-rank; integer-exact candidate metric"),
    "q_mmr_rerank": Spec(
        lambda spark, sf: mmr_rerank(load_table(spark, sf, "embeddings")),
        _mmr_oracle_sql(),
        "MMR diversity re-rank (Carbonell 1998): distributed shortlist "
        "+ pairwise sims, bounded-collect greedy; oracle unrolls the "
        "k greedy steps as chained CTEs"),
    "q_proto_prune": Spec(
        lambda spark, sf: proto_prune(load_table(spark, sf, "embeddings")),
        _PROTO_PRUNE_ORACLE,
        "prototypicality pruning (SSL-prototypes / D4): drop the "
        f"{PROTO_DROP:.0%} of each k-means cluster nearest its "
        "centroid — train + one ranked scan, no pair join; the "
        "data-pruning complement of SemDeDup"),
    "q_proto_prune_from_index": Spec(
        proto_prune_from_index,
        _PROTO_PRUNE_ORACLE,
        "prototypicality prune scored against the COMMITTED "
        "centroids/cells — zero Lloyd in the plan, and the n*K "
        "argmin sweep collapses to one broadcast equi-join on the "
        "stored assignment (serve-split twin of q_proto_prune)"),
    # q_bitext_mine retired from the contract in round 13 (VERDICT
    # r12 item 2): its stage-1 all-pairs crossJoin (sf1 slope 8.48)
    # follows the brute_force_embedding_pairs precedent — the exact
    # form lives on as the test-only recall audit + the bounded
    # exact arm of q_bitext_recall_report.
    "q_bitext_append": Spec(
        bitext_append,
        _BITEXT_APPEND_ORACLE,
        "bitext mining for a NEW source batch against the COMMITTED "
        "appended index (frozen base-trained quantizers, candidates "
        "from one equi-join on the committed assignment): the "
        "incremental miner — probe cost tracks |batch|, the corpus "
        "is never re-mined (append symmetry, the "
        "q_ann_index_append shape)"),
    "q_bitext_recall_report": Spec(
        bitext_recall_report,
        _BITEXT_RECALL_ORACLE,
        "committed mining-quality monitor: per probe-source pair "
        "agreement between the index-backed miner and the bounded "
        "exact audit (the q_ann_recall_report pattern — completes "
        "the monitor symmetry with ANN recall and BM25 MRR)"),
    "q_bitext_from_index": Spec(
        bitext_from_index,
        _BITEXT_FROM_INDEX_ORACLE,
        "bitext mining with stage-1 candidates from the COMMITTED "
        "ANN index: per-source nprobe cell probe + ONE equi-join on "
        "the committed assignment replaces the exact cross-join "
        "between language sides; the probe's k-NN lists make the "
        "margin denominators free (the production miner; recall "
        "floor pinned vs the test-only exact audit, and monitored "
        "per rebuild by q_bitext_recall_report)"),
    "q_bitext_forget": Spec(
        bitext_after_forget,
        _bitext_index_oracle_sql(
            f" AND e.vec_id NOT IN {sql_in_list(FORGET_VEC_IDS)}"),
        "bitext mining over the DV-ERASED index head (the erasure "
        "composition DEPLOY.md promises for index-backed selection "
        "serves): tombstones anti-joined at candidate time on BOTH "
        "language sides, frozen quantizers (the documented DV "
        "residue); oracle trains on the full corpus and applies the "
        "same NOT IN — the q_ann_forget proof shape"),
    "q_kcenter_coreset": Spec(
        lambda spark, sf: kcenter_coreset(load_table(spark, sf,
                                                     "embeddings")),
        _kcenter_oracle_sql(),
        "greedy k-center coreset (Gonzalez 1985 / Sener & Savarese "
        "2018): k−1 farthest-point rounds over a running dmin column "
        "— one scan per round, TakeOrdered(1) argmax, radius column "
        "certifies the 2-approximation"),
}
