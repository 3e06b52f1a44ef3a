"""Training-data pipeline operators (driver north star, SURVEY.md §2.C+).

Ops a 100 TB LLM-data pipeline needs beyond per-row transforms, each
expressed Spark-first and oracle-checked against DuckDB:

- dedup clustering:   connected components over LSH candidate pairs
                      (iterative min-label propagation; recursive-CTE
                      oracle) — turns pairwise near-dup hits into
                      keep/drop decisions
- repetition signals: Gopher-style quality stats (top-token /
                      top-bigram fractions, distinct-token ratio)
- PII scrubbing:      regex redaction (emails, phone numbers) with
                      per-doc redaction counts
- stratified sample:  deterministic hash-based mixture sampling
                      (per-language rates; reproducible re-runs, no RNG
                      state — the way mixtures are cut at scale)
- sequence packing:   greedy fixed-token-budget packing of docs into
                      training sequences (inherently sequential per
                      group → ``applyInPandas``; oracle = recursive CTE)
- interval join:      time-window overlap self-join on events, bucketed
                      so it stays an equi-join shuffle (no O(n²) cross)
- salted aggregation: explicit two-stage skew-resistant aggregate
                      (count-distinct split into distinct-then-count)

Scale notes per op live in the docstrings.  None of these collect data
to the driver; the only driver-side values are loop-convergence scalars
in connected components (O(iterations) longs).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import dec, ws_tokens
from ..spec import Spec, sql_in_list
from .dedup import (CANON_MD5_SQL, _MINHASH_SQL, N_BANDS, N_HASHES,
                    _shingles_sql, minhash_lsh_pairs)
from .text import (FUZZY_PAIRS_CTE_SQL, GOPHER_MAX_MEAN_LEN,
                   GOPHER_MAX_SYMBOL_RATIO, GOPHER_MAX_WORDS,
                   GOPHER_MIN_ALPHA_FRAC, GOPHER_MIN_MEAN_LEN,
                   GOPHER_MIN_STOPWORDS, GOPHER_MIN_WORDS, _HITS_SQL)

# --- C2+: dedup clustering (connected components) -------------------------


def dedup_clusters_minlabel(documents: DataFrame) -> DataFrame:
    """TEST-ONLY equivalence audit kernel for `dedup_clusters` — NOT
    registered (VERDICT r13 item 1, the q_bitext_mine precedent one
    family later): min-label propagation converges in O(graph
    diameter) SEQUENTIAL rounds, and the r13 bench proved the
    degradation is real serialization, not box noise — at sf1 its
    wall hit 24.3 s (slope 6.83) at the SAME process-tree CPU as the
    O(log n) star kernel's 7.8 s (slope 2.07): the cluster sits idle
    between barriers as the amplified corpus's duplicate components
    grow longer chains.  The registered `q_dedup_clusters` rides the
    star kernel; this form survives only as the independent
    implementation the equivalence property in test_pipeline checks
    the star labels against.

    Algorithm: iterative min-label propagation — each round every node
    takes ``min(own label, neighbors' labels)``; fixpoint = component
    minimum.  Rounds are plain shuffles (join + groupBy), converging in
    O(graph diameter).

    Scale design: iteration runs ONLY over nodes that appear in an edge
    (near-dup graphs are sparse — the overwhelming majority of docs are
    singletons and never enter the loop); singletons are restored with
    a left join at the end.  ``localCheckpoint`` truncates the lineage
    each round so the plan doesn't grow exponentially.  Convergence is
    detected by the (monotonically decreasing) sum of labels — one
    scalar per round to the driver, never rows.
    """
    pairs = minhash_lsh_pairs(documents).select("doc_a", "doc_b")
    edges = (pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
             .union(pairs.select(F.col("doc_b").alias("src"),
                                 F.col("doc_a").alias("dst")))
             .localCheckpoint(eager=True))
    labels = (edges.select(F.col("src").alias("doc_id")).distinct()
              .withColumn("cluster_id", F.col("doc_id"))
              .localCheckpoint(eager=True))
    prev_sum = None
    converged = False
    for _ in range(30):  # diameter bound; tiny for near-dup chains
        msgs = (edges.join(labels, edges.src == labels.doc_id)
                .select(F.col("dst").alias("doc_id"), "cluster_id"))
        # lazy checkpoint: the convergence aggregate below materializes
        # it in the same job (eager=True would cost a second job/round)
        labels = (labels.union(msgs)
                  .groupBy("doc_id").agg(F.min("cluster_id").alias("cluster_id"))
                  .localCheckpoint(eager=False))
        cur_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # silent non-convergence would emit non-minimal (wrong)
        # cluster ids; refuse like the star kernel does (a component
        # with diameter > 30 needs dedup_clusters' O(log n) star
        # rounds, not more propagation)
        raise RuntimeError(
            "min-label propagation did not converge within 30 rounds; "
            "use connected_components_star for long-chain graphs")
    return (documents.select("doc_id")
            .join(labels, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"))
            .withColumn("is_keeper", F.col("cluster_id") == F.col("doc_id")))


def connected_components_star(edges: DataFrame,
                              max_rounds: int = 25) -> tuple[DataFrame, int]:
    """Connected components by alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond" —
    public algorithm): each round rewires every edge toward the
    smallest node seen in its neighborhood, contracting paths in
    O(log n) rounds where min-label propagation needs O(diameter).

    ``edges`` is an undirected edge list (src, dst), either
    orientation; returns ``(labels, rounds)`` with one (node, label =
    component minimum) row per edge-touching node.

    Both stars are pure groupBy-min + equi-join — no per-node
    neighbor lists are ever materialized (a collect_list formulation
    would recreate the hot-node skew this variant exists to kill).
    Per round: 2 shuffles (group + join) per star; convergence via one
    scalar (count + order-insensitive hash-sum of the edge set) per
    round, never rows to the driver.  ``localCheckpoint`` truncates
    lineage so the plan stays O(1) across rounds."""
    # canonicalize (u > v), drop self-loops/dups
    u = F.greatest("src", "dst").alias("u")
    v = F.least("src", "dst").alias("v")
    cur = (edges.select(u, v).filter(F.col("u") != F.col("v"))
           .distinct().localCheckpoint(eager=True))
    prev_sig = None
    rounds = 0
    converged = False
    for _ in range(max_rounds):
        rounds += 1
        # large-star: from each node's smaller endpoint view, connect
        # every LARGER neighbor to min(Γ(x) ∪ {x})
        sym = cur.union(cur.select(F.col("v").alias("u"),
                                   F.col("u").alias("v")))
        mins = (sym.groupBy("u")
                .agg(F.least(F.min("v"), F.first("u")).alias("m")))
        large = (sym.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v")).distinct())
        # small-star: on canonical edges, connect every neighbor (and
        # the node itself) to the neighborhood minimum
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (large.join(smins, "u")
                 .select(F.col("v").alias("a"), F.col("m").alias("b"))
                 .union(smins.select(F.col("u").alias("a"),
                                     F.col("m").alias("b")))
                 .filter(F.col("a") != F.col("b"))
                 .select(F.greatest("a", "b").alias("u"),
                         F.least("a", "b").alias("v"))
                 .distinct().localCheckpoint(eager=False))
        sig = small.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: a long sum of 64-bit hashes
            # overflows under ANSI arithmetic
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h")
        ).collect()[0]
        cur = small
        if prev_sig == (sig.n, sig.h):
            converged = True
            break
        prev_sig = (sig.n, sig.h)
    if not converged:
        # A non-star (non-converged) edge set can carry several label
        # rows per node; silently returning it would propagate
        # nondeterministic duplicate doc_ids downstream (round-2
        # advisor).  Star convergence is O(log n) rounds, so hitting
        # the cap means the input (or a bug) broke the contraction
        # invariant — fail loudly rather than emit conflicting labels.
        raise RuntimeError(
            f"connected_components_star: edge-set signature did not "
            f"stabilize within max_rounds={max_rounds}; refusing to "
            f"emit possibly-conflicting labels")
    labels = (cur.select(F.col("u").alias("node"), F.col("v").alias("label"))
              .union(cur.select(F.col("v").alias("node"),
                                F.col("v").alias("label")))
              .distinct())
    return labels, rounds


def dedup_clusters(documents: DataFrame) -> DataFrame:
    """Connected components over MinHash-LSH candidate pairs → one
    ``cluster_id`` (= min doc_id of the component) per document;
    ``is_keeper`` marks the canonical survivor — the end of the
    near-dup pipeline's decision stage, feeding `dedup_apply` /
    `dedup_keep_best`.

    Kernel: large-star/small-star contraction (`connected_components_
    star`), O(log n) rounds regardless of component diameter.  Since
    r14 this IS the only registered CC kernel (VERDICT r13 item 1):
    min-label propagation's O(diameter) sequential rounds measured
    sf1 slope 6.83 / wall 24.3 s at the same process-CPU as star's
    7.8 s — real serialization, degrading exactly when dedup matters
    most (template families and boilerplate farms make components
    LONGER as the corpus grows).  The propagation form survives as
    `dedup_clusters_minlabel`, the test-only independent
    implementation the equivalence property checks this one against
    (same component-min contract, same recursive-CTE oracle)."""
    pairs = minhash_lsh_pairs(documents).select("doc_a", "doc_b")
    labels, _ = connected_components_star(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")))
    return (documents.select("doc_id")
            .join(labels, documents.doc_id == labels.node, "left")
            .select("doc_id",
                    F.coalesce("label", F.col("doc_id")).alias("cluster_id"))
            .withColumn("is_keeper", F.col("cluster_id") == F.col("doc_id")))


def dedup_apply(documents: DataFrame) -> DataFrame:
    """The end of the near-dup pipeline: keep exactly one document per
    cluster (the component-minimum doc_id) and drop the rest — LSH
    pairs → connected components → semi-join back onto the corpus.
    The keeper set is one row per retained doc_id; the final filter is
    a left-semi join (no payload duplication, no shuffle of text)."""
    keepers = (dedup_clusters(documents)
               .filter(F.col("is_keeper")).select("doc_id"))
    return (documents.join(keepers, "doc_id", "left_semi")
            .select("doc_id", "lang", "source", "n_chars"))


def dedup_keep_best(documents: DataFrame) -> DataFrame:
    """Quality-aware keeper selection for near-dup clusters — the
    FineWeb/RefinedWeb refinement of `dedup_apply`: instead of the
    arbitrary component-minimum doc_id, each cluster keeps its BEST
    member (longest document; ties broken by doc_id), on the theory
    that within a template family the longest variant carries the
    most content.

    Shape: the CC labels (`dedup_clusters` — same kernel, same
    candidate graph) joined with the per-doc length, then one
    row_number window per cluster (order n_chars DESC, doc_id ASC).
    The window partitions on cluster_id — near-dup clusters are tiny
    (measured max 4 members at sf0.1) so no partition skew; text
    never enters the window, only (doc_id, cluster_id, n_chars).
    At 100 TB this rides the committed cluster artifact the dedup
    pipeline materializes anyway; swapping `n_chars` for any
    committed quality score is a one-column change."""
    from pyspark.sql import Window

    clusters = dedup_clusters(documents).select("doc_id", "cluster_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id")
    return (documents.select("doc_id", "n_chars")
            .join(clusters, "doc_id")
            .select("doc_id", "cluster_id", "n_chars",
                    (F.row_number().over(w) == 1).alias("is_keeper")))


QUALITY_QUANTILE = 0.75  # per-source keep threshold (nearest-rank)


def quality_quantile_filter(documents: DataFrame,
                            q: float = QUALITY_QUANTILE) -> DataFrame:
    """Per-source ADAPTIVE quality thresholding — the curation move
    that a single global cutoff gets wrong: each source keeps its own
    top (1−q) fraction by alpha-ratio quality score, so a uniformly
    noisy source is trimmed as aggressively as a clean one (per-domain
    quantile filtering, the DataComp/FineWeb ablation shape).

    The threshold is the EXACT nearest-rank quantile (the score at
    row ⌈q·n⌉ in (score, doc_id) order) — deterministic under ties
    and reproducible in any engine, unlike interpolated percentiles
    whose float blends differ.  Shape: one scored projection (integer
    counts → one IEEE division), a per-source row_number/count window
    to locate the threshold row, a broadcast join of the ≤|sources|
    threshold rows back, and one aggregate.  At 100 TB the exact
    per-source sort is the verification contract; production swaps in
    `approx_percentile` (mergeable sketch, no sort) with this query
    as its audit — same substitution the percentile note in SCALE.md
    §relational documents.  Emits per-source (n_docs, threshold,
    n_kept)."""
    from pyspark.sql import Window

    score = (F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
             / F.col("n_chars"))
    scored = documents.select("doc_id", "source", score.alias("score"))
    w = Window.partitionBy("source").orderBy("score", "doc_id")
    ranked = scored.select(
        "source", "score",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"))
    thr = (ranked
           .filter(F.col("rn") == F.ceil(F.lit(q) * F.col("n")))
           .select("source", F.col("score").alias("thr")))
    return (scored.join(F.broadcast(thr), "source")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.max("thr"), 6).alias("threshold"),
                 F.sum((F.col("score") >= F.col("thr")).cast("long"))
                 .alias("n_kept")))


# --- graph ranking over the near-dup graph ---------------------------------

PR_DAMPING = 0.85
PR_ITERS = 3


def pagerank(documents: DataFrame, iters: int = PR_ITERS,
             damping: float = PR_DAMPING) -> DataFrame:
    """PageRank over the MinHash-LSH near-duplicate graph — the
    canonical-document / centrality signal: within a template family,
    the highest-rank doc is the best keeper, and rank mass flags
    boilerplate hubs.  (Same edge input as dedup_clusters; CC answers
    "which group", this answers "who matters inside it".)

    Power iteration with a FIXED round count (``iters``), so the oracle
    unrolls to a CTE chain — no convergence scalar needed.  Each round
    is one equi-join (edges ⋈ ranks) + one partial-aggregated groupBy —
    the standard distributed PageRank shape; like the CC kernels, only
    edge-touching nodes iterate.  Cross-engine float discipline:
    per-edge contributions are IEEE-double ops (identical everywhere),
    per-node sums accumulate in DECIMAL(38,18) (order-independent), and
    each round's rank is rounded to 12 dp so residual last-bit drift
    cannot compound across rounds.  ``edges`` is localCheckpointed once
    — it feeds deg + every round; without it the whole LSH pipeline
    would re-run per round."""
    pairs = minhash_lsh_pairs(documents).select("doc_a", "doc_b")
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .unionAll(pairs.select(F.col("doc_b").alias("src"),
                                    F.col("doc_a").alias("dst")))
             .localCheckpoint(eager=True))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n = deg.count() or 1  # O(1) scalar; graph is empty only if no pairs
    # round() collapses 1-0.85 = 0.15000…02 to the same double the
    # oracle's literal 0.15 parses to
    base = round(1.0 - damping, 10) / n
    state = deg.select(F.col("src").alias("doc_id"), "outdeg",
                       F.lit(1.0 / n).alias("pr"))
    for _ in range(iters):
        contrib = (edges.join(state, edges.src == state.doc_id)
                   .select(F.col("dst"),
                           (F.col("pr") / F.col("outdeg")).alias("c")))
        sums = (contrib.groupBy("dst")
                .agg(F.sum(F.col("c").cast("decimal(38,18)"))
                     .cast("double").alias("s")))
        state = (deg.join(sums, deg.src == sums.dst)
                 .select(F.col("src").alias("doc_id"), "outdeg",
                         F.round(F.lit(base)
                                 + F.lit(damping) * F.col("s"), 12).alias("pr")))
    return state.select("doc_id", F.round("pr", 6).alias("pagerank"))


LPA_ROUNDS = 4


def communities_lpa(documents: DataFrame,
                    rounds: int = LPA_ROUNDS) -> DataFrame:
    """Community detection via SYNCHRONOUS label propagation (Raghavan
    et al. 2007) over the MinHash-LSH near-dup graph — the
    template-family detector that differs from connected components
    (`dedup_clusters`) exactly where it matters: CC merges everything
    reachable, LPA splits a weakly-bridged blob into its dense
    sub-communities, because each node adopts the label MOST FREQUENT
    among its neighbors, not the minimum reachable label.

    Determinism (the published LPA is randomized; this one is not):
    synchronous rounds with a FIXED count (unrolled oracle, the
    pagerank/Lloyd discipline), every node starts labeled with its own
    id, each node ALSO votes for its own current label (the standard
    stabilizer — without it a synchronous pair component oscillates
    a↔b forever and even round counts silently undo every merge), and
    frequency ties break to the smallest label — expressed as ONE
    aggregate per round, ``min(struct(-n, lbl))``, so the update is a
    join + two map-side-combined groupBys, never a per-node sort.
    Like the CC kernels, only edge-touching nodes iterate; isolated
    docs aren't communities.  At 100 TB each round shuffles ≤|E| label
    rows — the LPA shape GraphX/Pregel runs, without driver state."""
    pairs = minhash_lsh_pairs(documents).select("doc_a", "doc_b")
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .unionAll(pairs.select(F.col("doc_b").alias("src"),
                                    F.col("doc_a").alias("dst")))
             .localCheckpoint(eager=True))   # feeds every round
    return _lpa_propagate(edges, rounds)


def _lpa_propagate(edges: DataFrame, rounds: int) -> DataFrame:
    """The propagation loop over a symmetric (src, dst) edge table —
    factored so tests can drive it with hand graphs (the barbell
    differentiator in test_pipeline)."""
    labels = (edges.select("src").distinct()
              .select(F.col("src").alias("doc_id"),
                      F.col("src").alias("lbl")))
    for _ in range(rounds):
        neigh = (edges.join(labels, edges.dst == labels.doc_id)
                 .select("src", "lbl")
                 .unionAll(labels.select(F.col("doc_id").alias("src"),
                                         "lbl")))
        counts = (neigh.groupBy("src", "lbl")
                  .agg(F.count(F.lit(1)).alias("n")))
        # Each round references `labels` TWICE (neighbor join +
        # self-vote union), so without truncation the logical plan
        # doubles the prior round's subtree per round (2^rounds
        # growth).  Lazy localCheckpoint per round keeps lineage
        # one-round deep, matching the Lloyd/pagerank/CC kernels
        # (r7 ADVICE).
        labels = (counts.groupBy("src")
                  .agg(F.min(F.struct((-F.col("n")).alias("nn"),
                                      F.col("lbl"))).alias("w"))
                  .select(F.col("src").alias("doc_id"),
                          F.col("w.lbl").alias("lbl"))
                  .localCheckpoint(eager=False))
    return labels.select("doc_id", F.col("lbl").alias("community"))


def _lpa_oracle_sql(rounds: int = LPA_ROUNDS) -> str:
    """Synchronous LPA unrolled to a CTE chain; the mode-with-min-tie
    winner is an independent spelling (ROW_NUMBER over (n DESC, lbl))
    of the engine's min(struct(-n, lbl))."""
    parts, prev = [], "lbl0"
    for r in range(1, rounds + 1):
        parts.append(f"""lbl{r} AS MATERIALIZED (
          SELECT src AS doc_id, lbl FROM (
            SELECT v.src, v.lbl,
                   ROW_NUMBER() OVER (PARTITION BY v.src
                                      ORDER BY COUNT(*) DESC, v.lbl)
                     AS rn
            FROM (SELECT e.src, p.lbl
                  FROM edges e JOIN {prev} p ON e.dst = p.doc_id
                  UNION ALL
                  SELECT doc_id, lbl FROM {prev}) v
            GROUP BY v.src, v.lbl)
          WHERE rn = 1)""")
        prev = f"lbl{r}"
    return f"""
    WITH {_LSH_PAIRS_SQL},
    edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs),
    lbl0 AS MATERIALIZED (
      SELECT DISTINCT src AS doc_id, src AS lbl FROM edges),
    {", ".join(parts)}
    SELECT doc_id, lbl AS community FROM {prev}
    """


# --- multi-dimensional data layout (Z-order) --------------------------------

ZORDER_BITS = 4   # bits per dimension → 256 z-cells
ZORDER_FILES = 16  # z-contiguous file groups


def zorder_layout(events: DataFrame, bits: int = ZORDER_BITS,
                  n_files: int = ZORDER_FILES) -> DataFrame:
    """Z-order (Morton-curve) clustering for multi-dimensional data
    skipping: bucket two independent query dimensions (user,
    time-of-day), interleave their bits into a z-value, group rows into
    z-contiguous "files", and emit each file's min/max range on BOTH
    dims — exactly the footer stats a scan would prune with.

    Why this matters at 100 TB: sorting by (user) alone makes user
    predicates prunable but time predicates scan every file; the
    z-curve bounds BOTH ranges per file (each file covers a small
    square-ish region of the grid), so either predicate skips most
    files.  The write path is ``repartitionByRange(n_files, zval)`` +
    ``sortWithinPartitions(zval)`` — a single range shuffle; this
    contract query emits the resulting layout-quality table
    (deterministic, engine-checkable).  All bit ops are integer
    arithmetic — bit-identical across engines."""
    xb = F.pmod("user_id", F.lit(1 << bits)).cast("int")
    minutes = F.hour("ts") * 60 + F.minute("ts")
    yb = F.floor(minutes / F.lit(1440 // (1 << bits))).cast("int")
    z = F.lit(0)
    for i in range(bits):
        z = (z
             + F.shiftleft(F.shiftright(xb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
             + F.shiftleft(F.shiftright(yb, i).bitwiseAND(F.lit(1)), 2 * i))
    cells_per_file = (1 << (2 * bits)) // n_files
    staged = events.select(
        xb.alias("xb"), yb.alias("yb"),
        F.floor(z / F.lit(cells_per_file)).cast("int").alias("zfile"))
    return (staged.groupBy("zfile")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("xb").alias("x_min"), F.max("xb").alias("x_max"),
                 F.min("yb").alias("y_min"), F.max("yb").alias("y_max")))


# --- C4+: Gopher-style repetition signals ---------------------------------


def _repetition_counts_np(documents: DataFrame) -> DataFrame:
    """Per-doc repetition-stat counts for `repetition_signals` (the r14
    signature-kernel pattern): one mapInPandas pass computes the INTEGER
    counts — token count, distinct tokens, top-token multiplicity,
    char sum, bigram count, top-bigram multiplicity — in Python
    (tokenize + Counter) instead of interpreted higher-order
    array_sort/aggregate folds with struct state per row
    (CodegenFallback; measured 3.3 s at sf0.1 for 4000 docs).  Every
    emitted value is an exact integer (mode multiplicity == longest
    run in the sorted array; Python ``len`` and Spark ``length`` both
    count code points; ``text.split(' ')`` == Spark ``split`` with
    limit −1), so there is no IEEE story — the ratio arithmetic stays
    in Spark expressions."""
    src = documents.select("doc_id", "text")
    dt = src.schema["doc_id"].dataType.simpleString()
    schema = (f"doc_id {dt}, tok_n bigint, tok_distinct bigint, "
              "tok_top bigint, tok_chars bigint, bg_n bigint, "
              "bg_top bigint")

    def stats(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            out = {k: [] for k in ("tok_n", "tok_distinct", "tok_top",
                                   "tok_chars", "bg_n", "bg_top")}
            for text in pdf["text"]:
                toks = text.split(" ")
                tc = Counter(toks)
                npos = max(len(toks) - 1, 1)
                bgs = Counter(" ".join(toks[i:i + 2])
                              for i in range(npos))
                out["tok_n"].append(len(toks))
                out["tok_distinct"].append(len(tc))
                out["tok_top"].append(max(tc.values()))
                out["tok_chars"].append(sum(len(t) for t in toks))
                out["bg_n"].append(npos)
                out["bg_top"].append(max(bgs.values()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], **out})

    return src.mapInPandas(stats, schema)


def repetition_signals(documents: DataFrame) -> DataFrame:
    """Per-document repetition/quality stats in the Gopher-rules family:
    token count, distinct-token fraction, most-common-token fraction,
    most-common-bigram fraction, mean token length.

    MAP-ONLY design: a doc's tokens live in its own row, so every stat
    is a per-row computation with ZERO shuffles; the op scales as a
    pure scan and is partition-layout invariant by construction.
    Since r14 the counting rides :func:`_repetition_counts_np` (the
    array_sort + struct-state `aggregate()` folds of the expression
    form it replaced were interpreted per element — the
    assignment-kernel finding).  (History:
    the explode → groupBy(doc, gram) → groupBy(doc) form before r4
    shuffled distinct-gram rows twice to recompute co-location Spark
    already had — 2.0s vs 2.3s at sf0.1 and two exchanges dropped.)
    All ratios derive from integer counts → bit-exact across engines;
    round(6) for display."""
    stats = _repetition_counts_np(documents).filter(F.col("tok_n") > 0)
    return (stats
            .select("doc_id",
                    F.col("tok_n").alias("n_tok"),
                    F.round(F.col("tok_distinct") / F.col("tok_n"), 6)
                    .alias("uniq_tok_frac"),
                    F.round(F.col("tok_top") / F.col("tok_n"), 6)
                    .alias("top_tok_frac"),
                    F.round(F.col("bg_top") / F.col("bg_n"), 6)
                    .alias("top_bigram_frac"),
                    F.round(F.col("tok_chars") / F.col("tok_n"), 6)
                    .alias("mean_tok_len")))


# --- C4+: PII scrubbing ----------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"555-[0-9]{4}"


def pii_scrub(documents: DataFrame) -> DataFrame:
    """Regex PII redaction with per-doc match counts.  The synthetic
    corpus carries no PII, so the op first embeds a deterministic
    email + phone per row (derived from doc_id/source — this is the
    functional probe, not data synthesis), then redacts both and
    reports counts + an md5 of the cleaned text.

    Pure ``regexp_replace``/``regexp_count`` — JVM-side, codegen-
    eligible; at 100 TB this is a map-only stage with zero shuffle."""
    enriched = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@"), F.col("source"), F.lit(".net or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"))
    clean = F.regexp_replace(F.regexp_replace(enriched, EMAIL_RE, "<EMAIL>"),
                             PHONE_RE, "<PHONE>")
    return documents.select(
        "doc_id",
        F.regexp_count(enriched, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(enriched, F.lit(PHONE_RE)).alias("n_phones"),
        F.md5(clean).alias("clean_md5"))


# --- benchmark decontamination ---------------------------------------------

#: n-gram width for overlap detection.  Production decontamination
#: uses 8-13-grams; the synthetic corpus shares almost no 8-grams
#: (1 hit at sf0.01 — too thin a correctness signal), so the
#: registered query runs at 4 (19 hits); the op is parameterized.
DECON_NGRAM = 4
BENCH_MOD = 50      # docs with doc_id % BENCH_MOD == 0 play the eval set


def decontaminate(documents: DataFrame, n: int = DECON_NGRAM,
                  bench_mod: int = BENCH_MOD) -> DataFrame:
    """Benchmark decontamination: find training documents that share
    any ``n``-gram with the evaluation/benchmark set — the standard
    leakage guard before training (docs with ``doc_id % bench_mod ==
    0`` stand in for an external eval corpus, keeping the op
    oracle-checkable).

    Shape at 100 TB: the corpus n-gram explode stays distributed; the
    benchmark n-gram inventory is bounded by eval-suite size (tiny) →
    BROADCAST inner join, no shuffle of corpus grams; per-doc overlap
    counts come from the one groupBy.  Returns (doc_id, n_shared)
    for contaminated non-benchmark docs — the drop set a left-anti
    join applies downstream."""
    from .dedup import word_shingles

    # Filter BEFORE the shingle build: word_shingles is per-doc, so the
    # doc-subset predicate commutes with it — and since the build rides
    # an opaque Arrow kernel (r14), Catalyst can no longer push the
    # filter through it; applying it to `documents` keeps the excluded
    # side's shingle compute from running at all.
    grams = word_shingles(
        documents.filter(F.col("doc_id") % bench_mod != 0), k=n)
    bench_grams = (word_shingles(
        documents.filter(F.col("doc_id") % bench_mod == 0), k=n)
        .select("shingle").distinct())
    return (grams
            .join(F.broadcast(bench_grams), "shingle")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared")))


#: Wildcard token for skip-gram variants — a control byte that cannot
#: appear in whitespace-split text, so variant equality is exact.
DECON_SENTINEL = "\x01"

#: Fuzzy matching needs LONGER grams than exact: Hamming ≤ 1 on a
#: 4-gram is just 3 same-position tokens — 80 % of this corpus
#: "matches" (measured 395/490 docs at sf0.01).  At 6 the flag rate
#: is 3/490 (sf0.01) and 212/4900 (sf0.1) — a plausible
#: contamination audit, the same reason production exact audits run
#: 8-13-grams while this synthetic corpus's shorter docs peak at 6.
FUZZY_NGRAM = 6


def decontaminate_fuzzy(documents: DataFrame, n: int = FUZZY_NGRAM,
                        bench_mod: int = BENCH_MOD) -> DataFrame:
    """NEAR-match benchmark decontamination: find training documents
    sharing an n-gram within token-Hamming distance ≤ 1 of the eval
    set — the guard exact n-gram overlap misses when leakage is
    near-verbatim (one token rephrased/typoed/renumbered), the gap the
    eval-contamination literature flags in exact-match audits.

    Mechanics: each n-gram expands to its n SKIP-GRAM variants (token
    at position i replaced by a sentinel).  Two n-grams share a
    same-position variant **iff** their token-Hamming distance ≤ 1, so
    a plain equi-join on variant strings IS the fuzzy match — no
    edit-distance UDF, no verification pass.  Shape at 100 TB: the
    corpus-side ×n variant explode stays distributed (map-only); the
    benchmark variant inventory is eval-bounded ×n (still tiny) →
    BROADCAST join, corpus grams never shuffle; the per-doc count is
    the one groupBy.  Returns (doc_id, n_fuzzy) = how many DISTINCT
    n-grams of the doc have a fuzzy benchmark match (superset of the
    exact matches — exact overlap shares all n variants).

    Grams cover EXACTLY n tokens (ADVICE r11): a doc shorter than n
    tokens has no positions to audit (truncated grams' trailing-
    sentinel variants would collide with any benchmark n-gram sharing
    the first m tokens — a false-positive class outside the
    token-Hamming ≤ 1 contract), the same convention production exact
    audits apply at 8-13-grams.

    r14: variants build POSITIONALLY from the tokenized doc — explode
    gram start positions, slice the n-token window once, derive the
    shingle string and all n sentinel variants from that slice.  The
    prior form re-split every shingle STRING back into tokens and
    re-concatenated per variant (6× split+concat per gram through
    word_shingles' distinct+explode); fresh-JVM median 4.48 s →
    1.20 s at sf0.1 with identical output.  Occurrence multiplicity (vs
    word_shingles' per-doc array_distinct) is immaterial: the eval
    side is DISTINCT and the corpus side counts DISTINCT shingles."""
    toks = ws_tokens("text")
    g = (documents
         .select("doc_id", toks.alias("toks"))
         .filter(F.size("toks") >= n)
         .select("doc_id",
                 F.explode(F.sequence(
                     F.lit(1), F.size("toks") - (n - 1))).alias("i"),
                 "toks")
         .select("doc_id", F.slice("toks", F.col("i"), n).alias("gt")))
    variants = [F.concat_ws(" ", F.concat(
        F.slice(F.col("gt"), 1, i - 1),
        F.array(F.lit(DECON_SENTINEL)),
        F.slice(F.col("gt"), i + 1, n - i))) for i in range(1, n + 1)]
    v = g.select("doc_id", F.concat_ws(" ", "gt").alias("shingle"),
                 F.explode(F.array(*variants)).alias("skipgram"))
    bench = (v.filter(F.col("doc_id") % bench_mod == 0)
             .select("skipgram").distinct())
    return (v.filter(F.col("doc_id") % bench_mod != 0)
            .join(F.broadcast(bench), "skipgram")
            .groupBy("doc_id")
            .agg(F.countDistinct("shingle").alias("n_fuzzy")))


# --- mixture sampling ------------------------------------------------------

EN_HEX = "0123456789ab"   # 12/16 = 75 % keep rate for English
OTHER_HEX = "012345"      # 6/16 = 37.5 % for other languages


def stratified_sample(documents: DataFrame) -> DataFrame:
    """Deterministic per-language mixture sampling: keep a row iff the
    first hex digit of md5(doc_id) falls in the language's allowed set.

    Hash-based (not RNG-based) sampling is the at-scale pattern for
    training mixtures: reproducible across reruns and engines, stable
    under repartitioning, and tunable per stratum by widening the digit
    set (granularity 1/16 here; use more digits for finer rates).
    Map-only — no shuffle, no sampleBy() RNG state."""
    hexc = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    allowed = F.when(F.col("lang") == "en", F.lit(EN_HEX)).otherwise(F.lit(OTHER_HEX))
    return (documents
            .filter(allowed.contains(hexc))
            .select("doc_id", "lang", "source"))


# --- sequence packing ------------------------------------------------------

PACK_BUDGET = 256  # tokens per packed training sequence


def pack_sequences(documents: DataFrame, budget: int = PACK_BUDGET) -> DataFrame:
    """Greedy sequential packing of documents into fixed-token-budget
    training sequences, per language: walk docs in doc_id order, start
    a new sequence whenever the next doc would overflow the budget (a
    doc larger than the budget gets its own sequence).

    The fill state makes this inherently sequential *within* a group —
    exactly the case the north star reserves for ``applyInPandas``: one
    Arrow-batched Python kernel per group, everything else stays JVM.
    Scale note: parallelism = #groups; at 100 TB you shard each
    language by hash(doc_id) % N first (packing quality is unaffected —
    sequences never cross shards by construction) so N×|langs| groups
    saturate the cluster."""

    def _pack(pdf):
        import pandas as pd
        pdf = pdf.sort_values("doc_id")
        n_tok = pdf["text"].str.split(" ").str.len()
        seq_ids, seq, fill = [], -1, budget + 1
        for n in n_tok:
            if fill + n > budget:
                seq, fill = seq + 1, n
            else:
                fill += n
            seq_ids.append(seq)
        return pd.DataFrame({"lang": pdf["lang"], "doc_id": pdf["doc_id"],
                             "n_tok": n_tok, "seq_id": seq_ids})

    return (documents.select("lang", "doc_id", "text")
            .groupBy("lang")
            .applyInPandas(_pack,
                           "lang string, doc_id bigint, n_tok bigint, seq_id bigint"))


# --- interval overlap join -------------------------------------------------

OVERLAP_S = 900  # pair events within ±15 minutes


def interval_join(events: DataFrame, window_s: int = OVERLAP_S) -> DataFrame:
    """Time-window overlap self-join: all event pairs of the same user
    within ±``window_s`` seconds.  Naively an inequality join (O(n²)
    cross per user); bucketing each timestamp to ``window_s``-wide
    bins and joining on (user, bin ∈ {b-1, b, b+1}) turns it into an
    equi-join shuffle — each pair matches in exactly one bin pairing,
    so no dedup pass is needed.  This is Spark's range-join binning
    strategy done explicitly."""
    e = events.select("event_id", "user_id", "ts")
    bucket = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / window_s)
    a = e.withColumn("jb", F.explode(F.array(bucket - 1, bucket, bucket + 1)))
    b = e.withColumn("b_bucket", bucket)
    iv = F.expr(f"INTERVAL {window_s} SECONDS")
    return (a.alias("a")
            .join(b.alias("b"),
                  (F.col("a.user_id") == F.col("b.user_id"))
                  & (F.col("a.jb") == F.col("b.b_bucket"))
                  & (F.col("a.event_id") < F.col("b.event_id"))
                  & (F.col("b.ts") >= F.col("a.ts") - iv)
                  & (F.col("b.ts") <= F.col("a.ts") + iv))
            .select(F.col("a.user_id").alias("user_id"),
                    F.col("a.event_id").alias("event_a"),
                    F.col("b.event_id").alias("event_b"),
                    F.col("a.ts").alias("ts_a"),
                    F.col("b.ts").alias("ts_b")))


# --- CDC merge / upsert ----------------------------------------------------


def merge_upsert(base: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """MERGE (upsert) as a batch operator: updates override base rows
    by key, unmatched updates insert, unmatched base rows pass through
    — the CDC-apply primitive vanilla Spark lacks (lakehouse formats
    add it; this is the engine-level shape they compile to).

    One full-outer join on the key, coalesce(update, base) per column.
    At scale: base is bucketed by the key (sinks.write_bucketed) so
    only the (small) update side shuffles; with AQE the join side
    handling skewed hot keys splits automatically."""
    b = base.select(key, *[F.col(c).alias(f"b_{c}")
                           for c in base.columns if c != key])
    u = updates.select(key, *[F.col(c).alias(f"u_{c}")
                              for c in updates.columns if c != key])
    j = b.join(u, key, "full_outer")
    upd_cols = set(updates.columns)
    cols = [F.col(key)]
    for c in base.columns:
        if c == key:
            continue
        # partial-update batches are the norm in CDC: columns absent
        # from the update schema pass through from base
        cols.append(F.coalesce(f"u_{c}", f"b_{c}").alias(c)
                    if c in upd_cols else F.col(f"b_{c}").alias(c))
    cols.append((F.col(f"u_{updates.columns[1]}").isNotNull())
                .alias("from_update"))
    return j.select(*cols)


def orders_cdc_batch(orders: DataFrame) -> DataFrame:
    """Deterministic synthetic CDC batch derived from orders itself:
    every 10th key gets a 10%-raised total (update), and a shifted key
    range simulates inserts.  Exists so q_merge_upsert is
    oracle-checkable without external change data."""
    upd = (orders.filter(F.col("o_orderkey") % 10 == 0)
           .select("o_orderkey",
                   (dec("o_totalprice") * F.lit(1.1).cast("decimal(3,1)"))
                   .cast("double").alias("o_totalprice")))
    ins = (orders.filter(F.col("o_orderkey") % 97 == 0)
           .select((F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                   F.col("o_totalprice")))
    return upd.union(ins)


# --- salted skew-resistant aggregation ------------------------------------


def salted_agg(events: DataFrame, n_salt: int = 16) -> DataFrame:
    """Per-type totals computed skew-resistantly: a salt column splits
    each (possibly hot) key across ``n_salt`` reducers for the partial
    aggregate, then a second tiny aggregate merges the partials; the
    count-distinct is decomposed distinct-then-count the same way.

    For plain sums Spark's partial aggregation already does this
    map-side — the explicit salt matters when partials can't combine
    (exact count-distinct, collect_list) and one key dominates; this
    op pins the pattern with an oracle proving salting never changes
    the answer.  Decimal accumulation keeps the double total bit-exact
    across engines and partition counts."""
    part = (events
            .withColumn("_salt", F.pmod(F.col("event_id"), F.lit(n_salt)))
            .groupBy("event_type", "_salt")
            .agg(F.count(F.lit(1)).alias("pn"), F.sum(dec("value")).alias("ps")))
    totals = (part.groupBy("event_type")
              .agg(F.sum("pn").alias("n_events"),
                   F.sum("ps").cast("double").alias("total_value")))
    distinct_users = (events.select("event_type", "user_id").distinct()
                      .groupBy("event_type")
                      .agg(F.count(F.lit(1)).alias("n_users")))
    return totals.join(distinct_users, "event_type")


SKEW_HOT_PCT = 120  # a key is hot when cnt·n_keys·100 > PCT·n_rows


def build_skew_stats(spark: SparkSession, sf_dir: str,
                     key: str = "user_id",
                     pct: int = SKEW_HOT_PCT):
    """Committed per-key statistics + the hot-key list they imply —
    the ANALYZE-grain artifact that lets every downstream join/agg
    choose its shuffle strategy per key instead of blanket-salting
    (the CBO-statistics analog of `q_analyze_stats`, at key grain).
    The hot-key decision is the usual exact-integer relative bound
    (``cnt·n_keys·100 > pct·n_rows`` — no float mean), computed once
    and published atomically; at 100 TB this is the same pass that
    writes partition statistics, and it runs per snapshot, not per
    query."""
    import os

    from ..sinks.manifest import ManifestCatalog

    cat = ManifestCatalog(os.path.join(
        _work_dir(f"skew_stats_{key}_{pct}", sf_dir), "cat"))
    if cat.current_version() < 1:
        events = load_table(spark, sf_dir, "events")
        counts = (events.groupBy(F.col(key))
                  .agg(F.count(F.lit(1)).alias("cnt")))
        tot = counts.agg(F.sum("cnt").alias("n_rows"),
                         F.count(F.lit(1)).alias("n_keys")).first()
        hot = (counts
               .filter(F.col("cnt") * F.lit(int(tot.n_keys)) * 100
                       > F.lit(pct) * F.lit(int(tot.n_rows)))
               .select(key))
        cat.publish_pass({"keystats": counts, "hotkeys": hot})
    return cat


def skew_adaptive_join(spark: SparkSession, sf_dir: str,
                       n_salt: int = 8,
                       pct: int = SKEW_HOT_PCT) -> DataFrame:
    """Acting on the skew report (the fourth monitor→actuator loop:
    occupancy→rebalance, F1→retrain, fertility→vocab-extend, and now
    skew→differential salting): the same fact⋈dim join as
    `salted_join`, but ONLY the keys the committed skew artifact
    flags take the salted path — cold keys join plain, hot keys join
    on (key, salt) with the dim row replicated ×``n_salt``, and the
    two branches union.

    Why differential beats blanket at 100 TB: blanket salting
    replicates the ENTIRE dim ×n_salt (n_salt× the shuffle and build
    side for the 99% of keys that never needed it); the adaptive form
    replicates |hot|·n_salt dim rows — a broadcast-size set by
    construction — while hot keys still spread across n_salt reducers.
    Exactly, on this corpus at sf0.1: 1500 dim keys, 83 hot at the
    120% bound → 664 replicated dim rows instead of 12,000 (×18 less
    build-side state), with the ratio improving as keys grow
    (|hot| ≤ 100·n_keys/pct by the pigeonhole on the threshold).
    This is AQE's skew-join decision made with COMMITTED statistics
    before the shuffle materializes, instead of after.  The hot-key
    list rides two broadcast semi/anti probes on the fact side
    (map-side, no extra shuffle).

    The salt provably never changes the answer: shares q_salted_join's
    oracle (the PLAIN join) verbatim.  Branch shape + dim-replication
    locality pinned in test_plans; hot/cold partition and integer
    decision pinned in test_pipeline."""
    cat = build_skew_stats(spark, sf_dir, "user_id", pct)
    hot = cat.read(spark, "hotkeys")              # bounded: ≤ n_keys/γ
    events = load_table(spark, sf_dir, "events")
    dim = (events.groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n_events_user")))
    out_cols = ["event_id", "user_id", "event_type", "n_events_user"]

    cold = (events.join(F.broadcast(hot), "user_id", "left_anti")
            .join(dim.join(F.broadcast(hot), "user_id", "left_anti"),
                  "user_id")
            .select(*out_cols))
    # NULL event_id guard: same constant-salt reasoning as salted_join
    fact_hot = (events.join(F.broadcast(hot), "user_id", "left_semi")
                .withColumn("_salt",
                            F.pmod(F.coalesce(F.col("event_id"),
                                              F.lit(0)), F.lit(n_salt))))
    dim_hot = (dim.join(F.broadcast(hot), "user_id", "left_semi")
               .withColumn("_salt", F.explode(
                   F.array(*[F.lit(i) for i in range(n_salt)]))))
    hot_join = (fact_hot.join(dim_hot, ["user_id", "_salt"])
                .select(*out_cols))
    return cold.unionByName(hot_join)


def salted_join(events: DataFrame, n_salt: int = 8) -> DataFrame:
    """Skew-resistant fact⋈dim equi-join: the fact side adds a salt
    column, the dim side replicates ×``n_salt``, and the join key
    becomes (key, salt) — a hot key's rows spread across n_salt
    reducers instead of landing on one.  This is the join-side twin of
    salted_agg: AQE's skew-join splits a hot partition at runtime, but
    only AFTER it materialized the skewed shuffle; explicit salting
    shapes the shuffle itself, which matters when one key is a large
    fraction of the fact table (the Zipf reality of user/domain keys).

    The dim here is derived per-user stats (keeps the op
    oracle-checkable without external data); the salt provably never
    changes the answer — the oracle is the PLAIN join.  At test scale
    the dim would broadcast and make salting moot, so the plan
    property (SMJ on (user_id, _salt) with broadcast disabled) is
    pinned separately in test_plans."""
    dim = (events.groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n_events_user")))
    # coalesce(0): pmod(NULL) is NULL and a NULL salt never matches the
    # (key, salt) equi-join, silently dropping NULL-event_id rows the
    # unsalted oracle keeps (review finding) — any constant salt is
    # valid for such rows since the salt only spreads, never selects
    fact = events.withColumn(
        "_salt", F.pmod(F.coalesce(F.col("event_id"), F.lit(0)),
                        F.lit(n_salt)))
    dim_x = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
    return (fact.join(dim_x, ["user_id", "_salt"])
            .select("event_id", "user_id", "event_type", "n_events_user"))


# --- mergeable distinct-count sketches --------------------------------------


def hll_merge(events: DataFrame) -> DataFrame:
    """Distinct users per event type AND overall via mergeable
    HyperLogLog sketches (Apache DataSketches HLL, public Spark ≥3.5
    SQL functions): one scan builds a per-type sketch; the corpus-wide
    distinct count comes from ``hll_union_agg`` over those FIVE
    sketches — never a second scan, never a shuffle of raw user_ids.

    This mergeability is the at-scale point: per-partition /
    per-day / per-type sketches (KBs each) roll up to any coarser
    grain for free, where exact count-distinct must re-shuffle the
    full key set per grain.  Estimates are deterministic for a given
    input set (no RNG) but engine-specific → rows-only contract
    (same declared class as q_approx_distinct); accuracy vs exact is
    pinned in test_pipeline (<2% at lgK=12 on this corpus)."""
    sk = (events.groupBy("event_type")
          .agg(F.expr("hll_sketch_agg(user_id)").alias("sk")))
    per_type = sk.select(
        "event_type",
        F.expr("CAST(hll_sketch_estimate(sk) AS BIGINT)").alias("approx_users"))
    overall = (sk.agg(F.expr(
        "CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT)")
        .alias("approx_users"))
        .select(F.lit("__all__").alias("event_type"), "approx_users"))
    return per_type.unionByName(overall)


def kll_quantile_merge(events: DataFrame) -> DataFrame:
    """Quantiles via mergeable KLL sketches (Apache DataSketches, Spark
    ≥4.0 SQL functions): one scan builds a per-type sketch of
    ``value``; corpus-wide p50/p90/p99 come from ``kll_merge_agg``
    over those FIVE sketches — never a second scan, never a global
    sort of values.

    The quantile analog of `hll_merge`: exact percentiles need a full
    sort (or per-grain re-aggregation) at every rollup grain, while
    KLL sketches (KBs each) built per-partition/day/type merge to any
    coarser grain for free with a proven rank-error bound (~1.7% at
    k=200).  Sketch encodings are engine-specific → rows-only
    contract (declared class of q_hll_merge/q_approx_distinct);
    accuracy vs exact percentiles is pinned in test_pipeline."""
    sk = (events.groupBy("event_type")
          .agg(F.expr("kll_sketch_agg_double(value)").alias("sk")))

    def qs(col: str):
        return [F.expr(f"round(kll_sketch_get_quantile_double({col}, "
                       f"{q}d), 6)").alias(f"p{int(q * 100)}")
                for q in (0.5, 0.9, 0.99)]

    per_type = sk.select(
        "event_type",
        F.expr("kll_sketch_get_n_double(sk)").alias("n"), *qs("sk"))
    overall = (sk.agg(F.expr("kll_merge_agg_double(sk)").alias("m"))
               .select(F.lit("__all__").alias("event_type"),
                       F.expr("kll_sketch_get_n_double(m)").alias("n"),
                       *qs("m")))
    return per_type.unionByName(overall)


def theta_set_algebra(events: DataFrame) -> DataFrame:
    """Distinct-user set ALGEBRA via Theta sketches: union,
    intersection, and difference of the click/purchase user sets from
    per-type sketches — the operation family HLL cannot provide
    (HLL unions only; Theta supports ∩ and \\ with bounded error).

    One scan builds both sketches; every set expression evaluates on
    the KB-sized sketches driver-free.  At 100 TB this is audience
    overlap / funnel-reach estimation without ever shuffling user_id
    sets.  Engine-specific encodings → rows-only contract; accuracy
    vs exact set sizes pinned in test_pipeline."""
    pair = (events
            .filter(F.col("event_type").isin("click", "purchase"))
            .agg(F.expr("theta_sketch_agg(CASE WHEN event_type = 'click' "
                        "THEN user_id END)").alias("c"),
                 F.expr("theta_sketch_agg(CASE WHEN event_type = "
                        "'purchase' THEN user_id END)").alias("p")))
    est = "CAST(theta_sketch_estimate({0}) AS BIGINT)"
    return pair.select(
        F.expr(est.format("c")).alias("clickers"),
        F.expr(est.format("p")).alias("purchasers"),
        F.expr(est.format("theta_union(c, p)")).alias("either"),
        F.expr(est.format("theta_intersection(c, p)")).alias("both"),
        F.expr(est.format("theta_difference(c, p)")).alias("click_only"))


def hll_sliding_distinct(events: DataFrame, hours: int = 4) -> DataFrame:
    """Sliding-window distinct users WITHOUT re-scanning: build ONE
    HLL sketch per (hour, type) — the only corpus pass — then every
    4-hour sliding window is a ``hll_union_agg`` MERGE of its 4
    contributing hourly sketches (sequence-explode assigns each hourly
    sketch to the windows it feeds).

    The sketch-window composition pattern: count-distinct does not
    decompose over overlapping windows (an exact version re-shuffles
    the full key set per slide), but sketches merge — so any window
    grain, rollup, or backfill derives from the same KB-sized hourly
    artifacts.  Estimates are deterministic but engine-specific →
    rows-only contract (declared class of q_hll_merge); accuracy vs
    exact sliding distinct pinned in test_pipeline."""
    hour = F.date_trunc("hour", "ts").cast("timestamp_ntz")
    hourly = (events
              .groupBy(hour.alias("hour"), "event_type")
              .agg(F.expr("hll_sketch_agg(user_id)").alias("sk")))
    # each hourly sketch feeds `hours` windows: those starting at
    # hour-(hours-1)..hour
    windows = (hourly
               .select("event_type", "sk", "hour",
                       F.explode(F.sequence(
                           F.lit(0), F.lit(hours - 1))).alias("k"))
               .select("event_type", "sk",
                       (F.col("hour") - F.col("k")
                        * F.expr("INTERVAL 1 HOUR")).alias("window_start")))
    return (windows
            .groupBy("window_start", "event_type")
            .agg(F.expr("CAST(hll_sketch_estimate(hll_union_agg(sk)) "
                        "AS BIGINT)").alias("approx_users"),
                 F.count(F.lit(1)).alias("n_hours_present")))


CMS_D = 4          # Count-Min hash rows
CMS_W = 256        # counters per row
CMS_PROBES = 20    # heaviest exact tokens probed against the sketch


def _cms_cell(r, token, w: int):
    """Counter index for (row, token): first 4 hex digits of the
    salted md5, mod w — the package's one cross-engine hash idiom."""
    h = F.md5(F.concat_ws(":", F.lit("cms"), r.cast("string"), token))
    return F.pmod(F.conv(F.substring(h, 1, 4), 16, 10).cast("bigint"),
                  F.lit(w))


def cms_sketch(documents: DataFrame, d: int = CMS_D,
               w: int = CMS_W) -> DataFrame:
    """The d×w Count-Min matrix as (r, c, n) rows — ≤ d·w rows total
    (and per map-side partial), whatever the corpus size.  Integer
    counts sum associatively, so per-shard/per-batch sketches fold
    into the corpus sketch bit-identically (the mergeability the
    streaming maintenance in streaming/sketch.py relies on).

    Since r14 the build rides :func:`_cms_partials_np`: the Arrow
    pass Counter-aggregates tokens per batch first, hashes each
    DISTINCT token's d cells once, and emits ≤ d·w exact integer
    partials per batch that the groupBy SUMs (associative, so any
    batch boundary yields the identical matrix) — the expression
    build it replaced exploded every token d ways and
    salted-md5-hashed each of the d·|tokens| rows through interpreted
    conv/pmod."""
    return (_cms_partials_np(documents, d, w)
            .groupBy("r", "c")
            .agg(F.sum("pn").alias("n")))


def _cms_partials_np(documents: DataFrame, d: int = CMS_D,
                     w: int = CMS_W) -> DataFrame:
    """Per-batch Count-Min partials for `cms_sketch`: tokenize
    (``text.split(" ")`` == Spark ``split(text, ' ')``, empty tokens
    kept) and Counter-count the token multiset, salt-md5 each DISTINCT
    token's d cells ONCE (memoized across batches — the md5 work drops
    from d·|occurrences| to d·|distinct|), and emit the batch's (r, c,
    pn) partial counts — ≤ d·w rows per batch.  Every quantity is
    integer arithmetic (hashlib md5 == Spark md5 == DuckDB md5, top-4
    hex parse, mod w), so partials sum to the exact matrix at any
    batch/partition boundary.  Map-only; the token explode, the d-way
    row explode and their interpreted per-row hashing are gone.
    Closure-complete (stdlib + pandas only)."""
    base = documents.select("text")

    def cms(batches):
        import hashlib
        from collections import Counter

        import pandas as pd

        # distinct-token memo, capped so adversarial vocabulary can't
        # bloat a worker (ADVICE r14) — a reset re-hashes, never drifts
        memo: dict[str, list[int]] = {}
        memo_cap = 1_000_000

        def cells(tok: str) -> list[int]:
            cs = memo.get(tok)
            if cs is None:
                if len(memo) >= memo_cap:
                    memo.clear()
                cs = [int(hashlib.md5(f"cms:{r}:{tok}".encode())
                          .hexdigest()[:4], 16) % w for r in range(d)]
                memo[tok] = cs
            return cs

        for pdf in batches:
            if not len(pdf):
                continue
            cnt: Counter = Counter()
            for t in pdf["text"]:
                if t is None:
                    continue
                cnt.update(t.split(" "))
            part: Counter = Counter()
            for tok, n in cnt.items():
                for r, c in enumerate(cells(tok)):
                    part[(r, c)] += n
            if not part:
                continue
            ks = list(part.keys())
            yield pd.DataFrame({"r": [k[0] for k in ks],
                                "c": [k[1] for k in ks],
                                "pn": list(part.values())})

    return base.mapInPandas(cms, "r int, c bigint, pn bigint")


def cms_token_counts(documents: DataFrame, d: int = CMS_D, w: int = CMS_W,
                     n_probes: int = CMS_PROBES) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) token-frequency
    estimation, probed at the corpus's heaviest tokens — completes the
    mergeable-sketch family (HLL distinct, KLL quantiles, Theta set
    algebra, Misra–Gries heavy hitters) with the point-FREQUENCY
    sketch.

    Unlike the other four (engine-specific encodings → rows-only),
    this CMS is ORACLE-EXACT: the d row-hashes derive from the
    package's salted-md5 idiom (`_md5_bucket` discipline), so DuckDB
    rebuilds the identical d×w integer matrix and the identical
    min-over-rows estimates — every value is an exact integer count.

    Scale shape: the build explodes each token into its d (row, cell)
    coordinates and map-side-combines a groupBy down to ≤ d·w = 1024
    rows TOTAL regardless of corpus size — per-partition partials are
    also ≤ d·w, which is the sketch's mergeability (partition/day/
    shard partials sum into any coarser grain for free).  The probe
    side broadcasts the bounded sketch against the n_probes tokens.
    Estimate invariant pinned in test_pipeline: cms_n ≥ exact_n
    always (CMS never underestimates), with the measured overestimate
    at this (d, w) recorded as the accuracy pin."""
    toks = documents.select(F.explode(ws_tokens("text")).alias("token"))
    sketch = cms_sketch(documents, d, w)               # ≤ d·w rows total
    probes = (toks.groupBy("token")
              .agg(F.count(F.lit(1)).alias("exact_n"))
              .orderBy(F.col("exact_n").desc(), "token")
              .limit(n_probes))
    pr = probes.select(
        "token", "exact_n",
        F.explode(F.array(*[F.lit(r) for r in range(d)])).alias("r"))
    pcell = _cms_cell(F.col("r"), F.col("token"), w)
    return (pr.select("token", "exact_n", "r", pcell.alias("c"))
            .join(F.broadcast(sketch), ["r", "c"])
            .groupBy("token", "exact_n")
            .agg(F.min("n").alias("cms_n"))
            .select("token", "exact_n", "cms_n",
                    (F.col("cms_n") - F.col("exact_n")).alias("over"))
            .orderBy(F.col("exact_n").desc(), "token"))


def _cms_oracle_sql(d: int = CMS_D, w: int = CMS_W,
                    n_probes: int = CMS_PROBES) -> str:
    """DuckDB twin of `cms_token_counts` — same salted-md5 cells, same
    d×w integer matrix, same min-over-rows estimate."""
    cell = (f"CAST('0x' || substr(md5('cms:' || CAST(r AS VARCHAR) || ':' "
            f"|| token), 1, 4) AS BIGINT) % {w}")
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    rows_ AS (
      SELECT token, r FROM toks, generate_series(0, {d - 1}) g(r)),
    sketch AS MATERIALIZED (
      SELECT r, {cell} AS c, CAST(COUNT(*) AS BIGINT) AS n
      FROM rows_ GROUP BY r, c),
    probes AS MATERIALIZED (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM toks GROUP BY token
      ORDER BY exact_n DESC, token LIMIT {n_probes}),
    pcells AS (
      SELECT p.token, p.exact_n, g.r, {cell.replace('token', 'p.token')} AS c
      FROM probes p, generate_series(0, {d - 1}) g(r))
    SELECT p.token, p.exact_n, MIN(s.n) AS cms_n,
           MIN(s.n) - p.exact_n AS over
    FROM pcells p JOIN sketch s ON s.r = p.r AND s.c = p.c
    GROUP BY p.token, p.exact_n
    ORDER BY p.exact_n DESC, p.token
    """


# --- source-mixture rebalance ----------------------------------------------

MIX_SEED = "mix1"


def mixture_rebalance(documents: DataFrame, seed: str = MIX_SEED) -> DataFrame:
    """Downsample over-represented sources toward a UNIFORM target
    mixture: source ``s`` keeps each doc with probability
    ``min(1, (N/k)/n_s)`` (N = corpus size, k = #sources, n_s = source
    size) — the mixture-weighting step every multi-source training run
    applies before token budgeting.

    Plan shape at 100 TB: the per-source histogram is one tiny
    partial-aggregated groupBy (k rows, broadcast back); acceptance is
    then MAP-ONLY — salted-md5 bucket vs rate, evaluated as the pure
    INTEGER cross-multiplication ``hb·k·n_s < N·65536`` so no float
    rounding can disagree between engines.  Unlike stratified_sample's
    fixed per-stratum rates, the rates here derive from the live
    histogram by design; determinism is per (corpus, seed) — same
    inputs give the same sample on any engine or partitioning.
    Output: per-source before/after with achieved rate."""
    hb = _md5_bucket(F.col("doc_id"), f"mix:{seed}")  # 0..65535
    stats = documents.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    tot = stats.agg(F.sum("n_s").alias("n_total"),
                    F.count(F.lit(1)).alias("k"))
    accept = (hb * F.col("k") * F.col("n_s")
              < F.col("n_total") * F.lit(65536))
    return (documents.select("doc_id", "source", hb.alias("hb"))
            .join(F.broadcast(stats), "source")
            .crossJoin(F.broadcast(tot))
            .groupBy("source")
            .agg(F.max("n_s").alias("n_docs"),
                 F.sum(accept.cast("bigint")).alias("n_kept"))
            .select("source", "n_docs", "n_kept",
                    F.round(F.col("n_kept") / F.col("n_docs"), 6)
                    .alias("rate")))


TOKEN_BUDGET_NUM = 3     # per-source token budget = 3/100 of corpus
TOKEN_BUDGET_DEN = 100   # tokens (integer fraction ⇒ exact comparison)
TOKEN_BUDGET_SEED = "tb1"


def token_budget_mix(documents: DataFrame,
                     num: int = TOKEN_BUDGET_NUM,
                     den: int = TOKEN_BUDGET_DEN,
                     seed: str = TOKEN_BUDGET_SEED) -> DataFrame:
    """Token-budgeted source mixture: cap every source at
    ``num/den`` of the CORPUS TOKEN count (mixture_rebalance's
    doc-count analog — training budgets are token budgets, and a
    source of few huge documents evades a doc-count cap).

    Scale shape — the naive form (per-source hash-ordered window +
    running token sum) puts each ENTIRE source into one task, the
    single-partition-window trap.  Instead the selection runs on the
    bucket HISTOGRAM: (1) map-only salted-md5 bucket per doc
    (0..65535); (2) per-(source, bucket) token sums — one partial-
    aggregated groupBy, ≤ k·65536 rows; (3) running sum over buckets
    WITHIN each source — a window over ≤65536-row partitions,
    skew-free by construction; (4) per-source cutoff bucket (k rows,
    broadcast); applying the mix downstream is then the map-only
    ``bucket ≤ cutoff`` test (cf. dedup_apply) — this query returns
    the per-source report, whose kept counts read straight off the
    same bucket CDF.  Budget
    adherence is within one bucket's tokens (~1/65536 of a source) —
    the documented approximation, exactly how production pipelines
    trade a per-row prefix scan for a histogram CDF.  All arithmetic
    stays integer (token counts, num/den cross-multiplication), so
    both engines pick identical cutoffs.  Output: per-source report
    (docs/tokens before and after, budget)."""
    from pyspark.sql import Window

    n_tok = F.size(ws_tokens("text"))
    hb = _md5_bucket(F.col("doc_id"), f"tb:{seed}")
    # ONE corpus scan: everything downstream (total, CDF, cutoffs,
    # before/after report) derives from the bounded per-(source,
    # bucket) histogram — ≤ k·65536 rows, localCheckpointed because
    # four consumers would otherwise re-scan and re-tokenize the
    # corpus four times (measured 14 parquet scans before this)
    bucket_sums = (documents
                   .select("source", n_tok.alias("n_tok"), hb.alias("hb"))
                   .groupBy("source", "hb")
                   .agg(F.sum("n_tok").alias("b_tok"),
                        F.count(F.lit(1)).alias("b_docs"))
                   ).localCheckpoint(eager=True)
    tot = bucket_sums.agg(F.sum("b_tok").alias("t_total"))
    w = (Window.partitionBy("source").orderBy("hb")
         .rowsBetween(Window.unboundedPreceding, 0))
    # cutoff: largest bucket whose running total still fits the budget
    cutoffs = (bucket_sums
               .withColumn("cum", F.sum("b_tok").over(w))
               .withColumn("cum_docs", F.sum("b_docs").over(w))
               .crossJoin(F.broadcast(tot))
               .filter(F.col("cum") * den <= F.col("t_total") * num)
               .groupBy("source")
               .agg(F.max("cum").alias("tokens_kept"),
                    F.max("cum_docs").alias("n_kept")))
    report = (bucket_sums.groupBy("source")
              .agg(F.sum("b_docs").alias("n_docs"),
                   F.sum("b_tok").alias("tokens")))
    return (report
            .join(F.broadcast(cutoffs), "source", "left")
            .crossJoin(F.broadcast(tot))
            .select("source", "n_docs", "tokens",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("tokens_kept", F.lit(0))
                    .alias("tokens_kept"),
                    # integer div on both engines (a double / + cast
                    # would round in DuckDB but truncate in Spark)
                    F.expr(f"(t_total * {num}) div {den}")
                    .alias("budget")))


# --- composed end-to-end pipeline ------------------------------------------


def pipeline_e2e_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline as ONE DAG (VERDICT r5 item
    4): ingest → Gopher quality keep → normalized dedup →
    decontaminate → token-budget mixture → pack, emitting per-stage
    (docs, tokens) conservation counts.  Every stage reuses the SAME
    predicate/kernel its standalone pinned query uses
    (`gopher_keep_expr`, `canonical_md5_expr`, `decontaminate`'s
    broadcast n-gram join (positional gram build), the
    `token_budget_mix` bucket-CDF, `PACK_BUDGET`), so
    this query catches interface drift between the stages the way
    `q_entity_resolution` does for the fuzzy-join stack.

    Scale shape — exactly TWO passes over the corpus text, both
    materialized as bounded artifacts up front:

    1. the SLIM per-doc relation (ids + integer token count + two md5
       keys + stage booleans; no text) — localCheckpointed because six
       stage aggregates, two windows, and the mixture CDF all consume
       it;
    2. the contamination drop set — the corpus-side n-gram relation
       (built positionally: explode gram starts, slice the n-token
       window once — the r14 `decontaminate_fuzzy` build, cheaper per
       gram than word_shingles' interpreted `transform` + per-doc
       array_distinct, and distinctness is immaterial here because
       the set reduces to DISTINCT doc_id) joined against the
       BROADCAST distinct eval-gram inventory — `decontaminate`'s own
       declared 100 TB shape (eval-bounded side broadcasts, corpus
       grams never shuffle), then checkpointed.  r14: this replaced a
       shingle-partitioned self-join of the full gram relation
       (2.15 s → 0.39 s at sf0.1, identical drop set).

    Every later stage is a flag column over the slim relation:
    dedup's keeper is a min-over-canon window (no join-back), the
    mixture cutoff is a k-row broadcast, packing is the
    concat-and-chunk token count (sequences = ⌈tokens/budget⌉ per
    lang — the GPT-style packing; the greedy no-split variant lives
    in `q_pack_sequences`).  The final plan touches parquet ZERO
    times (pinned in test_plans); token conservation (stage 4 ==
    stage 5 tokens) is pinned in test_pipeline."""
    return pipeline_e2e(load_table(spark, sf_dir, "documents"))


def pipeline_e2e(docs: DataFrame, num: int = TOKEN_BUDGET_NUM,
                 den: int = TOKEN_BUDGET_DEN) -> DataFrame:
    """DataFrame-level body of `q_pipeline_e2e` (split out so pytest
    can drive every stage's drop behavior on synthetic corpora — the
    fixture table happens to carry no normalized duplicates, which
    would leave the dedup stage a silent no-op in composition).
    ``num/den`` is the per-source token budget (contract default
    3/100; tests widen it so a two-doc corpus can keep anything)."""
    from pyspark.sql import Window

    from .dedup import canonical_md5_expr
    from .text import gopher_keep_expr

    n_tok = F.size(ws_tokens("text"))
    hb = _md5_bucket(F.col("doc_id"), f"tb:{TOKEN_BUDGET_SEED}")
    slim = (docs.select("doc_id", "source", "lang",
                        n_tok.alias("n_tok"),
                        canonical_md5_expr().alias("canon"),
                        gopher_keep_expr().alias("q_keep"),
                        hb.alias("hb"),
                        (F.col("doc_id") % BENCH_MOD == 0).alias("is_bench"))
            .localCheckpoint(eager=True))
    def pos_grams(d: DataFrame, n: int) -> DataFrame:
        # Positional n-gram build (the r14 decontaminate_fuzzy shape),
        # WITH word_shingles' short-doc convention: a doc under n
        # tokens emits its one truncated gram (greatest(.., 1)).
        toks = ws_tokens("text")
        return (d.select("doc_id", toks.alias("toks"))
                .filter(F.size("toks") >= 1)
                .select("doc_id",
                        F.explode(F.sequence(F.lit(1), F.greatest(
                            F.size("toks") - (n - 1), F.lit(1)))).alias("i"),
                        "toks")
                .select("doc_id", F.concat_ws(
                    " ", F.slice("toks", F.col("i"), n)).alias("shingle")))

    bench_grams = (pos_grams(docs.filter(F.col("doc_id") % BENCH_MOD == 0),
                             DECON_NGRAM)
                   .select("shingle").distinct())
    cont = (pos_grams(docs.filter(F.col("doc_id") % BENCH_MOD != 0),
                      DECON_NGRAM)
            .join(F.broadcast(bench_grams), "shingle")
            .select("doc_id").distinct()
            .withColumn("contaminated", F.lit(True))
            .localCheckpoint(eager=True))
    w_canon = Window.partitionBy("canon")
    d_keep = (F.col("q_keep")
              & (F.col("doc_id")
                 == F.min(F.when(F.col("q_keep"), F.col("doc_id")))
                 .over(w_canon)))
    flagged = (slim.join(F.broadcast(cont), "doc_id", "left")
               .withColumn("d_keep", d_keep)
               .withColumn("c_keep", F.col("d_keep") & ~F.col("is_bench")
                           & F.col("contaminated").isNull()))
    hist = (flagged.filter("c_keep").groupBy("source", "hb")
            .agg(F.sum("n_tok").alias("b_tok")))
    tot = hist.agg(F.sum("b_tok").alias("t_total"))
    w_cum = (Window.partitionBy("source").orderBy("hb")
             .rowsBetween(Window.unboundedPreceding, 0))
    cut = (hist.withColumn("cum", F.sum("b_tok").over(w_cum))
           .crossJoin(F.broadcast(tot))
           .filter(F.col("cum") * den <= F.col("t_total") * num)
           .groupBy("source").agg(F.max("hb").alias("cut_hb")))
    final = (flagged.join(F.broadcast(cut), "source", "left")
             .withColumn("m_keep",
                         F.coalesce(F.col("c_keep")
                                    & (F.col("hb") <= F.col("cut_hb")),
                                    F.lit(False))))

    def _pair(flag, i):
        return [F.sum(F.when(flag, 1).otherwise(0)).cast("long")
                .alias(f"d{i}"),
                F.sum(F.when(flag, F.col("n_tok")).otherwise(0))
                .cast("long").alias(f"t{i}")]

    agg = final.agg(
        F.count(F.lit(1)).cast("long").alias("d0"),
        F.sum("n_tok").cast("long").alias("t0"),
        *_pair(F.col("q_keep"), 1), *_pair(F.col("d_keep"), 2),
        *_pair(F.col("c_keep"), 3), *_pair(F.col("m_keep"), 4))
    rep = agg.select(F.expr(
        "stack(5, '0_ingest', d0, t0, '1_quality', d1, t1, "
        "'2_dedup', d2, t2, '3_decontam', d3, t3, "
        "'4_mixture', d4, t4) as (stage, n_docs, n_tokens)"))
    packed = (final.filter("m_keep").groupBy("lang")
              .agg(F.sum("n_tok").alias("lt"))
              .agg(F.coalesce(
                  F.sum(F.expr(f"(lt + {PACK_BUDGET - 1}) "
                               f"div {PACK_BUDGET}")), F.lit(0))
                  .cast("long").alias("n_docs"),
                  F.coalesce(F.sum("lt"), F.lit(0)).cast("long")
                  .alias("n_tokens"))
              .select(F.lit("5_packed").alias("stage"),
                      "n_docs", "n_tokens"))
    return rep.unionByName(packed)


#: DuckDB mirror of pipeline_e2e_query — stage predicates built from
#: the SAME module constants (thresholds, seeds, mods, budget) and the
#: shared CANON_MD5_SQL / _shingles_sql / _HITS_SQL fragments, so the
#: oracle drifts only if a stage's published contract does.
_PIPE_E2E_ORACLE = f"""
WITH slim AS (
  SELECT doc_id, source, lang,
         len(string_split(text, ' ')) AS n_tok,
         {CANON_MD5_SQL} AS canon,
         (len(string_split(text, ' '))
            BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
          AND CAST(list_aggregate(list_transform(string_split(text, ' '),
                     t -> length(t)), 'sum') AS DOUBLE)
              / len(string_split(text, ' '))
            BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN}
          AND (length(text) - length(replace(text, '#', ''))
               + (length(text) - length(replace(text, '...', ''))) / 3)
              / len(string_split(text, ' ')) < {GOPHER_MAX_SYMBOL_RATIO}
          AND CAST(len(list_filter(string_split(text, ' '),
                     t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE)
              / len(string_split(text, ' ')) > {GOPHER_MIN_ALPHA_FRAC}
          AND {_HITS_SQL['en']} >= {GOPHER_MIN_STOPWORDS}) AS q_keep,
         CAST('0x' || substr(md5('tb:{TOKEN_BUDGET_SEED}:'
              || CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) AS hb,
         doc_id % {BENCH_MOD} = 0 AS is_bench
  FROM documents),
cont AS (
  SELECT DISTINCT a.doc_id
  FROM ({_shingles_sql(k=DECON_NGRAM)}) a
  JOIN ({_shingles_sql(k=DECON_NGRAM)}) b
    ON a.shingle = b.shingle
   AND a.doc_id % {BENCH_MOD} <> 0 AND b.doc_id % {BENCH_MOD} = 0),
flagged AS (
  SELECT s.*,
         q_keep AND s.doc_id = MIN(CASE WHEN q_keep THEN s.doc_id END)
                      OVER (PARTITION BY canon) AS d_keep
  FROM slim s),
flagged2 AS (
  SELECT f.*,
         d_keep AND NOT is_bench AND c.doc_id IS NULL AS c_keep
  FROM flagged f LEFT JOIN cont c ON f.doc_id = c.doc_id),
hist AS (
  SELECT source, hb, SUM(n_tok) AS b_tok
  FROM flagged2 WHERE c_keep GROUP BY 1, 2),
tot AS (SELECT SUM(b_tok) AS t_total FROM hist),
cuts AS (
  SELECT source, MAX(hb) AS cut_hb FROM (
    SELECT source, hb,
           SUM(b_tok) OVER (PARTITION BY source ORDER BY hb
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM hist), tot
  WHERE cum * {TOKEN_BUDGET_DEN} <= t_total * {TOKEN_BUDGET_NUM}
  GROUP BY source),
final AS (
  SELECT f.*, COALESCE(c_keep AND f.hb <= c.cut_hb, false) AS m_keep
  FROM flagged2 f LEFT JOIN cuts c USING (source)),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS d0, CAST(SUM(n_tok) AS BIGINT) AS t0,
         CAST(SUM(CASE WHEN q_keep THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(SUM(CASE WHEN q_keep THEN n_tok ELSE 0 END) AS BIGINT) AS t1,
         CAST(SUM(CASE WHEN d_keep THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         CAST(SUM(CASE WHEN d_keep THEN n_tok ELSE 0 END) AS BIGINT) AS t2,
         CAST(SUM(CASE WHEN c_keep THEN 1 ELSE 0 END) AS BIGINT) AS d3,
         CAST(SUM(CASE WHEN c_keep THEN n_tok ELSE 0 END) AS BIGINT) AS t3,
         CAST(SUM(CASE WHEN m_keep THEN 1 ELSE 0 END) AS BIGINT) AS d4,
         CAST(SUM(CASE WHEN m_keep THEN n_tok ELSE 0 END) AS BIGINT) AS t4
  FROM final),
packed AS (
  SELECT CAST(COALESCE(SUM((lt + {PACK_BUDGET - 1}) // {PACK_BUDGET}), 0)
              AS BIGINT) AS d5,
         CAST(COALESCE(SUM(lt), 0) AS BIGINT) AS t5
  FROM (SELECT SUM(n_tok) AS lt FROM final WHERE m_keep GROUP BY lang))
SELECT '0_ingest' AS stage, d0 AS n_docs, t0 AS n_tokens FROM agg
UNION ALL SELECT '1_quality', d1, t1 FROM agg
UNION ALL SELECT '2_dedup', d2, t2 FROM agg
UNION ALL SELECT '3_decontam', d3, t3 FROM agg
UNION ALL SELECT '4_mixture', d4, t4 FROM agg
UNION ALL SELECT '5_packed', d5, t5 FROM packed
"""


# --- Bloom-filter runtime-pruned semi join ---------------------------------

BLOOM_BITS = 1 << 16   # 64 Kbit filter = 1024 longs ≈ 8 KB
BLOOM_NATION = 3


def bloom_semi_join(lineitem: DataFrame, supplier: DataFrame,
                    nationkey: int = BLOOM_NATION,
                    m: int = BLOOM_BITS) -> DataFrame:
    """Semi join with an explicit Bloom runtime filter: revenue stats
    for lineitems whose supplier sits in one nation.  The dim side's
    keys build a k=2 Bloom bitmask (map-side partial ``bit_or``, a
    1024-row shuffle, one broadcast map row ≈ 8 KB); the fact side
    probes it with two O(1) bit tests BEFORE the exact semi join, so
    only Bloom survivors reach the join.

    Why at 100 TB: this is the runtime-filter / DPP pattern made
    explicit — when the fact side must SHUFFLE to a non-broadcast semi
    join, pushing an 8 KB filter into the fact scan first cuts the
    shuffle to matching(+false-positive) rows, i.e. shuffle volume
    becomes O(selectivity·n) instead of O(n).  (Spark's own
    ``runtime.bloomFilter`` optimizer rule injects exactly this shape;
    ``bloom_filter_agg`` isn't in the public function registry, so the
    operator builds the filter from public primitives.)  False
    positives are removed by the exact join, so the Bloom stage is
    provably answer-neutral — the oracle is the plain semi join."""
    # both sides hash the SAME physical type: xxhash64(int) ≠
    # xxhash64(bigint) for equal values, so keys pin to bigint
    keys = (supplier.filter(F.col("s_nationkey") == nationkey)
            .select(F.col("s_suppkey").cast("bigint").alias("k")))

    def positions(key_sql: str) -> list[str]:
        return [f"pmod(xxhash64(CAST({key_sql} AS BIGINT)), {m})",
                f"pmod(xxhash64(CAST({key_sql} AS BIGINT), 1), {m})"]

    pos = keys.select(F.explode(F.array(
        *[F.expr(p) for p in positions("k")])).alias("p"))
    buckets = (pos.groupBy(F.expr("CAST(p DIV 64 AS INT)").alias("b"))
               .agg(F.bit_or(F.expr(
                   "shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT))"))
                   .alias("bits")))
    bf = buckets.agg(F.map_from_entries(
        F.collect_list(F.struct("b", "bits"))).alias("bf"))

    hit = " AND ".join(
        f"((shiftright(coalesce(element_at(bf, CAST(({p}) DIV 64 AS INT)), "
        f"CAST(0 AS BIGINT)), CAST(pmod({p}, 64) AS INT)) & 1) = 1)"
        for p in positions("l_suppkey"))
    pruned = (lineitem.select("l_suppkey", "l_returnflag", "l_quantity",
                              "l_extendedprice")
              .crossJoin(F.broadcast(bf))
              .filter(F.expr(hit))
              .drop("bf"))
    verified = pruned.join(F.broadcast(keys),
                           pruned.l_suppkey == F.col("k"), "left_semi")
    return (verified.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
                 F.sum(dec("l_extendedprice")).cast("double")
                 .alias("sum_price")))


# --- specs ----------------------------------------------------------------

_LSH_PAIRS_SQL = f"""
  mh AS ({_MINHASH_SQL}),
  bands AS (
    SELECT doc_id, CAST(i // {N_HASHES // N_BANDS} AS INT) AS band,
           STRING_AGG(CAST(mh AS VARCHAR), ',' ORDER BY i) AS band_sig
    FROM mh GROUP BY 1, 2),
  pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    GROUP BY 1, 2)
"""

_BIGRAMS_SQL = """
  SELECT doc_id, unnest(
           list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 1) + 1),
                          i -> array_to_string((string_split(text,' '))[i:i+1], ' '))
         ) AS g
  FROM documents
"""

_TOKENS_SQL = "SELECT doc_id, unnest(string_split(text, ' ')) AS g FROM documents"


def _pagerank_oracle_sql(iters: int = PR_ITERS) -> str:
    """Power iteration unrolled to a CTE chain (fixed round count —
    mirrors pagerank()'s decimal-sum / 12-dp-round discipline)."""
    rounds, prev = [], "pr0"
    for i in range(1, iters + 1):
        rounds.append(f"""pr{i} AS (
          SELECT d.src AS doc_id, d.outdeg,
                 ROUND(CAST(0.15 AS DOUBLE) / nn.n + CAST(0.85 AS DOUBLE) *
                       CAST(SUM(CAST(p.pr / p.outdeg AS DECIMAL(38,18)))
                            AS DOUBLE), 12) AS pr
          FROM edges e JOIN {prev} p ON e.src = p.doc_id
               JOIN deg d ON d.src = e.dst, nn
          GROUP BY d.src, d.outdeg, nn.n)""")
        prev = f"pr{i}"
    return f"""
    WITH {_LSH_PAIRS_SQL},
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    pr0 AS (SELECT src AS doc_id, outdeg, CAST(1.0 AS DOUBLE) / nn.n AS pr
            FROM deg, nn),
    {", ".join(rounds)}
    SELECT doc_id, ROUND(pr, 6) AS pagerank FROM {prev}
    """


def _zorder_oracle_sql(bits: int = ZORDER_BITS,
                       n_files: int = ZORDER_FILES) -> str:
    z_terms = " + ".join(
        f"(((xb >> {i}) & 1) << {2 * i + 1}) + (((yb >> {i}) & 1) << {2 * i})"
        for i in range(bits))
    return f"""
    WITH staged AS (
      -- ((x % m) + m) % m == Spark pmod: DuckDB % is sign-preserving,
      -- so a negative user_id would otherwise diverge (review finding)
      SELECT CAST(((user_id % {1 << bits}) + {1 << bits}) % {1 << bits}
                  AS INT) AS xb,
             CAST(floor((hour(ts) * 60 + minute(ts))
                        / {1440 // (1 << bits)}) AS INT) AS yb
      FROM events),
    z AS (SELECT xb, yb, {z_terms} AS zv FROM staged)
    SELECT CAST(floor(zv / {(1 << (2 * bits)) // n_files}) AS INT) AS zfile,
           COUNT(*) AS n_rows,
           MIN(xb) AS x_min, MAX(xb) AS x_max,
           MIN(yb) AS y_min, MAX(yb) AS y_max
    FROM z GROUP BY 1
    """


def _gram_stats_sql(src: str, prefix: str) -> str:
    return f"""
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS {prefix}_n, COUNT(*) AS {prefix}_distinct,
           MAX(c) AS {prefix}_top, CAST(SUM(len(g) * c) AS BIGINT) AS {prefix}_chars
    FROM (SELECT doc_id, g, COUNT(*) AS c FROM ({src}) GROUP BY doc_id, g)
    GROUP BY doc_id
    """


# --- training-order global shuffle ----------------------------------------

N_SHUFFLE_SHARDS = 8
SHUFFLE_SEED = "42"


def _md5_bucket(col, salt: str, n_hex: int = 4):
    """First ``n_hex`` hex digits of a salted md5, as a bigint — the
    one deterministic cross-engine hash idiom this package uses for all
    sampling/splitting (reproducible across reruns, engines, and
    repartitioning, unlike RNG-based sampling)."""
    h = F.md5(F.concat_ws(":", F.lit(salt), col.cast("string")))
    return F.conv(F.substring(h, 1, n_hex), 16, 10).cast("bigint")


def global_shuffle(documents: DataFrame,
                   n_shards: int = N_SHUFFLE_SHARDS,
                   seed: str = SHUFFLE_SEED) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets
    a (shard, pos) — shard by hash, position by hash order within the
    shard.

    This is the at-scale form of "ORDER BY random()": a single global
    row_number would serialize the sort tail into ONE partition (the
    window has no PARTITION BY — a non-starter at 100 TB), so the order
    contract is per-shard: readers consume shards in shard order, rows
    in pos order, which is a fixed global permutation.  Both columns
    derive from the same salted md5, so the permutation is reproducible
    across engines and repartitioning; the window sorts each shard
    independently (32+ parallel sorts, bounded by shard size ≈ n/8)."""
    from pyspark.sql import Window

    key = F.md5(F.concat_ws(":", F.lit("shuf"), F.lit(seed),
                            F.col("doc_id").cast("string")))
    shard = (_md5_bucket(F.col("doc_id"), f"shard:{seed}")
             % n_shards).cast("int")
    w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    return (documents
            .select("doc_id", shard.alias("shard"), key.alias("sort_key"))
            .select("doc_id", "shard",
                    F.row_number().over(w).alias("pos")))


# --- hash-based train/val/test split --------------------------------------

SPLIT_SEED = "split7"


def train_val_test_split(documents: DataFrame,
                         seed: str = SPLIT_SEED) -> DataFrame:
    """80/10/10 train/val/test assignment by salted hash bucket, with
    per-split corpus stats.  Hash-based (not RNG) assignment is the
    training-pipeline standard: a document's split never changes as the
    corpus grows or repartitions, and dedup/decontamination can join on
    it deterministically.  Map-only assignment + one partial-aggregated
    groupBy on a 3-value key."""
    pct = _md5_bucket(F.col("doc_id"), f"split:{seed}") % 100
    split = (F.when(pct < 80, "train")
             .when(pct < 90, "val").otherwise("test"))
    return (documents
            .groupBy(split.alias("split"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"),
                 F.countDistinct("source").alias("n_sources")))


# --- per-source contribution cap ------------------------------------------

SOURCE_CAP = 15
SOURCE_CAP_SEED = "cap3"


def source_cap(documents: DataFrame, cap: int = SOURCE_CAP,
               seed: str = SOURCE_CAP_SEED) -> DataFrame:
    """Cap each source's contribution at ``cap`` documents, chosen by a
    deterministic salted-md5 order — the diversity control that stops
    one crawl/domain from dominating a training mixture (the per-group
    form of `q_mixture_rebalance`'s corpus-level acceptance rates).

    Hash order (not doc_id order) means the kept subset is an unbiased
    deterministic sample per source, stable under corpus growth for the
    docs already present.  Shape: row_number over (source, hash) then
    `rn <= cap` — Spark 3.5+ rewrites a rank-limit filter to
    WindowGroupLimit, a per-partition top-``cap`` heap with map-side
    partial limiting BEFORE the shuffle, so a hot source never drags a
    full per-key sort (pinned in test_plans); the long tail of
    under-cap sources passes through the same heap at O(group) cost."""
    from pyspark.sql import Window

    key = F.md5(F.concat_ws(":", F.lit(seed),
                            F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(key, "doc_id")
    return (documents
            .select("doc_id", "source", F.row_number().over(w)
                    .cast("int").alias("sample_rank"))
            .filter(F.col("sample_rank") <= cap))


# --- temperature (alpha) source sampling -----------------------------------

TEMP_SEED = "temp1"
TEMP_SCALE = 1_000_000  # hash-acceptance resolution


def temperature_sample(documents: DataFrame,
                       seed: str = TEMP_SEED) -> DataFrame:
    """Multilingual/multi-source temperature sampling at α=0.5: keep
    docs so the sampled per-language counts are ∝ n_s^α instead of n_s —
    the standard multilingual-LM rebalance that upweights low-resource
    languages without exhausting them.  The smallest language keeps
    everything; language s keeps with probability (n_min/n_s)^(1-α) =
    sqrt(n_min/n_s) at α=0.5 (the fixture's lang column is the skewed
    grouping — en dominates ~3:1; `source` is uniform by
    construction).

    α=0.5 is chosen so the float power is exactly ``sqrt`` — IEEE
    correctly-rounded in both engines, unlike a general pow; the
    acceptance itself is an integer compare of a salted md5 bucket
    against floor(rate·10⁶), so membership is deterministic and
    repartition/growth-stable (same hash-acceptance machinery as
    `q_mixture_rebalance`, which targets UNIFORM counts — temperature
    keeps a tempered gradient instead).  Shape: one per-source count
    aggregate (rows = #sources) broadcast back, then a map-only
    filter; no data-key shuffle touches the corpus."""
    counts = documents.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_s"))
    n_min = counts.agg(F.min("n_s").alias("n_min"))
    rates = (counts.crossJoin(F.broadcast(n_min))
             .select("lang",
                     F.floor(F.sqrt(F.col("n_min").cast("double")
                                    / F.col("n_s"))
                             * TEMP_SCALE).cast("bigint").alias("thr")))
    bucket = _md5_bucket(F.col("doc_id"), seed, n_hex=8) % TEMP_SCALE
    return (documents
            .join(F.broadcast(rates), "lang")
            .filter(bucket < F.col("thr"))
            .select("doc_id", "lang"))


# --- staged quality-filter funnel ------------------------------------------

FUNNEL_LEN_LO, FUNNEL_LEN_HI = 120, 480
FUNNEL_TTR = 0.45
FUNNEL_LANGS = ("en", "de", "fr", "es")


def quality_funnel(documents: DataFrame) -> DataFrame:
    """Per-source survival counts through the standard quality-filter
    cascade (length gate → lexical-diversity gate → language gate),
    cumulatively: n_len ⊇ n_diversity ⊇ n_lang.

    The naive form is three filtered passes over the corpus; this is
    ONE map + one partial-aggregated groupBy — conditional aggregation
    turns the funnel into per-row booleans, so the corpus is read once
    no matter how many stages the cascade grows.  All gates are
    exact-integer-derived (token counts, char counts), so the funnel is
    engine-identical."""
    toks = ws_tokens("text")
    ttr = F.size(F.array_distinct(toks)) / F.size(toks)
    s1 = F.col("n_chars").between(FUNNEL_LEN_LO, FUNNEL_LEN_HI)
    s2 = s1 & (ttr >= FUNNEL_TTR)
    s3 = s2 & F.col("lang").isin(*FUNNEL_LANGS)
    one = lambda c: F.sum(c.cast("bigint")).alias  # noqa: E731
    return (documents
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 one(s1)("n_len"),
                 one(s2)("n_diversity"),
                 one(s3)("n_lang")))


def skew_report(df: DataFrame, key: str = "o_custkey") -> DataFrame:
    """Key-skew diagnostics — the report you run BEFORE choosing a
    partitioning/salting strategy at scale: per-key count distribution
    (max / interpolated p50/p90/p99 / mean), key and row totals, and
    the heaviest key with its row share.

    Shape: one partial-aggregated groupBy to per-key counts (shuffle
    carries one row per key), then a singleton global aggregate and a
    1-row TakeOrdered for the top key — nothing driver-side, output is
    one row regardless of input size.  This is the exact analog of the
    skew probes AQE runs internally, surfaced as data: top1_share ≈ 1/K
    means uniform; top1_share ≫ 1/K says salt this key (the q_salted_*
    operators are the remedies)."""
    counts = df.groupBy(F.col(key).alias("key")).agg(
        F.count(F.lit(1)).alias("cnt"))
    top = (counts.orderBy(F.col("cnt").desc(), F.col("key"))
           .limit(1)
           .select(F.col("key").alias("top1_key"),
                   F.col("cnt").alias("top1_cnt")))
    stats = counts.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.expr("percentile(cnt, 0.5)"), 4).alias("p50_cnt"),
        F.round(F.expr("percentile(cnt, 0.9)"), 4).alias("p90_cnt"),
        F.round(F.expr("percentile(cnt, 0.99)"), 4).alias("p99_cnt"),
        F.round(F.sum("cnt") / F.count(F.lit(1)), 4).alias("avg_cnt"))
    return (stats.crossJoin(F.broadcast(top))
            .withColumn("top1_share",
                        F.round(F.col("top1_cnt") / F.col("n_rows"), 6))
            .drop("top1_cnt"))


def expectations_report(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Data-quality expectations suite — the validation gate a 100 TB
    pipeline runs before promoting a snapshot: required-column null
    counts, primary-key duplicate count, referential orphans, and
    domain-range violations, each as a violation COUNT in one row.

    Shapes: null/range checks are conditional sums inside ONE
    partial-aggregated scan per table (adding expectations never adds
    scans — same single-pass trick as the quality funnel); the PK check
    is a groupBy(key) counting keys seen twice; the referential check
    is a left-anti join lineitem→orders (the same broadcast/shuffle
    planning any semi join gets).  All counts are exact integers —
    engine-identical.  A zero row means the snapshot passes; the
    columns name the violated expectation directly."""
    o_scan = orders.agg(
        F.sum(F.col("o_custkey").isNull().cast("bigint")).alias("o_null_custkey"),
        F.sum(F.col("o_totalprice").isNull().cast("bigint")).alias("o_null_price"),
        F.sum((F.col("o_totalprice") <= 0).cast("bigint")).alias("o_nonpos_price"))
    o_dupes = (orders.groupBy("o_orderkey")
               .agg(F.count(F.lit(1)).alias("n"))
               .agg(F.sum((F.col("n") > 1).cast("bigint")).alias("o_dup_pk")))
    l_scan = lineitem.agg(
        F.sum(F.col("l_quantity").isNull().cast("bigint")).alias("l_null_qty"),
        F.sum((F.col("l_discount") < 0).cast("bigint")
              + (F.col("l_discount") > 1).cast("bigint")).alias("l_bad_discount"))
    orphans = (lineitem.join(orders.select("o_orderkey"),
                             lineitem.l_orderkey == orders.o_orderkey,
                             "left_anti")
               .agg(F.count(F.lit(1)).alias("l_orphans")))
    return (o_scan.crossJoin(o_dupes).crossJoin(l_scan).crossJoin(orphans))


# --- custom stateful streaming (applyInPandasWithState) ---------------------


def stateful_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper for streaming.stateful.run_stateful_counts:
    stream `events` micro-batch by micro-batch through a custom
    applyInPandasWithState counter; the final per-user state must equal
    the batch GROUP BY (counters only accumulate), so this custom
    stateful operator shares a plain-SQL oracle."""
    from ..streaming.stateful import run_stateful_counts

    events = load_table(spark, sf_dir, "events")
    work = _work_dir("stateful_counts", sf_dir)
    return run_stateful_counts(spark, events, work)


def triangle_counts(documents: DataFrame) -> DataFrame:
    """Triangle counting over the MinHash-LSH near-duplicate graph —
    the local clustering-density signal (a doc in many triangles sits
    inside a tight template family; a bridge between families sits in
    few).  Completes the graph kit: CC = membership, PageRank =
    centrality, triangles = cohesion.

    The compact-forward algorithm on canonical edges (a<b): wedge
    generation joins edges on the low endpoint (e1=(a,b), e2=(a,c),
    b<c) and a third equi-join closes the wedge against (b,c).  On
    canonical edges every triangle is generated EXACTLY once — no /3
    correction, no double counting — and all three steps are plain
    equi-joins on node ids.  At scale the classic refinement orders
    endpoints by degree instead of id so hub wedges don't explode
    (same join shape, different canonical order); named, not needed at
    this graph's density.  Per-node output: triangles touched,
    neighbors, and the integer wedge count — exact, oracle-identical."""
    pairs = (minhash_lsh_pairs(documents)
             .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
             .localCheckpoint(eager=True))  # feeds 3 join sides + degrees
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tris = (e1.join(e2, (F.col("e1.a") == F.col("e2.a"))
                    & (F.col("e1.b") < F.col("e2.b")))
            .join(e3, (F.col("e3.a") == F.col("e1.b"))
                  & (F.col("e3.b") == F.col("e2.b")))
            .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"),
                    F.col("e2.b").alias("z")))
    touched = (tris.select(F.col("x").alias("doc_id"))
               .unionAll(tris.select(F.col("y").alias("doc_id")))
               .unionAll(tris.select(F.col("z").alias("doc_id")))
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_triangles")))
    deg = (pairs.select(F.col("a").alias("doc_id"))
           .unionAll(pairs.select(F.col("b").alias("doc_id")))
           .groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree")))
    return (deg.join(touched, "doc_id", "left")
            .select("doc_id", "degree",
                    F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")))


_WORK_DIRS: dict[tuple[str, str], str] = {}


def _work_dir(op: str, sf_dir: str) -> str:
    """One cached scratch dir per (operator, sf_dir) per process:
    repeated builds (parity loops, driver rounds, bench warm-ups)
    reuse it instead of leaking a fresh mkdtemp of re-chunked input +
    checkpoint every call (review finding).  Contents are recreated
    from scratch each run (mode=overwrite + fresh checkpoint subdir
    per call is unnecessary — availableNow reruns are idempotent over
    the same chunks)."""
    import shutil
    import tempfile

    key = (op, sf_dir)
    if key not in _WORK_DIRS:
        _WORK_DIRS[key] = tempfile.mkdtemp(prefix=f"{op}_")
    else:
        for sub in ("updates", "ckpt"):
            shutil.rmtree(os.path.join(_WORK_DIRS[key], sub),
                          ignore_errors=True)
    return _WORK_DIRS[key]


def manifest_roundtrip_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layer contract query: write `documents` through the
    manifest-committed table in two atomic appends (two versions, so
    the log is exercised, not just one CTAS), read the HEAD back
    through the manifest, and aggregate — the oracle is the same
    aggregate over the source table, so the round trip must be
    LOSSLESS and EXACTLY-ONCE for the query to hash-match.  This puts
    `sinks/manifest.py` under the driver's correctness gate rather
    than pytest alone.  The scratch table is cached per (op, sf) and
    only built once per process; re-runs read the committed head.
    A PARTIAL build (first append committed, second failed) is torn
    down and rebuilt — resuming with both appends would duplicate the
    first half and misattribute the parity failure to the manifest
    layer (review finding)."""
    import shutil

    from ..sinks.manifest import ManifestTable

    docs = load_table(spark, sf_dir, "documents")
    root = os.path.join(_work_dir("manifest_rt", sf_dir), "tbl")
    if 0 < ManifestTable(root).current_version() < 2:
        shutil.rmtree(root, ignore_errors=True)
    tbl = ManifestTable(root)
    if tbl.current_version() < 2:
        tbl.append(docs.filter(F.col("doc_id") % 2 == 0))
        tbl.append(docs.filter(F.col("doc_id") % 2 == 1))
    return (tbl.read(spark)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.countDistinct("doc_id").alias("n_distinct_ids")))


def manifest_merge_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO contract query: seed a manifest table with
    `documents` (version 1), then one atomic copy-on-write MERGE
    (version 2) that updates every doc_id ≡ 0 (mod 4) row
    (n_chars + 1000) and inserts shifted new rows for doc_id ≡ 0
    (mod 31), and aggregate the head.  The oracle derives the merged
    state analytically, so the upsert must be lossless, exactly-once,
    and whole-row-replacing for the hash to match.

    Idempotent by version guard: each stage owns one version number,
    so a crashed run resumes at the stage that didn't publish —
    never re-applying a committed one (re-merging would double the
    +1000 bump and misattribute the failure to the storage layer)."""
    from ..sinks.manifest import ManifestTable

    docs = load_table(spark, sf_dir, "documents")
    tbl = ManifestTable(
        os.path.join(_work_dir("manifest_merge", sf_dir), "tbl"))
    if tbl.current_version() < 1:
        tbl.append(docs)
    if tbl.current_version() < 2:
        # insert ids shift by max(doc_id)+1 — a FIXED offset collides
        # with real ids once the corpus outgrows it, silently deleting
        # rows and violating merge()'s one-row-per-key precondition
        # (review finding); the data-derived shift is collision-free
        # at any scale factor and both engines derive it identically
        shift = docs.agg(F.max("doc_id") + 1).first()[0]
        updates = (docs.filter(F.pmod("doc_id", F.lit(4)) == 0)
                   .withColumn("n_chars", F.col("n_chars") + 1000))
        inserts = (docs.filter(F.pmod("doc_id", F.lit(31)) == 0)
                   .withColumn("doc_id", F.col("doc_id") + F.lit(shift))
                   .withColumn("source", F.lit("merged")))
        tbl.merge(spark, updates.unionByName(inserts), key="doc_id")
    return (tbl.read(spark)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.countDistinct("doc_id").alias("n_distinct_ids")))


def manifest_multi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table atomic-commit contract query: publish `documents`
    AND `embeddings` through ONE ManifestCatalog pass (the reference's
    one-transaction-per-ingest semantics, core.rs:59-61, 70-72 — a
    crashed pass publishes neither table), read BOTH tables back
    through the catalog manifest, join and aggregate.  The oracle is
    the same join over the source tables, so the commit must be
    lossless across the whole table SET for the hash to match.  One
    atomic pass ⇒ version is 0 or 1, never partial — re-runs are
    idempotent by construction."""
    from ..sinks.manifest import ManifestCatalog

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    cat = ManifestCatalog(
        os.path.join(_work_dir("manifest_multi", sf_dir), "cat"))
    if cat.current_version() < 1:
        cat.publish_pass({"docs": docs, "emb": emb})
    d = cat.read(spark, "docs")
    e = cat.read(spark, "emb")
    return (d.join(e, d.doc_id == e.vec_id)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.sum("label").alias("label_sum")))


MG_CAPACITY = 32  # Misra–Gries counters per partition summary


def heavy_hitters(documents: DataFrame,
                  capacity: int = MG_CAPACITY) -> DataFrame:
    """Frequent tokens via per-partition Misra–Gries summaries + exact
    verification — the bounded-memory heavy-hitters sketch (Misra &
    Gries 1982; mergeable-summaries form of Agarwal et al. 2013).

    Phase 1 (candidates): ``mapInPandas`` folds each partition's Arrow
    batches into ONE ≤``capacity``-entry counter dict (merge = add,
    then subtract the (capacity+1)-th largest and drop ≤0) and emits
    only the surviving keys — ≤ capacity rows per partition no matter
    how many tokens or distinct tokens the partition holds.  Guarantee:
    a token with global count > N/(capacity+1) must, by pigeonhole over
    Σ n_p = N, beat n_p/(capacity+1) in some partition and therefore
    survive that partition's summary.

    Phase 2 (verify): exact counts for CANDIDATE tokens only — the
    broadcast semi-join means the groupBy shuffles ≤ capacity ×
    n_partitions tokens instead of the full vocabulary, and the strict
    ``> N/(capacity+1)`` filter on exact counts makes the final answer
    EXACT and partitioning-independent (spurious candidates are
    removed by their true counts; guaranteed ones are always present).
    This is how you find hot keys at 100 TB without paying a
    full-vocabulary shuffle; the oracle is the plain exact HAVING."""
    import pandas as pd

    toks = documents.select(F.explode(ws_tokens("text")).alias("token"))

    def _mg_summaries(batches):
        counts: dict[str, int] = {}
        for pdf in batches:
            for t, c in pdf["token"].value_counts().items():
                counts[t] = counts.get(t, 0) + int(c)
            if len(counts) > capacity:
                sub = sorted(counts.values(), reverse=True)[capacity]
                counts = {t: c - sub for t, c in counts.items() if c > sub}
        yield pd.DataFrame({"token": list(counts)})

    candidates = toks.mapInPandas(_mg_summaries, "token string").distinct()
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    return (toks.join(F.broadcast(candidates), "token")
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("n"))
            .crossJoin(F.broadcast(total))
            .filter(F.col("n") > F.col("n_total") / F.lit(float(capacity + 1)))
            .select("token", "n",
                    F.round(F.col("n") / F.col("n_total"), 6).alias("share"))
            .orderBy(F.col("n").desc(), "token"))


def entity_resolution(part: DataFrame) -> DataFrame:
    """End-to-end entity resolution over part names: q-gram-blocked
    fuzzy candidate pairs (text.fuzzy_name_pairs — bounded blocking +
    exact levenshtein verify) feed the large-star/small-star CC kernel,
    and every name resolves to its cluster's lexicographic-min name as
    ``entity_id`` (the canonical record).

    This is the record-linkage composition the standalone pieces exist
    for: blocking bounds the pair search, the verify stage is exact,
    and clustering turns pairwise matches into transitive entities —
    all three stages reuse their pinned standalone kernels verbatim.
    Scale: |distinct names| drives every stage, never |rows|; the CC
    kernel is O(log n) rounds of groupBy-min + equi-join."""
    from .text import fuzzy_name_pairs

    pairs = fuzzy_name_pairs(part).select(
        F.col("name_a").alias("src"), F.col("name_b").alias("dst"))
    labels, _ = connected_components_star(pairs)
    names = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    entity = F.coalesce("label", F.col("p_name"))
    return (names.join(labels, names.p_name == labels.node, "left")
            .select(F.col("p_name").alias("name"),
                    entity.alias("entity_id"), "n_parts",
                    (entity == F.col("p_name")).alias("is_canonical")))


def corpus_profile(documents: DataFrame) -> DataFrame:
    """One-row corpus datasheet: the first artifact any dataset release
    publishes — volume, source/language breadth, length distribution
    bounds, and the exact-duplicate rate, in ONE aggregation over one
    scan.

    The three COUNT(DISTINCT)s make Catalyst plan an Expand (each row
    feeds 4 aggregation lanes) — a deliberate trade: one corpus scan at
    3× agg-lane width beats three scans at 100 TB, and each lane still
    partial-aggregates map-side.  The dup rate reuses the md5 identity
    every dedup operator here shares, so the datasheet agrees with
    `q_dedup_exact` by construction.

    Bench history (r8 VERDICT watch item, bisected r9): the r7→r8
    in-loop drift 0.17 → 0.35 s is POSITION, not kernel — git diff
    r7..r9 is empty for this function, session.py, catalog.py and
    functions/ (no input to the plan changed), and the pinned
    fresh-JVM protocol re-times it at 0.60 s with a tight [0.589,
    0.621] band (sf0.1).  The r7 0.17 s was the unrepresentative
    sample (cache-hot loop position — same conclusion as the r8
    q_winnowing_pairs bisect); in-loop numbers for this sub-second
    scan-bound query sit anywhere in [0.17, 0.35] depending on where
    the 150-query loop places it."""
    uniq = F.countDistinct(F.md5("text"))
    cnt = F.count(F.lit(1))
    return documents.agg(
        cnt.alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        uniq.alias("n_unique_texts"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.sum("n_chars") / cnt.cast("double"), 6)
        .alias("mean_chars"),
        F.round(F.lit(1.0) - uniq.cast("double") / cnt.cast("double"), 6)
        .alias("exact_dup_rate"))


KHOP_MAX = 4      # hop bound (terminates UNION ALL recursion on cycles)
KHOP_SEED_MOD = 100  # seeds = doc_id % KHOP_SEED_MOD == 0


def khop_reachability(spark: SparkSession, documents: DataFrame,
                      max_hops: int = KHOP_MAX) -> DataFrame:
    """K-hop ego networks via Spark 4's NATIVE recursive CTE (WITH
    RECURSIVE, new in 4.0): every node within ``max_hops`` of each
    seed document over the near-dup graph, with its minimum hop
    distance — executed as recursive SQL ON SPARK, the same text the
    DuckDB oracle runs.

    This pins the engine feature the iterative kernels (CC, PageRank,
    k-core) predate: bounded recursion is now declarative.  Spark
    currently supports only UNION ALL recursion (UNION_NOT_SUPPORTED_
    IN_RECURSIVE_CTE), so cycle termination comes from the hop
    counter, and the final GROUP BY MIN(hop) collapses duplicate
    paths — the standard bounded-reachability formulation.  Unbounded
    fixpoints (full CC) stay with the iterative kernels; path count
    within ``max_hops`` of a seed is bounded by degree^hops, which
    the candidate stage's degree caps keep small."""
    # materialize the pair set ONCE: the recursive executor re-evaluates
    # referenced plans per iteration step, so an un-checkpointed view
    # would re-run the whole MinHash kernel every hop (measured 16.4s
    # -> ~3s at sf0.1)
    pairs = (minhash_lsh_pairs(documents).select("doc_a", "doc_b")
             .localCheckpoint(eager=True))
    # DataFrames pass into spark.sql as template args — no global temp
    # view to collide across concurrent callers of this operator
    return spark.sql(f"""
        WITH RECURSIVE edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM {{pairs}}
          UNION ALL
          SELECT doc_b, doc_a FROM {{pairs}}),
        seeds AS (SELECT doc_id FROM {{documents}} d
                  WHERE doc_id % {KHOP_SEED_MOD} = 0),
        reach(seed, node, hop) AS (
          SELECT doc_id, doc_id, 0 FROM seeds
          UNION ALL
          SELECT r.seed, e.dst, r.hop + 1
          FROM reach r JOIN edges e ON e.src = r.node
          WHERE r.hop < {max_hops})
        SELECT seed, node, CAST(MIN(hop) AS INT) AS dist
        FROM reach GROUP BY seed, node
        """, documents=documents, pairs=pairs)


def kcore(documents: DataFrame, k: int = 2,
          max_rounds: int | None = None) -> DataFrame:
    """k-core decomposition of the LSH near-dup graph: iteratively
    peel nodes with degree < k until fixpoint — the dense-subgraph
    extractor that separates tight template families (boilerplate
    farms worth one canonical doc) from incidental pairwise
    collisions, completing the graph kit (CC membership, PageRank
    centrality, triangles, kNN, k-core density).

    The k-core is the unique maximal subgraph with min-degree ≥ k, so
    the peeling order cannot change the answer — deterministic at any
    partitioning.  Each round: one degree aggregate + two semi-joins
    (edges with both endpoints surviving); rounds are O(peeling
    depth) and the edge set only shrinks.  localCheckpoint truncates
    lineage per round; convergence is one scalar (edge count).
    Iterative fixpoint ⇒ no SQL oracle (rows-only contract, declared
    class of the CC kernels' recursive oracles' limits); EXACT
    equality vs a pure-Python peeling reference is pinned in
    test_pipeline."""
    pairs = minhash_lsh_pairs(documents).select(
        F.least("doc_a", "doc_b").alias("u"),
        F.greatest("doc_a", "doc_b").alias("v"))
    edges = (pairs.filter(F.col("u") != F.col("v")).distinct()
             .localCheckpoint(eager=True))
    # Termination is guaranteed WITHOUT a cap: the edge count strictly
    # decreases every non-final round, so the loop runs <= |E|+1 times
    # (peeling depth is O(component size) on chain graphs — a fixed
    # cap crashed legitimate long-chain inputs; review finding).
    # max_rounds stays as an OPTIONAL runtime budget that fails loud.
    prev_n = -1
    rounds = 0
    while True:
        rounds += 1
        if max_rounds is not None and rounds > max_rounds:
            raise RuntimeError(
                f"kcore: round budget max_rounds={max_rounds} exhausted "
                f"before fixpoint (edges={prev_n}); raise the budget")
        n_edges = edges.count()
        if n_edges == prev_n:
            break
        prev_n = n_edges
        sym = edges.union(edges.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
        keep = (sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") >= k).select("u"))
        edges = (edges
                 .join(keep, "u", "left_semi")
                 .join(keep.select(F.col("u").alias("v")), "v",
                       "left_semi")
                 .select("u", "v")
                 .localCheckpoint(eager=True))
    sym = edges.union(edges.select(F.col("v").alias("u"),
                                   F.col("u").alias("v")))
    return (sym.groupBy(F.col("u").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("core_degree")))


#: Quarantine rules in priority order: (name, violation predicate).
#: First matching rule names the row's quarantine reason.
def _quarantine_rules():
    return (
        ("null_user", F.col("user_id").isNull()),
        ("negative_value", F.col("value") < 0),
        ("unknown_type", ~F.col("event_type").isin(
            "click", "view", "purchase", "signup", "error")),
        ("out_of_range_ts",
         (F.col("ts") < F.lit("2020-01-01").cast("timestamp_ntz"))
         | (F.col("ts") >= F.lit("2030-01-01").cast("timestamp_ntz"))),
    )


def quarantine_router(events: DataFrame) -> DataFrame:
    """Dead-letter routing (the badRecordsPath pattern as an operator):
    every row is tagged with its first violated rule — or 'ok' — in
    ONE map-only pass, then summarized per (reason, event_type).

    In production the tag splits the write (good rows promote, tagged
    rows land in a quarantine table WITH their reason, for replay
    after a fix) — the pattern that keeps one malformed producer from
    poisoning or halting a 100 TB ingest.  Priority-ordered CASE
    gives each row exactly ONE reason, so quarantine counts add up to
    the corpus and replays are idempotent per rule fix.  Contrast
    with `q_expectations`, which COUNTS violations per rule corpus-
    wide but keeps no row-level routing."""
    reason = F.lit("ok")
    for name, pred in reversed(_quarantine_rules()):
        reason = F.when(pred, F.lit(name)).otherwise(reason)
    return (events
            .select(reason.alias("reason"), "event_type")
            .groupBy("reason", "event_type")
            .agg(F.count(F.lit(1)).alias("n_rows")))


def incremental_agg_merge(events: DataFrame) -> DataFrame:
    """Incremental materialized-view maintenance: merge a precomputed
    per-type aggregate artifact with a delta batch WITHOUT rescanning
    history — the algebraic partial-aggregate merge that makes daily
    refresh O(|delta| + |groups|) at 100 TB instead of O(|history|).

    Here both the ``base`` artifact (event_id pmod 10 != 0, standing in
    for yesterday's stored aggregate) and the ``delta`` batch (the rest)
    are built in-query so the contract is self-contained; in production
    the base comes from a manifest-committed table.  (count, sum) are
    algebraic — partials add — and the sum stays exact decimal until
    the final cast, so merged-vs-rescan equality is bit-exact: the
    oracle IS the full rescan, making the merge property the thing the
    driver checks.
    """
    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).alias("__sum_dec"))

    base = partial(events.filter(F.pmod("event_id", F.lit(10)) != 0))
    delta = partial(events.filter(F.pmod("event_id", F.lit(10)) == 0))
    return (base.unionByName(delta)
            .groupBy("event_type")
            .agg(F.sum("n_events").alias("n_events"),
                 F.sum("__sum_dec").cast("double").alias("sum_value")))


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Row-level diff between two table snapshots (the data-lake
    change-audit op: what did this commit add / remove / change?).

    Each side reduces map-side to (key, row_hash) — the full-outer join
    carries 2 columns per row regardless of table width, and the hash
    compare classifies without re-reading payloads.  Output is only the
    changed surface (added/removed/changed), never the unchanged bulk.
    Composes with sinks/manifest.py time travel: read version N and
    N-1, diff.  One hash-partitioned shuffle on the key; AQE handles
    key skew like any equi-join.
    """
    def keyed(df: DataFrame, side: str) -> DataFrame:
        # null-safe row encoding: concat_ws silently DROPS null fields,
        # so (a, NULL, b) and (a, b, NULL) would hash identically and a
        # real change would classify as unchanged (review finding) —
        # coalesce each field to a sentinel the data cannot contain
        cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                for c in ("text", "lang", "source", "n_chars")]
        return df.select(
            "doc_id",
            F.md5(F.concat_ws("\x1f", *cols)).alias(f"{side}_hash"),
            F.col("n_chars").alias(f"{side}_n_chars"))

    j = keyed(old, "old").join(keyed(new, "new"), "doc_id", "full_outer")
    change = (F.when(F.col("old_hash").isNull(), F.lit("added"))
              .when(F.col("new_hash").isNull(), F.lit("removed"))
              .when(F.col("old_hash") != F.col("new_hash"),
                    F.lit("changed")))
    return (j.select("doc_id", change.alias("change_type"),
                     "old_n_chars", "new_n_chars")
            .filter(F.col("change_type").isNotNull()))


def _snapshots(documents: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Derive two deterministic snapshot views of ``documents`` so
    q_snapshot_diff is self-contained: pmod(doc_id,20)==0 rows exist
    only in the old snapshot (removed), ==1 only in the new (added),
    2..4 get n_chars+1 in the new (changed), the rest are identical."""
    m = F.pmod("doc_id", F.lit(20))
    old = documents.filter(m != 1)
    new = (documents.filter(m != 0)
           .withColumn("n_chars",
                       F.when(m.between(2, 4), F.col("n_chars") + 1)
                       .otherwise(F.col("n_chars"))))
    return old, new


def snapshot_diff_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    old, new = _snapshots(docs)
    return snapshot_diff(old, new)


SPECS: dict[str, Spec] = {
    "q_pipeline_e2e": Spec(
        pipeline_e2e_query,
        _PIPE_E2E_ORACLE,
        "end-to-end composed pipeline in ONE DAG: ingest → Gopher "
        "keep → normalized dedup (min-over-canon window, no join-back) "
        "→ n-gram decontamination (shingle self-join drop set) → "
        "token-budget mixture (bucket-CDF cutoff) → concat-and-chunk "
        "pack; per-stage (docs, tokens) conservation counts; exactly "
        "two corpus passes, both checkpointed artifacts — final plan "
        "is parquet-scan-free (pinned)"),
    "q_entity_resolution": Spec(
        lambda spark, sf: entity_resolution(load_table(spark, sf, "part")),
        f"""
        WITH RECURSIVE {FUZZY_PAIRS_CTE_SQL},
        pairs AS (
          SELECT name_a, name_b FROM cand
          WHERE levenshtein(name_a, name_b) <= 4),
        edges AS (SELECT name_a AS src, name_b AS dst FROM pairs
                  UNION ALL SELECT name_b, name_a FROM pairs),
        reach(node, lab) AS (
          SELECT name, name FROM names
          UNION
          SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
        comp AS (
          SELECT node AS name, MIN(lab) AS entity_id
          FROM reach GROUP BY node)
        SELECT c.name, c.entity_id, CAST(n.n_parts AS BIGINT) AS n_parts,
               (c.entity_id = c.name) AS is_canonical
        FROM comp c JOIN names n USING (name)
        """,
        "entity resolution composite: q-gram-blocked fuzzy pairs -> "
        "exact levenshtein verify -> star-CC clustering -> canonical "
        "entity per cluster (all three stages reuse their pinned "
        "standalone kernels; cost driven by |distinct names|)"),
    "q_khop_reach": Spec(
        lambda spark, sf: khop_reachability(
            spark, load_table(spark, sf, "documents")),
        f"""
        WITH RECURSIVE {{pairs}},
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        seeds AS (SELECT doc_id FROM documents
                  WHERE doc_id % {KHOP_SEED_MOD} = 0),
        reach(seed, node, hop) AS (
          SELECT doc_id, doc_id, 0 FROM seeds
          UNION ALL
          SELECT r.seed, e.dst, r.hop + 1
          FROM reach r JOIN edges e ON e.src = r.node
          WHERE r.hop < {KHOP_MAX})
        SELECT seed, node, CAST(MIN(hop) AS INT) AS dist
        FROM reach GROUP BY seed, node
        """.replace("{pairs}", _LSH_PAIRS_SQL),
        "k-hop ego networks via Spark 4 NATIVE recursive CTE (WITH "
        "RECURSIVE, UNION ALL + hop bound): the engine runs the same "
        "recursive SQL text the oracle does — declarative bounded "
        "reachability over the near-dup graph"),
    "q_kcore": Spec(
        lambda spark, sf: kcore(load_table(spark, sf, "documents")),
        None,  # iterative fixpoint — no SQL oracle; exact Python
               # peeling equality pinned in test_pipeline
        "k-core decomposition of the near-dup graph: iterative "
        "degree-peel to the unique maximal min-degree->=k subgraph "
        "(dense template families vs incidental collisions); "
        "deterministic fixpoint, O(peeling depth) rounds"),
    "q_quarantine": Spec(
        lambda spark, sf: quarantine_router(load_table(spark, sf,
                                                       "events")),
        """
        SELECT CASE
                 WHEN user_id IS NULL THEN 'null_user'
                 WHEN value < 0 THEN 'negative_value'
                 WHEN event_type NOT IN ('click', 'view', 'purchase',
                                         'signup', 'error')
                   THEN 'unknown_type'
                 WHEN ts < TIMESTAMP '2020-01-01'
                   OR ts >= TIMESTAMP '2030-01-01'
                   THEN 'out_of_range_ts'
                 ELSE 'ok' END AS reason,
               event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events GROUP BY 1, 2
        """,
        "dead-letter quarantine routing: priority-ordered rule CASE "
        "tags each row with exactly one reason in a map-only pass "
        "(badRecordsPath pattern as an operator — good rows promote, "
        "tagged rows land replayable with their reason)"),
    "q_corpus_profile": Spec(
        lambda spark, sf: corpus_profile(load_table(spark, sf,
                                                    "documents")),
        """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT)
                 AS n_unique_texts,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               MIN(n_chars) AS min_chars,
               MAX(n_chars) AS max_chars,
               ROUND(CAST(SUM(n_chars) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS mean_chars,
               ROUND(1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS exact_dup_rate
        FROM documents
        """,
        "one-row corpus datasheet (volume, source/lang breadth, "
        "length bounds, exact-dup rate) in ONE scan — the Expand-lane "
        "multi-distinct aggregate; dup identity shared with "
        "q_dedup_exact"),
    "q_incremental_agg": Spec(
        lambda spark, sf: incremental_agg_merge(load_table(spark, sf,
                                                           "events")),
        """
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_value
        FROM events GROUP BY event_type
        """,
        "incremental materialized-view maintenance: algebraic "
        "partial-aggregate merge of a stored artifact + delta batch — "
        "oracle is the full rescan, so the driver checks the merge "
        "property itself (bit-exact via decimal partials)"),
    "q_snapshot_diff": Spec(
        snapshot_diff_query,
        """
        WITH m AS (SELECT doc_id, ((doc_id % 20) + 20) % 20 AS md,
                          n_chars
                   FROM documents)
        SELECT doc_id,
               CASE WHEN md = 1 THEN 'added'
                    WHEN md = 0 THEN 'removed'
                    WHEN md BETWEEN 2 AND 4 THEN 'changed' END
                 AS change_type,
               CASE WHEN md = 1 THEN NULL ELSE n_chars END
                 AS old_n_chars,
               CASE WHEN md = 0 THEN NULL
                    WHEN md BETWEEN 2 AND 4 THEN n_chars + 1
                    ELSE n_chars END AS new_n_chars
        FROM m WHERE md <= 4
        """,
        "row-level snapshot diff (data-lake change audit): map-side "
        "(key, row-hash) reduction then one full-outer equi-join; "
        "output is only the added/removed/changed surface — composes "
        "with manifest time travel (oracle derives the planted edits "
        "analytically)"),
    "q_source_cap": Spec(
        lambda spark, sf: source_cap(load_table(spark, sf, "documents")),
        f"""
        SELECT doc_id, source, CAST(rn AS INT) AS sample_rank
        FROM (SELECT doc_id, source,
                     ROW_NUMBER() OVER (
                         PARTITION BY source
                         ORDER BY md5('{SOURCE_CAP_SEED}:' ||
                                      CAST(doc_id AS VARCHAR)), doc_id) AS rn
              FROM documents)
        WHERE rn <= {SOURCE_CAP}
        """,
        "per-source contribution cap: deterministic salted-hash sample "
        "of <=cap docs per source (WindowGroupLimit heap, no per-key "
        "full sort)"),
    "q_manifest_merge": Spec(
        manifest_merge_query,
        """
        WITH merged AS (
          SELECT doc_id, text, lang, source,
                 CASE WHEN ((doc_id % 4) + 4) % 4 = 0
                      THEN n_chars + 1000 ELSE n_chars END AS n_chars
          FROM documents
          UNION ALL
          SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents),
                 text, lang, 'merged', n_chars
          FROM documents WHERE ((doc_id % 31) + 31) % 31 = 0)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct_ids
        FROM merged GROUP BY source
        """,
        "MERGE INTO on manifest tables (copy-on-write upsert, one "
        "atomic version; completes the lakehouse verb set) — oracle "
        "derives the merged state analytically, so the upsert must be "
        "lossless and exactly-once"),
    "q_manifest_multi": Spec(
        manifest_multi_query,
        """
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(e.label) AS BIGINT) AS label_sum
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        GROUP BY d.source
        """,
        "multi-table atomic ingest pass (ManifestCatalog: one commit "
        "publishes the whole table set, reference core.rs:59-72)"),
    "q_dedup_clusters": Spec(
        lambda spark, sf: dedup_clusters(load_table(spark, sf, "documents")),
        f"""
        WITH RECURSIVE {_LSH_PAIRS_SQL},
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        reach(node, lab) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node)
        SELECT node AS doc_id, MIN(lab) AS cluster_id,
               (MIN(lab) = node) AS is_keeper
        FROM reach GROUP BY node
        """,
        "connected-components dedup clustering over LSH pairs "
        "(large-star/small-star contraction, O(log n) rounds — the "
        "O(diameter) min-label kernel is the test-only equivalence "
        "audit since r14)"),
    "q_dedup_apply": Spec(
        lambda spark, sf: dedup_apply(load_table(spark, sf, "documents")),
        f"""
        WITH RECURSIVE {_LSH_PAIRS_SQL},
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        reach(node, lab) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
        keepers AS (
          SELECT node AS doc_id FROM reach GROUP BY node
          HAVING MIN(lab) = node)
        SELECT d.doc_id, d.lang, d.source, d.n_chars
        FROM documents d JOIN keepers USING (doc_id)
        """,
        "near-dup pipeline applied: one canonical doc per CC cluster"),
    "q_dedup_keep_best": Spec(
        lambda spark, sf: dedup_keep_best(load_table(spark, sf,
                                                     "documents")),
        f"""
        WITH RECURSIVE {_LSH_PAIRS_SQL},
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        reach(node, lab) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
        cl AS (SELECT node AS doc_id, MIN(lab) AS cluster_id
               FROM reach GROUP BY node)
        SELECT d.doc_id, cl.cluster_id, d.n_chars,
               (ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
                  ORDER BY d.n_chars DESC, d.doc_id) = 1) AS is_keeper
        FROM documents d JOIN cl USING (doc_id)
        """,
        "quality-aware near-dup keeper selection (FineWeb refinement "
        "of q_dedup_apply): each CC cluster keeps its LONGEST member "
        "(ties → doc_id) via a per-cluster rank window over "
        "(id, cluster, n_chars) — text never enters the window"),
    "q_quality_quantile": Spec(
        lambda spark, sf: quality_quantile_filter(load_table(spark, sf,
                                                             "documents")),
        f"""
        WITH scored AS (
          SELECT doc_id, source,
                 length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                   / n_chars AS score
          FROM documents),
        ranked AS (
          SELECT source, score,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY score, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY source) AS n
          FROM scored),
        thr AS (SELECT source, score AS thr FROM ranked
                WHERE rn = CAST(CEIL({QUALITY_QUANTILE} * n) AS BIGINT))
        SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(MAX(t.thr), 6) AS threshold,
               CAST(SUM(CASE WHEN s.score >= t.thr THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept
        FROM scored s JOIN thr t USING (source)
        GROUP BY s.source
        """,
        "per-source adaptive quality threshold (DataComp/FineWeb "
        "per-domain quantile filtering): EXACT nearest-rank q=0.75 "
        "alpha-ratio cutoff per source — deterministic under ties; "
        "production swaps approx_percentile with this as the audit"),
    "q_hll_merge": Spec(
        lambda spark, sf: hll_merge(load_table(spark, sf, "events")),
        None,  # sketch encoding is engine-specific — rows-only check
        "mergeable HLL distinct-count sketches: per-type sketches union "
        "to the global count without rescanning (accuracy pinned in tests)"),
    "q_kll_merge": Spec(
        lambda spark, sf: kll_quantile_merge(load_table(spark, sf,
                                                        "events")),
        None,  # sketch encoding is engine-specific — rows-only check
        "mergeable KLL quantile sketches: per-type p50/p90/p99 and the "
        "corpus-wide quantiles from a sketch merge — no global value "
        "sort at any rollup grain (accuracy pinned in tests)"),
    "q_theta_sets": Spec(
        lambda spark, sf: theta_set_algebra(load_table(spark, sf,
                                                       "events")),
        None,  # sketch encoding is engine-specific — rows-only check
        "Theta-sketch distinct-set algebra: union/intersection/"
        "difference of audience sets from one scan — the overlap "
        "estimates HLL cannot provide (accuracy pinned in tests)"),
    "q_hll_sliding": Spec(
        lambda spark, sf: hll_sliding_distinct(load_table(spark, sf,
                                                          "events")),
        None,  # sketch encoding is engine-specific — rows-only check
        "sliding-window distinct users from MERGED hourly HLL "
        "sketches: one corpus pass builds per-hour sketches, every "
        "overlapping window is a sketch union — count-distinct does "
        "not decompose over overlaps, sketches do (accuracy pinned "
        "in tests)"),
    "q_temperature_sample": Spec(
        lambda spark, sf: temperature_sample(load_table(spark, sf,
                                                        "documents")),
        f"""
        WITH counts AS (SELECT lang, COUNT(*) AS n_s
                        FROM documents GROUP BY lang),
        nm AS (SELECT MIN(n_s) AS n_min FROM counts),
        rates AS (
          SELECT lang,
                 CAST(FLOOR(sqrt(CAST(n_min AS DOUBLE) / n_s)
                            * {TEMP_SCALE}) AS BIGINT) AS thr
          FROM counts, nm)
        SELECT d.doc_id, d.lang
        FROM documents d JOIN rates r USING (lang)
        WHERE CAST('0x' || substr(md5('{TEMP_SEED}:'
                   || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
              % {TEMP_SCALE} < r.thr
        """,
        "temperature (alpha=0.5) source sampling: per-source keep rate "
        "sqrt(n_min/n_s) applied via deterministic hash-acceptance "
        "(sqrt is IEEE-exact cross-engine; map-only after a "
        "sources-row aggregate)"),
    "q_mixture_rebalance": Spec(
        lambda spark, sf: mixture_rebalance(load_table(spark, sf, "documents")),
        f"""
        WITH stats AS (SELECT source, COUNT(*) AS n_s
                       FROM documents GROUP BY source),
        tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_total,
                       COUNT(*) AS k FROM stats)
        SELECT d.source,
               CAST(MAX(s.n_s) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN CAST('0x' || substr(md5('mix:{MIX_SEED}:'
                          || CAST(d.doc_id AS VARCHAR)), 1, 4) AS BIGINT)
                          * t.k * s.n_s < t.n_total * 65536
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               ROUND(CAST(SUM(CASE WHEN CAST('0x' || substr(md5('mix:{MIX_SEED}:'
                          || CAST(d.doc_id AS VARCHAR)), 1, 4) AS BIGINT)
                          * t.k * s.n_s < t.n_total * 65536
                         THEN 1 ELSE 0 END) AS DOUBLE) / MAX(s.n_s), 6) AS rate
        FROM documents d JOIN stats s USING (source) CROSS JOIN tot t
        GROUP BY d.source
        """,
        "uniform-target source-mixture rebalance: histogram-derived "
        "acceptance rates applied map-only via integer hash compare"),
    "q_token_budget_mix": Spec(
        lambda spark, sf: token_budget_mix(load_table(spark, sf,
                                                      "documents")),
        f"""
        WITH staged AS (
          SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                 CAST('0x' || substr(md5('tb:{TOKEN_BUDGET_SEED}:'
                      || CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) AS hb
          FROM documents),
        bs AS (SELECT source, hb, CAST(SUM(n_tok) AS BIGINT) AS b_tok,
                      CAST(COUNT(*) AS BIGINT) AS b_docs
               FROM staged GROUP BY source, hb),
        tot AS (SELECT CAST(SUM(b_tok) AS BIGINT) AS t_total FROM bs),
        cum AS (SELECT source, hb,
                       SUM(b_tok) OVER (PARTITION BY source
                                        ORDER BY hb) AS cum,
                       SUM(b_docs) OVER (PARTITION BY source
                                         ORDER BY hb) AS cum_docs
                FROM bs),
        cutoffs AS (
          SELECT source, CAST(MAX(cum) AS BIGINT) AS tokens_kept,
                 CAST(MAX(cum_docs) AS BIGINT) AS n_kept
          FROM cum, tot
          WHERE cum * {TOKEN_BUDGET_DEN} <= t_total * {TOKEN_BUDGET_NUM}
          GROUP BY source),
        report AS (SELECT source, CAST(SUM(b_docs) AS BIGINT) AS n_docs,
                          CAST(SUM(b_tok) AS BIGINT) AS tokens
                   FROM bs GROUP BY source)
        SELECT r.source, r.n_docs, r.tokens,
               COALESCE(c.n_kept, 0) AS n_kept,
               COALESCE(c.tokens_kept, 0) AS tokens_kept,
               CAST(t.t_total * {TOKEN_BUDGET_NUM}
                    // {TOKEN_BUDGET_DEN} AS BIGINT) AS budget
        FROM report r
        LEFT JOIN cutoffs c USING (source), tot t
        """,
        "token-budgeted source mixture: cap each source at 3% of "
        "corpus tokens via a salted-hash bucket-histogram CDF "
        "(skew-free; no per-source single-task window)"),
    "q_bloom_prune": Spec(
        lambda spark, sf: bloom_semi_join(load_table(spark, sf, "lineitem"),
                                          load_table(spark, sf, "supplier")),
        f"""
        SELECT l_returnflag, COUNT(*) AS n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
        FROM lineitem
        WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                            WHERE s_nationkey = {BLOOM_NATION})
        GROUP BY l_returnflag
        """,
        "Bloom-runtime-filter pruned semi join (8 KB bitmask pushed into "
        "the fact scan; filter provably answer-neutral — oracle is the "
        "plain semi join)"),
    "q_pagerank": Spec(
        lambda spark, sf: pagerank(load_table(spark, sf, "documents")),
        _pagerank_oracle_sql(),
        "PageRank over the LSH near-dup graph (fixed-round power "
        "iteration; join+groupBy per round, edge-touching nodes only)"),
    "q_zorder": Spec(
        lambda spark, sf: zorder_layout(load_table(spark, sf, "events")),
        _zorder_oracle_sql(),
        "Z-order multi-dim layout: Morton interleave + per-file min/max "
        "on both dims (data-skipping quality table)"),
    "q_repetition_signals": Spec(
        lambda spark, sf: repetition_signals(load_table(spark, sf, "documents")),
        f"""
        WITH t AS ({_gram_stats_sql(_TOKENS_SQL, 'tok')}),
             b AS ({_gram_stats_sql(_BIGRAMS_SQL, 'bg')})
        SELECT t.doc_id, tok_n AS n_tok,
               ROUND(tok_distinct / tok_n, 6) AS uniq_tok_frac,
               ROUND(tok_top / tok_n, 6) AS top_tok_frac,
               ROUND(bg_top / bg_n, 6) AS top_bigram_frac,
               ROUND(tok_chars / tok_n, 6) AS mean_tok_len
        FROM t JOIN b ON t.doc_id = b.doc_id
        """,
        "Gopher-style repetition/quality signals (token+bigram stats)"),
    "q_pii_scrub": Spec(
        lambda spark, sf: pii_scrub(load_table(spark, sf, "documents")),
        f"""
        WITH enriched AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR) || '@' ||
                 source || '.net or 555-' ||
                 lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS e
          FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(e, '{EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(e, '{PHONE_RE}')) AS n_phones,
               md5(regexp_replace(regexp_replace(e, '{EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{PHONE_RE}', '<PHONE>', 'g')) AS clean_md5
        FROM enriched
        """,
        "regex PII redaction with per-doc counts (map-only)"),
    "q_decontaminate": Spec(
        lambda spark, sf: decontaminate(load_table(spark, sf, "documents")),
        f"""
        WITH grams AS ({_shingles_sql(DECON_NGRAM)}),
        bench AS (
          SELECT DISTINCT shingle FROM grams WHERE doc_id % {BENCH_MOD} = 0)
        SELECT g.doc_id, COUNT(*) AS n_shared
        FROM grams g JOIN bench USING (shingle)
        WHERE g.doc_id % {BENCH_MOD} <> 0
        GROUP BY g.doc_id
        """,
        "benchmark decontamination: n-gram overlap vs eval set (broadcast join)"),
    "q_decontaminate_fuzzy": Spec(
        lambda spark, sf: decontaminate_fuzzy(
            load_table(spark, sf, "documents")),
        f"""
        WITH grams AS ({_shingles_sql(FUZZY_NGRAM)}),
        v AS (
          SELECT doc_id, shingle,
                 array_to_string(list_concat(list_concat(
                     list_slice(toks, 1, i - 1), [chr(1)]),
                     list_slice(toks, i + 1, {FUZZY_NGRAM})), ' ')
                   AS skipgram
          FROM (SELECT doc_id, shingle,
                       string_split(shingle, ' ') AS toks FROM grams
                WHERE len(string_split(shingle, ' ')) = {FUZZY_NGRAM}),
               (SELECT unnest(range(1, {FUZZY_NGRAM + 1})) AS i) ix),
        bench AS (
          SELECT DISTINCT skipgram FROM v WHERE doc_id % {BENCH_MOD} = 0)
        SELECT g.doc_id,
               CAST(COUNT(DISTINCT g.shingle) AS BIGINT) AS n_fuzzy
        FROM v g JOIN bench USING (skipgram)
        WHERE g.doc_id % {BENCH_MOD} <> 0
        GROUP BY g.doc_id
        """,
        "near-match decontamination: same-position skip-gram equality "
        "IS token-Hamming<=1 — the one-token-rephrased leakage exact "
        "n-gram audits miss; corpus variants map-only, eval variants "
        "broadcast"),
    "q_stratified_sample": Spec(
        lambda spark, sf: stratified_sample(load_table(spark, sf, "documents")),
        f"""
        SELECT doc_id, lang, source FROM documents
        WHERE strpos(CASE WHEN lang = 'en' THEN '{EN_HEX}' ELSE '{OTHER_HEX}' END,
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) > 0
        """,
        "deterministic hash-based mixture sampling (per-language rates)"),
    "q_pack_sequences": Spec(
        lambda spark, sf: pack_sequences(load_table(spark, sf, "documents")),
        f"""
        WITH RECURSIVE ordered AS (
          SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok,
                 row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
          FROM documents),
        packed(lang, doc_id, n_tok, rn, fill, seq_id) AS (
          SELECT lang, doc_id, n_tok, rn, n_tok, 0 FROM ordered WHERE rn = 1
          UNION ALL
          SELECT o.lang, o.doc_id, o.n_tok, o.rn,
                 CASE WHEN p.fill + o.n_tok > {PACK_BUDGET}
                      THEN o.n_tok ELSE p.fill + o.n_tok END,
                 CASE WHEN p.fill + o.n_tok > {PACK_BUDGET}
                      THEN p.seq_id + 1 ELSE p.seq_id END
          FROM packed p JOIN ordered o ON o.lang = p.lang AND o.rn = p.rn + 1)
        SELECT lang, doc_id, n_tok, seq_id FROM packed
        """,
        "greedy token-budget sequence packing per language (applyInPandas)"),
    "q_interval_join": Spec(
        lambda spark, sf: interval_join(load_table(spark, sf, "events")),
        f"""
        SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
               a.ts AS ts_a, b.ts AS ts_b
        FROM events a JOIN events b
          ON a.user_id = b.user_id AND a.event_id < b.event_id
         AND b.ts >= a.ts - INTERVAL {OVERLAP_S} SECONDS
         AND b.ts <= a.ts + INTERVAL {OVERLAP_S} SECONDS
        """,
        "bucketed time-window overlap self-join (range join as equi-join)"),
    "q_salted_join": Spec(
        lambda spark, sf: salted_join(load_table(spark, sf, "events")),
        """
        SELECT e.event_id, e.user_id, e.event_type, u.n_events_user
        FROM events e
        JOIN (SELECT user_id, COUNT(*) AS n_events_user
              FROM events GROUP BY user_id) u USING (user_id)
        """,
        "salted skew-resistant equi-join (salt provably answer-neutral: "
        "oracle is the plain join)"),
    "q_skew_join_adaptive": Spec(
        lambda spark, sf: skew_adaptive_join(spark, sf),
        """
        SELECT e.event_id, e.user_id, e.event_type, u.n_events_user
        FROM events e
        JOIN (SELECT user_id, COUNT(*) AS n_events_user
              FROM events GROUP BY user_id) u USING (user_id)
        """,
        "differential salting driven by the COMMITTED skew artifact "
        "(r8 — the fourth monitor→actuator loop, acting on "
        "q_skew_report): only keys flagged by the exact-integer "
        "cnt·n_keys·100 > pct·n_rows bound take the salted (key, salt) "
        "path with dim replicated ×n_salt; cold keys join plain and "
        "the branches union — |hot|·n_salt replication instead of "
        "|dim|·n_salt, AQE's skew decision made from committed stats "
        "BEFORE the shuffle materializes; same oracle as q_salted_join "
        "(the plain join), so the hash gate proves answer-neutrality"),
    "q_merge_upsert": Spec(
        lambda spark, sf: merge_upsert(
            load_table(spark, sf, "orders").select(
                "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
            orders_cdc_batch(load_table(spark, sf, "orders")),
            "o_orderkey"),
        """
        WITH b AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                   FROM orders),
        u AS (
          SELECT o_orderkey,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1 AS DOUBLE)
                   AS o_totalprice
          FROM orders WHERE o_orderkey % 10 = 0
          UNION ALL
          SELECT o_orderkey + 10000000, o_totalprice
          FROM orders WHERE o_orderkey % 97 = 0)
        SELECT COALESCE(b.o_orderkey, u.o_orderkey) AS o_orderkey,
               b.o_custkey, b.o_orderstatus,
               COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice,
               (u.o_totalprice IS NOT NULL) AS from_update
        FROM b FULL OUTER JOIN u ON b.o_orderkey = u.o_orderkey
        """,
        "CDC MERGE/upsert via full-outer coalesce (lakehouse-apply shape)"),
    "q_salted_agg": Spec(
        lambda spark, sf: salted_agg(load_table(spark, sf, "events")),
        """
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
               COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY event_type
        """,
        "salted two-stage skew-resistant aggregation (oracle: plain GROUP BY)"),
    "q_global_shuffle": Spec(
        lambda spark, sf: global_shuffle(load_table(spark, sf, "documents")),
        f"""
        WITH t AS (
          SELECT doc_id,
                 CAST(CAST('0x' || substr(md5('shard:{SHUFFLE_SEED}:'
                        || CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
                      % {N_SHUFFLE_SHARDS} AS INT) AS shard,
                 md5('shuf:{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR))
                   AS sort_key
          FROM documents)
        SELECT doc_id, shard,
               CAST(row_number() OVER (PARTITION BY shard
                                       ORDER BY sort_key, doc_id) AS INT) AS pos
        FROM t
        """,
        "deterministic sharded training-order shuffle (salted-md5 permutation; "
        "per-shard row_number, never a single global sort partition)"),
    "q_train_split": Spec(
        lambda spark, sf: train_val_test_split(load_table(spark, sf, "documents")),
        f"""
        WITH t AS (
          SELECT n_chars, source,
                 CAST('0x' || substr(md5('split:{SPLIT_SEED}:'
                        || CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100
                   AS pct
          FROM documents)
        SELECT CASE WHEN pct < 80 THEN 'train'
                    WHEN pct < 90 THEN 'val' ELSE 'test' END AS split,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               COUNT(DISTINCT source) AS n_sources
        FROM t GROUP BY 1
        """,
        "hash-based 80/10/10 train/val/test split with per-split stats "
        "(assignment stable under corpus growth/repartition)"),
    "q_quality_funnel": Spec(
        lambda spark, sf: quality_funnel(load_table(spark, sf, "documents")),
        f"""
        WITH t AS (
          SELECT source, lang,
                 (n_chars BETWEEN {FUNNEL_LEN_LO} AND {FUNNEL_LEN_HI}) AS s1,
                 CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS ttr
          FROM documents),
        s AS (
          SELECT source, s1,
                 (s1 AND ttr >= {FUNNEL_TTR}) AS s2,
                 (s1 AND ttr >= {FUNNEL_TTR}
                     AND lang IN {sql_in_list(FUNNEL_LANGS)}) AS s3
          FROM t)
        SELECT source, COUNT(*) AS n_total,
               CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
               CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_diversity,
               CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_lang
        FROM s GROUP BY source
        """,
        "staged quality-filter funnel as ONE conditional-agg pass "
        "(length → lexical diversity → language), per source"),
    "q_stateful_counts": Spec(
        stateful_counts_query,
        """
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM events GROUP BY user_id
        """,
        "custom stateful streaming counter (applyInPandasWithState, O(1) "
        "state/key); accumulate-only ⇒ final state equals batch GROUP BY"),
    # q_transform_state (streaming.transform_state, state API v2) is
    # deliberately NOT registered: the transformWithStateInPandas
    # driver worker needs the protobuf package, absent from this
    # container (no installs allowed).  The module + its gated test
    # (tests/test_streaming.py::test_transform_state_counts) activate
    # wherever protobuf exists; applyInPandasWithState
    # (q_stateful_counts) covers custom stateful streaming in the
    # contract meanwhile.
    "q_triangles": Spec(
        lambda spark, sf: triangle_counts(load_table(spark, sf, "documents")),
        f"""
        WITH {_LSH_PAIRS_SQL},
        tris AS (
          SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
          FROM pairs e1
          JOIN pairs e2 ON e1.doc_a = e2.doc_a AND e1.doc_b < e2.doc_b
          JOIN pairs e3 ON e3.doc_a = e1.doc_b AND e3.doc_b = e2.doc_b),
        touched AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
            SELECT x AS doc_id FROM tris
            UNION ALL SELECT y FROM tris
            UNION ALL SELECT z FROM tris)
          GROUP BY doc_id),
        deg AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
            SELECT doc_a AS doc_id FROM pairs
            UNION ALL SELECT doc_b FROM pairs)
          GROUP BY doc_id)
        SELECT d.doc_id, d.degree,
               COALESCE(t.n_triangles, 0) AS n_triangles
        FROM deg d LEFT JOIN touched t USING (doc_id)
        """,
        "triangle counting over the LSH near-dup graph (compact-forward "
        "wedge join on canonical edges — each triangle exactly once; "
        "completes CC + PageRank with local cohesion)"),
    "q_expectations": Spec(
        lambda spark, sf: expectations_report(load_table(spark, sf, "orders"),
                                              load_table(spark, sf, "lineitem")),
        """
        SELECT
          (SELECT CAST(COUNT(*) FILTER (o_custkey IS NULL) AS BIGINT)
           FROM orders) AS o_null_custkey,
          (SELECT CAST(COUNT(*) FILTER (o_totalprice IS NULL) AS BIGINT)
           FROM orders) AS o_null_price,
          (SELECT CAST(COUNT(*) FILTER (o_totalprice <= 0) AS BIGINT)
           FROM orders) AS o_nonpos_price,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM
             (SELECT o_orderkey FROM orders GROUP BY o_orderkey
              HAVING COUNT(*) > 1)) AS o_dup_pk,
          (SELECT CAST(COUNT(*) FILTER (l_quantity IS NULL) AS BIGINT)
           FROM lineitem) AS l_null_qty,
          (SELECT CAST(COUNT(*) FILTER (l_discount < 0) AS BIGINT)
                + CAST(COUNT(*) FILTER (l_discount > 1) AS BIGINT)
           FROM lineitem) AS l_bad_discount,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
           WHERE NOT EXISTS (SELECT 1 FROM orders o
                             WHERE o.o_orderkey = l.l_orderkey)) AS l_orphans
        """,
        "data-quality expectations gate (null/PK-dup/referential/range "
        "violation counts; single scan per table + one anti join)"),
    "q_manifest_roundtrip": Spec(
        manifest_roundtrip_query,
        """
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct_ids
        FROM documents GROUP BY source
        """,
        "storage-layer gate: two atomic manifest appends + head read "
        "must round-trip documents losslessly (sinks/manifest.py under "
        "the driver oracle, not just pytest)"),
    "q_skew_report": Spec(
        lambda spark, sf: skew_report(load_table(spark, sf, "orders")),
        """
        WITH c AS (
          SELECT o_custkey AS key, COUNT(*) AS cnt
          FROM orders GROUP BY o_custkey),
        t AS (SELECT key AS top1_key, cnt AS top1_cnt FROM c
              ORDER BY cnt DESC, key LIMIT 1)
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt,
               ROUND(quantile_cont(cnt, 0.5), 4) AS p50_cnt,
               ROUND(quantile_cont(cnt, 0.9), 4) AS p90_cnt,
               ROUND(quantile_cont(cnt, 0.99), 4) AS p99_cnt,
               ROUND(CAST(SUM(cnt) AS DOUBLE) / COUNT(*), 4) AS avg_cnt,
               (SELECT top1_key FROM t) AS top1_key,
               ROUND(CAST((SELECT top1_cnt FROM t) AS DOUBLE) / SUM(cnt), 6)
                 AS top1_share
        FROM c
        """,
        "key-skew diagnostics (per-key count distribution + heaviest-key "
        "share) — the pre-salting probe; remedies are q_salted_agg/join"),
    "q_heavy_hitters": Spec(
        lambda spark, sf: heavy_hitters(load_table(spark, sf, "documents")),
        f"""
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM toks)
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT n_total FROM tot), 6)
                 AS share
        FROM toks GROUP BY token
        HAVING COUNT(*) > (SELECT n_total FROM tot) / {MG_CAPACITY + 1}.0
        ORDER BY n DESC, token
        """,
        "heavy hitters: per-partition Misra–Gries summaries + exact "
        "candidate verify — bounded-memory, partitioning-independent "
        "EXACT result above the N/(k+1) threshold"),
    "q_communities_lpa": Spec(
        lambda spark, sf: communities_lpa(load_table(spark, sf,
                                                     "documents")),
        _lpa_oracle_sql(),
        "synchronous label-propagation communities over the LSH "
        "near-dup graph (mode-of-neighbors, min tie-break, fixed "
        "rounds) — splits weakly-bridged CC blobs into dense families"),
    "q_cms_counts": Spec(
        lambda spark, sf: cms_token_counts(load_table(spark, sf, "documents")),
        _cms_oracle_sql(),
        "Count-Min sketch point-frequency estimates at the heaviest "
        "tokens — salted-md5 hashes make the d×w integer matrix and "
        "min-over-rows estimates oracle-exact; ≤ d·w rows shuffle"),
}
