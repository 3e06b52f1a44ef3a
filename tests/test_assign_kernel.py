"""The Arrow-vectorized assignment kernels, pinned BIT-IDENTICAL to the
broadcast-join / expression forms they replaced in r14-r15.

Why the kernels exist: the join form evaluated ``_l2sq`` through
``zip_with``/``aggregate`` — Catalyst higher-order functions are
CodegenFallback (interpreted per element) — over n·K exploded
candidate rows, and with corpus-derived K (∝ n) that term was the one
superlinear cpu_sec in the tracked sf1 set (q_proto_prune 51× CPU for
10× data, SCALE.md round 14).  The numpy kernels do the same fold
fused; these tests pin that "same" means same bits, not same-ish:

- raw distances: float64 accumulation in dimension order reproduces
  the JVM fold's IEEE operation sequence exactly;
- the argmin contract: HALF_UP-rounded-9dp distance, ties → lowest
  cid, via exact ``Decimal(repr(d))`` rounding on the few candidates
  within 2e-9 of the unrounded minimum (rounding is monotone, so no
  other centroid can win);
- Lloyd / PQ means: per-value decimal(30,10) quantization and exact
  integer partials, so the trained centroids are order- and
  batch-boundary independent.

Every expected value below is a digest of the join/expression form's
output on the sf0.001 fixture (`tests.golden.digest`); the consumer
queries are checked against the DuckDB oracle in test_kernel_oracle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from healthkit_to_sqlite_spark.catalog import load_table
from healthkit_to_sqlite_spark.operators.similarity import (
    _assign_cells,
    kmeans_centroids,
    pq_codes,
    proto_prune,
)
from healthkit_to_sqlite_spark.plans import formatted_plan
from tests.golden import digest

SF = "/root/testdata/sf0.001"

#: (row count, digest) of the reference forms' outputs on SF
EXPECTED = {
    "assign/cent": (8, "c97605f153e5edea"),
    "assign/pq_book": (32, "cb386092ca4af744"),
    "assign/pq_codes": (500, "9ee40bc526dba384"),
    "assign/proto_prune": (371, "58d8b823602a5e43"),
    "assign/res_cells": (500, "c987ac1b85ae2c81"),
    "assign/res_vecs": (500, "4314e27fccfc71e0"),
    "assign/sub": (2000, "5a544506e2e451e5"),
    "assign/with_dist": (500, "01e2cc0fff6ab3a3"),
    "assign/without_dist": (500, "c987ac1b85ae2c81"),
}


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


@pytest.fixture(scope="module")
def cent(emb):
    return kmeans_centroids(emb).localCheckpoint(eager=True)


def test_np_kernel_bit_identical_with_dist(emb, cent):
    # cell AND the 9dp-rounded distance (the prototypicality score
    # consumers keep) must match the join form bit for bit
    rows = [(r.vec_id, r.cell, r.dist)
            for r in _assign_cells(emb, cent, keep_dist=True).collect()]
    assert digest(rows) == EXPECTED["assign/with_dist"]
    assert len(rows) == emb.count()


def test_np_kernel_bit_identical_without_dist(emb, cent):
    rows = [(r.vec_id, r.cell) for r in _assign_cells(emb, cent).collect()]
    assert digest(rows) == EXPECTED["assign/without_dist"]


def test_np_plan_has_no_join_and_no_exchange(emb, cent):
    # the kernel's reason to exist: no n·K candidate rows (no
    # BroadcastNestedLoopJoin) and no exchange at all
    plan = formatted_plan(_assign_cells(emb, cent, keep_dist=True))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_sub_assignment_np_bit_identical(spark, emb):
    # the per-(vector, subspace) PQ assignment on a fixed codebook (the
    # first 8 vectors' slices), melted to the (vec_id, j, cell) rows of
    # the broadcast-join form, and the full fused-Lloyd PQ codes
    from healthkit_to_sqlite_spark.operators.similarity import (
        PQ_M,
        _codes_np,
        _pq_subspaces,
    )

    book = (emb.filter(F.col("vec_id") < 8)
            .select("vec_id", F.explode(_pq_subspaces()).alias("s"))
            .select("s.j", F.col("vec_id").cast("int").alias("cid"),
                    F.transform("s.sub", lambda x: x.cast("double"))
                    .alias("cemb")).localCheckpoint(eager=True))
    rows = [(r.vec_id, j, r[f"code{j}"])
            for r in _codes_np(emb, book).collect() for j in range(PQ_M)]
    got = digest(rows)
    assert got == EXPECTED["assign/sub"]
    assert got[0] == emb.count() * PQ_M
    assert digest(pq_codes(emb)[0].collect()) == EXPECTED["assign/pq_codes"]


def test_residual_fusion_bit_identical(spark, emb, cent):
    # r15 (VERDICT r14 item 2): cells AND residuals from ONE Arrow
    # pass equal the two-pass join form bit for bit — the elementwise
    # float64 subtraction is the JVM zip_with's exact operation on the
    # same widened operands
    from healthkit_to_sqlite_spark.operators.similarity import (
        _cells_and_residuals,
    )

    cells, res = _cells_and_residuals(emb, cent)
    assert digest(cells.collect()) == EXPECTED["assign/res_cells"]
    rows = [(r.vec_id, r.embedding) for r in res.collect()]
    assert digest(rows) == EXPECTED["assign/res_vecs"]
    assert len(rows) == emb.count()


def test_fused_lloyd_means_bit_identical(cent):
    # r15: the fused assign+mean-partials kernel trains the SAME
    # centroids as the join + posexplode + decimal-aggregate pipeline
    rows = [(r.cid, r.cemb) for r in cent.collect()]
    assert digest(rows) == EXPECTED["assign/cent"]


def test_fused_lloyd_means_plan_shape(spark, emb, cent):
    # the kernel's reason to exist: per iteration the corpus crosses
    # ONE MapInPandas with a ≤K·D-row partial exchange — no join of
    # the n-row assignment back onto the corpus, no posexplode
    # Generate over n·D rows.  IVF trains through the PQ Lloyd kernel
    # with one subspace of width DIM (centroids tagged j = 0).
    from healthkit_to_sqlite_spark.operators.similarity import (
        DIM,
        _sub_mean_partials_np,
    )

    book = cent.select(F.lit(0).alias("j"), "cid", "cemb")
    plan = formatted_plan(_sub_mean_partials_np(emb, book, 1, DIM))
    assert "MapInPandas" in plan
    assert "Generate" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # the partial-sum aggregate only


def test_fused_pq_means_and_codes_bit_identical(spark, emb):
    # r15: fused PQ training (subspace slicing + sub-argmin + partial
    # sums in one pass, wide codes map-only) equals the staged
    # explode/join/pivot pipeline end to end — codes AND codebook
    codes, book = pq_codes(emb)
    rows = codes.collect()
    assert digest(rows) == EXPECTED["assign/pq_codes"]
    assert digest((r.j, r.cid, r.cemb) for r in book.collect()) \
        == EXPECTED["assign/pq_book"]
    assert len(rows) == emb.count()


def test_fused_codes_plan_is_map_only(spark, emb):
    # wide codes: no pivot exchange, no Generate — one Arrow pass
    from healthkit_to_sqlite_spark.operators.similarity import _codes_np

    _, book = pq_codes(emb)
    plan = formatted_plan(_codes_np(emb, book.localCheckpoint(eager=True)))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_proto_prune_identical_under_join_kernel(spark, emb):
    # an end-to-end keep_dist consumer: the kept/pruned verdict and
    # the prototypicality ordering equal the join kernel's output
    got = digest(proto_prune(emb).collect())
    assert got == EXPECTED["assign/proto_prune"]
