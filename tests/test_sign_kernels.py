"""The r14 Arrow signature kernels, pinned BIT-IDENTICAL to the
expression forms they replaced (the `test_assign_kernel` discipline
applied to the other per-row trainer primitives):

- sign-LSH (`lsh_signature`): plane dots accumulate in dimension
  order (exact IEEE sequence of the JVM fold; ±1.0 weights make each
  term an exact sign flip), strict ``dot > 0`` bit — identical
  signature strings.
- minhash (`minhash_signatures`): pure integer arithmetic (md5 →
  top-15-hex parse → mod-P permutations → min) — identical values
  with no IEEE story at all.
- repetition stats (`repetition_signals`): exact integer counts,
  ratios in Spark expressions.

Each runs at two fixture scales (Arrow batch boundaries move) against
a digest of the expression form's output; the consumer queries are
checked against the DuckDB oracle in test_kernel_oracle.
"""

from __future__ import annotations

import pytest

from healthkit_to_sqlite_spark.catalog import load_table
from healthkit_to_sqlite_spark.operators.dedup import minhash_signatures
from healthkit_to_sqlite_spark.operators.pipeline import repetition_signals
from healthkit_to_sqlite_spark.operators.similarity import lsh_signature
from healthkit_to_sqlite_spark.plans import formatted_plan
from tests.golden import digest

#: (row count, digest) of each expression form's output, per scale
EXPECTED = {
    "lsh/sf0.001/16": (500, "aac51337e7406a32"),
    "lsh/sf0.001/32": (500, "d0a0356ce5d38324"),
    "lsh/sf0.01/16": (500, "b73c17c4ba10598a"),
    "lsh/sf0.01/32": (500, "28329f6272b82c7e"),
    "minhash/sf0.001": (500, "87b275ca8acb1ad3"),
    "minhash/sf0.01": (500, "93056d2fa2ca7742"),
    "repstats/sf0.001": (500, "bf46a46c11f1340b"),
    "repstats/sf0.01": (500, "4a86ab0fc800cd79"),
}


def _scale(sf):
    return sf.rsplit("/", 1)[1]


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001",
                                "/root/testdata/sf0.01"])
@pytest.mark.parametrize("n_planes", [16, 32])
def test_lsh_signature_np_bit_identical(spark, sf, n_planes):
    emb = load_table(spark, sf, "embeddings")
    rows = lsh_signature(emb, n_planes).collect()
    assert digest(rows) == EXPECTED[f"lsh/{_scale(sf)}/{n_planes}"]
    assert len(rows) == emb.count()
    assert all(len(r[2]) == n_planes for r in rows)


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001",
                                "/root/testdata/sf0.01"])
def test_minhash_signatures_np_value_identical(spark, sf):
    docs = load_table(spark, sf, "documents")
    got = digest(minhash_signatures(docs).collect())
    assert got == EXPECTED[f"minhash/{_scale(sf)}"]
    assert got[0] == docs.count()


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001",
                                "/root/testdata/sf0.01"])
def test_repetition_signals_np_value_identical(spark, sf):
    docs = load_table(spark, sf, "documents")
    got = digest(repetition_signals(docs).collect())
    assert got == EXPECTED[f"repstats/{_scale(sf)}"]
    assert got[0] == docs.count()


def test_signature_kernels_stay_map_only(spark):
    # one Arrow pass each, zero exchange — signatures stay
    # embarrassingly parallel at any scale
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    for df in (lsh_signature(emb), minhash_signatures(docs),
               repetition_signals(docs)):
        plan = formatted_plan(df)
        assert "MapInPandas" in plan
        assert "Exchange" not in plan
