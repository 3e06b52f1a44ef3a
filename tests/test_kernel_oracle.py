"""Every Arrow kernel's consumer query against the DuckDB oracle.

Each kernel below has exactly one implementation; its correctness
reference is the independent SQL spelling in the query's oracle
(tests/parity.py::compare_query — row count, column names, dtype
kinds and every value, compared exactly).  One consumer query per
kernel family:

- coarse assignment + Lloyd means: q_ann_ivf; PQ training and codes:
  q_ann_ivfpq; fused residual build: q_ann_ivfpq_residual
- batched k-center sweep: q_kcenter_coreset
- covariance moments (decimal-exact Gram partials): q_embed_covariance
- sign-LSH signature + pair verify: q_dedup_embedding, q_knn_graph
- minhash: q_dedup_minhash_lsh; word shingles: q_ngram_jaccard
- suffix ranking: q_suffix_ranks; trigram build: q_rare_trigram_rate
- bigram partials: q_ngram_counts; repetition counts:
  q_repetition_signals
- simhash: q_dedup_simhash; winnowing grams: q_winnowing
- Count-Min partials: q_cms_counts; BPE encode: q_bpe_encode
- paragraphs: q_dedup_paragraph, q_dedup_paragraph_apply
- schema vote (``infer_column_types``, the pass 1 of every ingest
  table) and its type cascade: q_schema_unify, q_schema_infer
"""

from __future__ import annotations

import pytest

from healthkit_to_sqlite_spark.catalog import DEFAULT_SF_DIR as SF
from tests.parity import compare_query, duckdb_connection

KERNEL_CONSUMERS = [
    "q_ann_ivf", "q_ann_ivfpq", "q_ann_ivfpq_residual",
    "q_kcenter_coreset", "q_embed_covariance", "q_dedup_embedding",
    "q_knn_graph",
    "q_dedup_minhash_lsh", "q_suffix_ranks", "q_rare_trigram_rate",
    "q_ngram_counts", "q_repetition_signals", "q_ngram_jaccard",
    "q_dedup_simhash", "q_winnowing", "q_cms_counts",
    "q_bpe_encode", "q_dedup_paragraph", "q_dedup_paragraph_apply",
    "q_schema_infer", "q_schema_unify",
]


@pytest.fixture(scope="module")
def specs():
    from healthkit_to_sqlite_spark.registry import _all_specs
    return _all_specs()


@pytest.fixture(scope="module")
def con():
    c = duckdb_connection(SF)
    yield c
    c.close()


@pytest.mark.parametrize("name", KERNEL_CONSUMERS)
def test_kernel_consumer_matches_oracle(spark, specs, con, name):
    spec = specs[name]
    assert spec.oracle is not None, f"{name} lost its oracle"
    res = compare_query(spark, con, name, spec.build, spec.oracle, SF)
    assert res.ok, (res.detail, res.mismatches)
    assert res.spark_rows > 0, f"{name} returned no rows on the fixture"
