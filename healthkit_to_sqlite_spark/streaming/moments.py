"""Streaming covariance maintenance: keep the corpus second-moment
artifact incrementally up to date from an embedding stream, composed
with the manifest storage layer the same way
``streaming/maintenance.py`` composes the grouped-aggregate view.

It shares both halves of ``operators/similarity.embedding_covariance``
verbatim: each micro-batch's moments come from the same decimal-exact
Arrow kernel (`_covariance_moments`), and `read_covariance` applies the
same finishing expression (`_covariance_from_moments`).

The insight that makes covariance streamable EXACTLY: the sufficient
statistics (Σx_{d1}x_{d2}, Σx_d, n) are algebraic and the repo's
decimal accumulation is associative and order-independent, so folding
per-batch moments into the stored artifact yields BIT-IDENTICAL
covariance to a one-shot batch computation over the union — pinned in
tests/test_streaming.py, including through a kill-and-resume drill.

Artifact layout (one manifest table): the moments layout, rows
``(d1, d2, s)`` where ``d2 ≥ d1 ≥ 0`` carry Σx_{d1}x_{d2}, ``(d, -1)``
rows carry Σx_d, and ``(-1, -1)`` carries the row count — all in
DECIMAL(30,10), which survives the parquet round trip exactly.  Per
micro-batch cost: one Arrow pass emitting ≤(D²/2 + D + 1) rows per
batch; the fold is a groupBy over ≤2145 rows.  At 100 TB/day this is
how model statistics (covariance for PCA/whitening/Mahalanobis) stay
fresh without ever rescanning history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (_covariance_from_moments,
                                    _covariance_moments)
from ..sinks.manifest import ManifestTable

_DEC = "decimal(30,10)"


def _fold(head: DataFrame, partial: DataFrame) -> DataFrame:
    if not head.columns:
        return partial
    return (head.unionByName(partial)
            .groupBy("d1", "d2")
            .agg(F.sum("s").cast(_DEC).alias("s")))


def moments_writer(spark: SparkSession, table: ManifestTable):
    """``vectors.writeStream.foreachBatch(moments_writer(spark, tbl))``
    — exactly-once incremental second moments (fold inside the
    commit-retry loop; replayed batches no-op at the manifest)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        table.fold_batch(spark, _covariance_moments(batch_df), _fold,
                         int(batch_id))

    return write


def read_covariance(spark: SparkSession, table: ManifestTable) -> DataFrame:
    """Derive the covariance matrix from the maintained artifact with
    the batch operator's own finishing expression, so the two agree
    bit-for-bit."""
    return _covariance_from_moments(table.read(spark))
