"""Streaming index maintenance, ANN and lexical: encode arriving
vectors with the FROZEN trained quantizers and append their index
rows exactly-once — the continuous-ingest twin of
``operators/similarity.build_ann_index_appended`` (the batch FAISS
``add()``) — and fold arriving documents into the PRUNED lexical
serving index under the batch merge's own top-m order
(`pruned_index_writer`), all composed with the manifest storage
layer.

Per micro-batch: one nearest-centroid assignment (cell) + one
nearest-code assignment per subspace (codes) against the frozen
quantizers, which ride the kernels' closures — zero Lloyd iterations, zero shuffles beyond the
assignment aggregates — then ONE ``append_batch`` publish of the
combined (vec_id, cell, code0..code{m-1}) rows.  Exactly-once
composes from the sink contract exactly as in
``streaming/maintenance.py``: a replayed micro-batch (crash between
manifest publish and streaming-checkpoint commit) no-ops at the
manifest layer, so no vector is ever double-indexed (drill with a
real killed-and-restarted StreamingQuery in tests/test_streaming.py).

At 100 TB/day this is the serving-index ingestion shape: encoding
cost scales with |batch|, the quantizers stay immutable between
(rare, drift-triggered) rebuilds, and the encodings table is an
ordinary manifest table — readable, time-travelable, joinable against
the catalog-committed centroids/codebook at serve time.  The combined
single-table layout (cells+codes in one row) keeps the per-batch
commit to ONE atomic publish; the batch append path uses the
catalog's multi-table pass instead because it appends to the
separately-stored cells/codes artifacts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import _assign_cells, _codes_np
from ..sinks.manifest import ManifestTable


def encode_vectors(vecs: DataFrame, cent: DataFrame,
                   book: DataFrame) -> DataFrame:
    """(vec_id, embedding) → (vec_id, cell, code0..code{m-1}) using
    the FROZEN coarse centroids and residual codebook — the same
    kernels the residual-IVFPQ build uses (`_assign_cells` emitting the
    residual next to its argmin, then the wide `_codes_np` pass), so
    streamed encodings are bit-identical to a batch re-encode."""
    assigned = _assign_cells(vecs, cent, keep_residual=True)
    codes = _codes_np(
        assigned.select("vec_id", F.col("residual").alias("embedding")),
        book)
    return assigned.select("vec_id", "cell").join(codes, "vec_id")


def index_append_writer(spark: SparkSession, table: ManifestTable,
                        cent: DataFrame, book: DataFrame):
    """``new_vectors.writeStream.foreachBatch(index_append_writer(
    spark, tbl, cent, book))`` — maintain the streaming encodings
    table exactly-once.  ``cent``/``book`` should be the
    catalog-committed quantizer artifacts (broadcast-sized)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        table.append_batch(encode_vectors(batch_df, cent, book),
                           int(batch_id))

    return write


def batch_postings(docs: DataFrame) -> DataFrame:
    """Tokenize ONE micro-batch of documents into denormalized
    pruned-index rows (term, doc_id, tf, dl) — the same token / tf /
    dl semantics as the batch index builds (``term != ''``,
    whitespace tokens), so streamed rows are bit-identical to a batch
    re-tokenize of the same documents."""
    from ..operators.text import ws_tokens

    toks = (docs.select("doc_id",
                        F.explode(ws_tokens("text")).alias("term"))
            .filter(F.col("term") != ""))
    tf = (toks.groupBy("term", "doc_id")
          .agg(F.count(F.lit(1)).alias("tf")))
    dl = docs.select("doc_id", F.size(ws_tokens("text")).alias("dl"))
    return tf.join(dl, "doc_id").select("term", "doc_id", "tf", "dl")


def pruned_index_writer(spark: SparkSession, pruned_tbl: ManifestTable,
                        termdf_tbl: ManifestTable, m: int | None = None):
    """Streaming prune-on-append for the lexical serving index — the
    continuous-ingest twin of ``operators/text.
    build_pruned_text_index_appended`` (the batch ordered merge), the
    lexical sibling of `index_append_writer`.

    Per micro-batch: tokenize ONLY the batch, then ``fold_batch``
    derives top-m(head ∪ batch) per term under the shared integer
    impact order — the SAME `_prune_top_m` kernel as the batch build
    and the batch merge, so streamed maintenance ≡ batch merge ≡
    from-scratch rebuild above the cap (top-m monotonicity; pinned in
    test_streaming).  The full-corpus df deltas ride a second
    exactly-once append table the serve SUMs per term (pruning must
    not shift idf).

    Two tables ⇒ two independent high-water marks: a crash between
    the two publishes replays the micro-batch, the completed table
    no-ops at the manifest layer and the other applies — both
    converge, no posting is double-counted (the same replay contract
    every sink here drills).  Readers between the two publishes see
    the pruned rows updated one batch ahead of idf — bounded,
    self-healing staleness, the standard serving trade.

    At 100 TB/day this is continuous lexical-index ingestion: the
    fold reads ≤ m rows per affected term plus the batch, never the
    corpus; the artifact stays flat-sized regardless of history."""
    from ..operators.text import BM25_PRUNE_M, _prune_top_m

    cap = BM25_PRUNE_M if m is None else m

    def write(batch_df: DataFrame, batch_id: int) -> None:
        post = batch_postings(batch_df).localCheckpoint(eager=True)
        pruned_tbl.fold_batch(
            spark, post,
            lambda head, part: _prune_top_m(
                part if not head.columns else head.unionByName(part),
                cap),
            int(batch_id))
        termdf_tbl.append_batch(
            post.groupBy("term").agg(F.count(F.lit(1)).alias("df")),
            int(batch_id))

    return write
