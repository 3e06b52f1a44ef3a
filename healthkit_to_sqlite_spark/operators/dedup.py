"""Deduplication operators for the training-data pipeline surface.

Five dedup families over `documents` (driver north star, SURVEY.md §2.C):

- exact:        hash-groupBy on canonical text
- MinHash+LSH:  shingle → 60-bit hash → k permuted min-hashes → banded
                bucket join → candidate pairs (hand-rolled, deterministic,
                oracle-checkable end to end)
- MinHashLSH:   the pyspark.ml variant (approxSimilarityJoin) — the
                scale path with library-grade banding (rows-only check)
- SimHash:      per-bit majority vote over token hashes → 60-bit signature
- n-gram Jaccard: exact pairwise similarity, candidate-filtered by a
                shared-shingle equi-join (the verification stage after LSH)

Scale design: every stage is equi-join/groupBy shaped — LSH banding
turns O(n²) pair search into a bucket shuffle; the exact-Jaccard stage
only touches candidate pairs.  Nothing collects to the driver.  The
shared 60-bit hash is md5-derived (top 15 hex digits) so Spark and
DuckDB agree bit-for-bit; min-hash permutations are (aᵢ·(h mod P)+bᵢ)
mod P with P=2³¹-1, keeping every product below 2⁶² (no int64
overflow on either engine).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import one_slice_df, ws_tokens
from ..spec import Spec, sql_in_list

P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
N_HASHES = 12      # minhash signature length
N_BANDS = 4        # → 3 rows per band; pair-candidate if any band matches
SHINGLE = 4        # words per shingle
MAX_SHINGLE_DF = 50  # hot-shingle document-frequency cap (ngram_jaccard)


def hash60(s: Column) -> Column:
    """Deterministic 60-bit hash shared with the DuckDB oracle:
    top 15 hex digits of md5, parsed base-16."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def exact_dedup(documents: DataFrame) -> DataFrame:
    """C1: exact dedup via hash-groupBy (reference has no analog; the
    Spark-native canonical form keeps min(doc_id) per identical text).
    dropDuplicates() would keep an *arbitrary* row — non-deterministic
    under partitioning — so we aggregate instead."""
    return (documents
            .groupBy(F.md5("text").alias("text_md5"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))


def normalized_dedup(documents: DataFrame) -> DataFrame:
    """Normalized-exact dedup: casefold, strip punctuation, collapse
    whitespace, THEN hash-groupBy — catches the trivially-reformatted
    duplicates (case, spacing, punctuation) that byte-exact dedup
    misses while staying a pure map + one groupBy (the same shape and
    scale profile as :func:`exact_dedup`).  In production corpora this
    normalized pass typically removes 2-5× more than byte-exact dedup
    at identical cost, which is why it is the standard first stage
    before any LSH machinery.  Normalization is ASCII-regex based so
    both engines agree byte-for-byte (Unicode NFC/NFKC fold is the
    production upgrade; Spark-side it is one extra UDF-free
    ``translate``/ICU step, documented rather than faked here)."""
    return (documents
            .groupBy(canonical_md5_expr().alias("canon_md5"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))


def canonical_md5_expr() -> Column:
    """md5 of the normalized text (casefold / punct-strip /
    ws-collapse) — the single home of the normalized-dedup key, shared
    by :func:`normalized_dedup` and the composed pipeline's dedup
    stage."""
    canon = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
        r"\s+", " "))
    return F.md5(canon)


def word_shingles(documents: DataFrame, k: int = SHINGLE) -> DataFrame:
    """doc_id × distinct k-word shingle (long form), one mapInPandas
    pass since r14: the ``transform``/``concat_ws`` shingle lambda it
    replaced was an interpreted higher-order function evaluated once
    per position (CodegenFallback — the cost profile the
    minhash/trigram kernels left behind), while the Arrow pass does
    the per-element string work in C.

    Tokenizes with Python ``text.split(" ")`` == Spark ``split(text,
    ' ')`` (empty tokens kept) and emits each doc's DISTINCT shingles
    in first-occurrence order — ``explode(array_distinct(transform(
    ...)))``'s rows, including the short-doc convention (a doc under k
    tokens yields its single truncated shingle) and ``slice``
    truncation at the tail; null text yields one "" shingle (the
    ``concat_ws`` convention).  Map-only: no Generate, no exchange,
    partitioning preserved.  Closure-complete (stdlib + pandas
    only)."""
    src = documents.select("doc_id", "text")
    dt = src.schema["doc_id"].dataType.simpleString()

    def sh(batches):
        import pandas as pd

        # output is ~|tokens| rows per input batch — flush in bounded
        # chunks so peak worker memory is not batch-size-amplified
        # (ADVICE r14)
        flush_rows = 200_000
        for pdf in batches:
            if not len(pdf):
                continue
            ids: list = []
            out: list[str] = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    # null toks → greatest(null,1)=1 position,
                    # concat_ws swallows the null slice → ""
                    ids.append(did)
                    out.append("")
                    continue
                toks = text.split(" ")
                npos = max(len(toks) - (k - 1), 1)
                seen = set()
                for i in range(npos):
                    s = " ".join(toks[i:i + k])
                    if s not in seen:
                        seen.add(s)
                        ids.append(did)
                        out.append(s)
                if len(ids) >= flush_rows:
                    yield pd.DataFrame({"doc_id": ids, "shingle": out})
                    ids, out = [], []
            if not ids:
                continue
            yield pd.DataFrame({"doc_id": ids, "shingle": out})

    return src.mapInPandas(sh, f"doc_id {dt}, shingle string")


def minhash_signatures(documents: DataFrame) -> DataFrame:
    """MinHash signature per doc: for each of N_HASHES permutations i,
    min over shingles of (aᵢ·(h mod P)+bᵢ) mod P.

    One mapInPandas pass tokenizes, shingles, md5s and folds the
    N_HASHES permutation minima in Python (since r14): the
    ``transform``/``array_min`` higher-order cascade it replaced was
    interpreted per element (CodegenFallback — the r14 profile: 1.67 s
    at sf0.1 for 4000 docs), and the md5-per-shingle cascade is the
    dominant cost of every minhash consumer.

    EXACT by construction, not by rounding discipline: every quantity
    is integer arithmetic — hashlib md5 == Spark md5 == DuckDB md5
    over the same UTF-8 shingle bytes, base-16 parse of the top 15
    hex digits (`hash60`), mod-P permutations, min over the shingle
    set (order-free).  Tokenization: Python ``text.split(" ")`` ==
    Spark ``split(text, ' ')`` (limit −1, trailing empties kept) ==
    DuckDB ``string_split``.

    MAP-ONLY: a doc's shingles already live in its own row, so no
    explode, no groupBy, ZERO shuffle — signature computation stays
    embarrassingly parallel at any scale (the explode → groupBy form
    before r4 matched its wall time at sf0.1, 1.67 s vs 1.67 s, but
    carried an exchange)."""
    src = documents.select("doc_id", "text")
    dt = src.schema["doc_id"].dataType.simpleString()
    schema = f"doc_id {dt}, " + ", ".join(
        f"mh{i} bigint" for i in range(N_HASHES))
    ab = [(i * 2 + 1, i * 7 + 13) for i in range(N_HASHES)]
    shingle, p_mod = SHINGLE, P

    def mh(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            cols: list[list[int]] = [[] for _ in ab]
            for text in pdf["text"]:
                toks = text.split(" ")
                npos = max(len(toks) - (shingle - 1), 1)
                hs = {int(hashlib.md5(
                    " ".join(toks[p:p + shingle]).encode()
                ).hexdigest()[:15], 16) % p_mod for p in range(npos)}
                for i, (a, b) in enumerate(ab):
                    cols[i].append(min((a * h + b) % p_mod for h in hs))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"],
                 **{f"mh{i}": c for i, c in enumerate(cols)}})

    return src.mapInPandas(mh, schema)


def minhash_lsh_pairs(documents: DataFrame,
                      max_bucket: int | None = None) -> DataFrame:
    """LSH banding: band signature = joined minhashes of the band's
    rows; docs sharing any band signature are candidate pairs.
    Equi-join on (band, signature) — the O(n²) search becomes a bucket
    shuffle.  Output: distinct candidate pairs (a < b) + #matching bands.

    Band signatures are string-concats of the wide minhash columns;
    bands melt to long form (band, sig) only for the bucket join —
    rows = docs × N_BANDS, the minimum needed.

    The explicit ``repartition`` on the join key is load-bearing: the
    map-only signature pipeline has no exchange of its own, so without
    it the self-join would recompute every signature (shingle + md5
    cascade) on BOTH sides.  Repartitioning by (band, band_sig) is
    exactly the shuffle the join needs anyway, and the two identical
    exchange subtrees dedupe into one materialized shuffle stage under
    AQE (signatures computed once; measured 3.8s → 2.3s at sf0.1).

    ``max_bucket`` (None = off, doc-level default unchanged) drops
    band buckets holding more than that many members BEFORE the
    self-join — the hot-bucket counterpart of the shingle df cap: a
    bucket of B identical-signature items (boilerplate paragraphs,
    empty strings) contributes B² join rows that exact-dup stages
    already handle more cheaply.  The count runs as a window over the
    (band, band_sig)-partitioned exchange the join needs anyway, so
    the cap adds no extra shuffle."""
    sig = _band_signatures(documents).repartition("band", "band_sig")
    if max_bucket is not None:
        from pyspark.sql import Window

        n = F.count(F.lit(1)).over(Window.partitionBy("band", "band_sig"))
        sig = (sig.withColumn("__n", n)
               .filter(F.col("__n") <= max_bucket).drop("__n"))
    a, b = sig.alias("a"), sig.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_sig") == F.col("b.band_sig"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_bands")))


PARA_WORDS = 16        # words per synthetic paragraph (≈2 reflow lines)
PARA_SHIFT = 65_536    # pid = doc_id·SHIFT + para_idx (exact to 2^52/SHIFT docs)
MAX_PARA_BUCKET = 50   # hot-band-bucket cap (same discipline as MAX_SHINGLE_DF)


def paragraphs(documents: DataFrame,
               words_per_para: int = PARA_WORDS) -> DataFrame:
    """(doc_id, para_idx, text) — consecutive ``words_per_para``-word
    groups of each document, the paragraph granularity between
    doc-level LSH and exact-substring spans (RefinedWeb/FineWeb's
    middle dedup stage).  The fixture corpus is single-line, so
    paragraph boundaries come from the same deterministic regrouping
    as :func:`text.reflow_lines` (a real corpus splits on blank
    lines instead — one-line change, same downstream kernel).
    Map-only; a doc's paragraphs stay on its partition.

    One mapInPandas pass since r14 (the struct-per-paragraph
    ``transform`` lambda it replaced was interpreted per paragraph):
    tokenize (``text.split(" ")`` == Spark ``split(text, ' ')``,
    empty tokens kept) and re-join each consecutive
    ``words_per_para``-token window — ``" ".join(toks[i:i+w])`` ==
    ``array_join(slice(ws, i·w+1, w), ' ')``.  n_para = ceil(|toks|/w)
    in exact integer arithmetic; null text → no rows.
    Closure-complete (stdlib + pandas only)."""
    src = documents.select("doc_id", "text")
    dt = src.schema["doc_id"].dataType.simpleString()
    w = words_per_para

    def para(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids: list = []
            idxs: list[int] = []
            out: list[str] = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = text.split(" ")
                n_para = (len(toks) + w - 1) // w
                for i in range(n_para):
                    ids.append(did)
                    idxs.append(i)
                    out.append(" ".join(toks[i * w:(i + 1) * w]))
            if not ids:
                continue
            yield pd.DataFrame({"doc_id": ids, "para_idx": idxs,
                                "text": out})

    return src.mapInPandas(para, f"doc_id {dt}, para_idx int, text string")


def dedup_paragraph_pairs(documents: DataFrame,
                          max_bucket: int = MAX_PARA_BUCKET) -> DataFrame:
    """Paragraph-granularity near-dedup (VERDICT r5 item 7): run the
    SAME banded-MinHash kernel (`minhash_lsh_pairs`) over the
    paragraph relation, with paragraphs keyed as
    ``pid = doc_id·PARA_SHIFT + para_idx`` so the kernel's single-key
    contract holds, then decode the pids back to (doc, para)
    references.  Same-doc pairs are kept — intra-document paragraph
    repetition is exactly what this granularity catches that
    doc-level LSH dilutes.

    The ``max_bucket`` cap applies the q_ngram_jaccard hot-key
    discipline to band buckets: at 100 TB the saturated buckets are
    boilerplate ("click here to subscribe") whose members exact-dup
    handles for free; without the cap one such bucket of B paragraphs
    is B² candidate rows on a single reducer key."""
    para = paragraphs(documents).select(
        (F.col("doc_id") * PARA_SHIFT + F.col("para_idx")).alias("doc_id"),
        "text")
    pairs = minhash_lsh_pairs(para, max_bucket=max_bucket)
    return pairs.select(
        F.floor(F.col("doc_a") / PARA_SHIFT).cast("bigint").alias("doc_a"),
        (F.col("doc_a") % PARA_SHIFT).cast("int").alias("para_a"),
        F.floor(F.col("doc_b") / PARA_SHIFT).cast("bigint").alias("doc_b"),
        (F.col("doc_b") % PARA_SHIFT).cast("int").alias("para_b"),
        "n_bands")


def dedup_paragraph_apply(documents: DataFrame,
                          max_bucket: int = MAX_PARA_BUCKET) -> DataFrame:
    """APPLY stage for paragraph near-dedup — what RefinedWeb/FineWeb
    actually do to documents: drop every paragraph that appears as
    the HIGHER-pid side of ANY candidate pair, then rebuild each
    document from its surviving paragraphs in order.

    Drop semantics are deliberately GREEDY-PAIRWISE, not
    connected-component (r6 ADVICE asked for the distinction to be
    explicit): on a chain A<B<C with pairs (A,B) and (B,C) only, both
    B and C are dropped even though C's sole near-duplicate B was
    itself dropped — stricter than `exact_dedup`'s
    keep-one-per-duplicate-group, which would keep C.  This is the
    published RefinedWeb behavior (near-dup chains are boilerplate
    far more often than content) and it is what the oracle pins; a
    group-based variant would need the CC kernel
    (`dedup_clusters`) between pairs and apply, which the
    doc-level `q_dedup_apply` path already demonstrates.  Emits per-doc (n_paras, n_kept) plus the
    md5 of the rebuilt text so the oracle verifies the RECONSTRUCTED
    CONTENT, not just counts.  Shape: the pair kernel + one anti-join
    + one groupBy(doc_id) rebuild — paragraphs rejoin their doc's
    partition, no text ever rides the banding shuffle."""
    para = paragraphs(documents)
    pairs = dedup_paragraph_pairs(documents, max_bucket)
    losers = (pairs.select(F.col("doc_b").alias("doc_id"),
                           F.col("para_b").alias("para_idx")).distinct())
    kept = para.join(losers, ["doc_id", "para_idx"], "left_anti")
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_kept"),
                    F.md5(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("para_idx",
                                         F.col("text").alias("ptext")))),
                            lambda s: s.ptext), " ")).alias("scrub_md5")))
    sizes = para.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_paras"))
    return (sizes.join(rebuilt, "doc_id", "left")
            .select("doc_id", "n_paras",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("scrub_md5", F.md5(F.lit("")))
                    .alias("scrub_md5")))


def _shingle_candidates(documents: DataFrame, max_df: int):
    """Shared candidate stage for the pairwise n-gram verifiers:
    df-capped shingles, per-doc sizes, and the a<b shared-shingle
    intersection counts.  ONE home for the hot-shingle cap and the
    no-localCheckpoint decision (the df-cap window ends `sh` at a
    shingle-partitioned exchange, so AQE shares that one shuffle
    across both self-join sides and the size aggregate — an eager
    checkpoint of `sizes` measured 1.7× slower, 3.68s vs 2.19s at
    sf0.1); jaccard/containment diverge only in their final ratio."""
    from pyspark.sql import Window

    sh_all = word_shingles(documents)
    df_w = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    sh = (sh_all.withColumn("df", df_w)
          .filter(F.col("df") <= max_df).drop("df"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("n_inter")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return inter, sa, sb


def ngram_jaccard_pairs(documents: DataFrame, threshold: float = 0.2,
                        max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """Exact n-gram Jaccard for pairs sharing ≥1 shingle (the candidate
    filter IS the shared-shingle equi-join).  |A∩B| from the join,
    |A|,|B| from per-doc counts; integer arithmetic until the final
    division so both engines agree exactly.

    Hot-shingle cap: shingles appearing in more than ``max_df``
    documents are dropped BEFORE the pair join (Jaccard is then over
    each doc's rare-shingle set, both sides of the ratio).  A shingle
    with document frequency D contributes D² join rows — one
    stop-phrase shared by 1M docs is 10¹² rows on a single key, which
    AQE can split across tasks but cannot shrink; the df cut bounds
    the worst key to max_df² rows while near-identical pairs keep
    nearly all their (discriminative) shared shingles.  The df count
    runs as a window over the shingle-partitioned shuffle the pair
    join needs anyway, so the cap adds no extra exchange."""
    inter, sa, sb = _shingle_candidates(documents, max_df)
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (inter.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b")
            .select("doc_a", "doc_b", "n_inter",
                    F.round(jac, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def containment_pairs(documents: DataFrame, threshold: float = 0.5,
                      max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """Asymmetric n-gram containment |A∩B| / min(|A|,|B|): detects
    near-SUBSET duplication (one doc embedded in a larger one) that
    symmetric Jaccard dilutes — a boilerplate page pasted into a long
    document scores ~1.0 here but near 0 on Jaccard.

    Same candidate shape as :func:`ngram_jaccard_pairs` (shared-shingle
    equi-join with the hot-shingle df cap — one shingle-partitioned
    shuffle shared by both join sides and the size aggregate under
    AQE); only the final ratio differs, so the scale analysis there
    carries over unchanged.  Integer counts until the final division →
    bit-exact across engines."""
    inter, sa, sb = _shingle_candidates(documents, max_df)
    cont = F.col("n_inter") / F.least("n_a", "n_b")
    return (inter.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b")
            .select("doc_a", "doc_b", "n_inter",
                    F.round(cont, 6).alias("containment"))
            .filter(F.col("containment") >= threshold))


def simhash(documents: DataFrame, bits: int = 60) -> DataFrame:
    """SimHash: ``bits``-bit signature, bit b set iff the majority of
    token hashes have bit b set (duplicate tokens weigh by frequency,
    like the classic Charikar construction).  Token hashes are the
    60-bit md5 prefix (`hash60`), so ``bits`` is capped at 60.

    One mapInPandas pass since r14: tokenize (``text.split(" ")`` ==
    Spark ``split(text, ' ')``, empty tokens kept — they hash like any
    other), md5-hash each DISTINCT token once (memoized across the
    batch — Zipf makes the cross-doc hit rate high), and fold the
    per-bit ±count majority vote in vectorized int64 numpy.  Every
    quantity is INTEGER arithmetic (hashlib md5 == Spark md5, top-15
    hex parse, signed counts, strict ``> 0`` majority), so the oracle
    reproduces the signatures exactly.  Map-only: the token explode
    AND the groupBy(doc_id) exchange of the expression form it
    replaced are gone (that form's explode → 60 conditional sums was
    itself 2× faster than an in-row ``aggregate()`` per bit, 0.76 s
    vs 1.52 s at sf0.1); each doc's signature leaves on its own
    partition.  Closure-complete (stdlib + numpy + pandas only)."""
    if bits > 60:
        raise ValueError(
            f"simhash(bits={bits}): token hashes are the 60-bit md5 "
            f"prefix, so at most 60 signature bits are defined")
    src = documents.select("doc_id", "text")
    dt = src.schema["doc_id"].dataType.simpleString()

    def sh(batches):
        import hashlib

        import numpy as np
        import pandas as pd
        from collections import Counter

        shifts = np.arange(bits, dtype=np.uint64)
        # memo is distinct-token-keyed: cap it so adversarial /
        # high-cardinality text cannot bloat a worker (ADVICE r14);
        # a reset only costs re-hashing, never correctness
        memo: dict[str, int] = {}
        memo_cap = 1_000_000

        def h60(tok: str) -> int:
            v = memo.get(tok)
            if v is None:
                if len(memo) >= memo_cap:
                    memo.clear()
                v = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                memo[tok] = v
            return v

        for pdf in batches:
            if not len(pdf):
                continue
            ids: list = []
            sigs: list[int] = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:   # explode(null) → no rows → no group
                    continue
                cnt = Counter(text.split(" "))
                hs = np.fromiter((h60(t) for t in cnt), dtype=np.uint64,
                                 count=len(cnt))
                ws = np.fromiter(cnt.values(), dtype=np.int64,
                                 count=len(cnt))
                bitm = ((hs[:, None] >> shifts) & 1).astype(np.int64)
                s = ((2 * bitm - 1) * ws[:, None]).sum(axis=0)
                sigs.append(int(((s > 0).astype(np.uint64)
                                 << shifts).sum()))
                ids.append(did)
            if not ids:
                continue
            yield pd.DataFrame({"doc_id": ids,
                                "simhash": pd.array(sigs, dtype="int64")})

    return src.mapInPandas(sh, f"doc_id {dt}, simhash bigint")


SIMHASH_BITS = 60
SIMHASH_BANDS = 4          # 4 × 15-bit bands
SIMHASH_MAX_HAMMING = 3    # ≤ bands−1 ⇒ banding is EXACT (pigeonhole)


def simhash_near_pairs(documents: DataFrame,
                       max_hamming: int = SIMHASH_MAX_HAMMING) -> DataFrame:
    """SimHash near-duplicate pairs: band the 60-bit signatures into
    ``SIMHASH_BANDS`` disjoint 15-bit slices, equi-join on identical
    slices, verify with XOR popcount ≤ ``max_hamming`` (Charikar 2002
    / Manku et al. 2007's web-dedup recipe — the Hamming-space
    counterpart of MinHash banding).

    EXACTNESS, not approximation, at the default radius: a pair with
    Hamming distance d ≤ bands−1 differs in at most d bands, so at
    least one band matches (pigeonhole) — every qualifying pair is
    found, pinned in test_pipeline.  Raising ``max_hamming`` past
    bands−1 degrades to the usual probabilistic recall.

    Shape: the signature aggregate is one groupBy(doc_id) (see
    `simhash`); banding is an in-row 4-entry explode; the self-join
    keys on (band, 15-bit value) — 2^15 × 4 buckets bound collision
    sets; multi-band matches collapse through the groupBy.  No
    vectors, no O(n²): the classic bucket-bounded pair search."""
    bits_per = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << bits_per) - 1
    sig = simhash(documents)
    band_entries = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftright("simhash", b * bits_per)
                 .bitwiseAND(F.lit(mask)).alias("bval"))
        for b in range(SIMHASH_BANDS)])
    banded = (sig.select("doc_id", "simhash",
                         F.explode(band_entries).alias("bs"))
              .select("doc_id", "simhash", "bs.band", "bs.bval"))
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bval") == F.col("b.bval"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.bit_count(F.col("a.simhash")
                                .bitwiseXOR(F.col("b.simhash")))
                    .cast("int").alias("hamming"))
            .groupBy("doc_a", "doc_b")
            .agg(F.min("hamming").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def _band_signatures(documents: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) long form — the reusable LSH banding
    stage shared by the self-join and incremental variants."""
    rows_per_band = N_HASHES // N_BANDS
    wide = minhash_signatures(documents)
    band_entries = []
    for b in range(N_BANDS):
        cols = [F.col(f"mh{i}").cast("string")
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        band_entries.append(F.struct(F.lit(b).alias("band"),
                                     F.concat_ws(",", *cols).alias("band_sig")))
    return (wide.select("doc_id",
                        F.explode(F.array(*band_entries)).alias("bs"))
            .select("doc_id", "bs.band", "bs.band_sig"))


def incremental_dedup(documents: DataFrame,
                      corpus_max_src: int = 10) -> DataFrame:
    """Incremental (cross-snapshot) near-dedup: flag each NEW document
    that LSH-collides with any document already in the CORPUS — the
    daily-ingest shape, where re-pairing corpus×corpus every day would
    be quadratic waste.  Here corpus = sources src0..src{max-1}, batch
    = the rest (the fixture's stand-in for "yesterday's lake" vs
    "today's crawl").

    Only batch↔corpus collisions are generated (a one-sided equi-join
    on (band, band_sig)), never corpus↔corpus: at 100 TB the corpus
    side is a *precomputed, persisted, bucketed-by-band_sig* signature
    table, so the daily job shuffles just the new batch's signatures
    against it and appends survivors' signatures back — cost scales
    with |batch|, not |lake|.  Output: one row per flagged new doc
    with its earliest colliding corpus doc and collision stats.

    A source NOT shaped ``src<N>`` is treated as BATCH (try_cast →
    NULL → coalesce false): the previous bare cast made membership
    NULL, which both ``filter(col)`` and ``filter(~col)`` drop —
    silently excluding the doc from the dedup entirely (review
    finding)."""
    src_num = F.regexp_extract("source", r"src(\d+)", 1).try_cast("int")
    sig = _band_signatures(documents)
    membership = documents.select(
        "doc_id",
        F.coalesce(src_num < corpus_max_src, F.lit(False)).alias("in_corpus"))
    sig = sig.join(membership, "doc_id")
    corpus = sig.filter(F.col("in_corpus"))
    batch = sig.filter(~F.col("in_corpus"))
    return (batch.alias("n")
            .join(corpus.alias("c"),
                  (F.col("n.band") == F.col("c.band"))
                  & (F.col("n.band_sig") == F.col("c.band_sig")))
            .groupBy(F.col("n.doc_id").alias("doc_id"))
            .agg(F.min(F.col("c.doc_id")).alias("first_corpus_dup"),
                 F.countDistinct(F.col("c.doc_id")).alias("n_corpus_dups"),
                 F.count(F.lit(1)).alias("n_collisions")))


def _corpus_dup_serve(bsig: DataFrame, corpus_sig: DataFrame) -> DataFrame:
    """Shared serve kernel of the dedup-index split — one body for
    the one-shot, appended, and erased index serves (the dedup analog
    of _bm25_serve / _filtered_cosine_serve), so a semantics change to
    the collision aggregation lands once."""
    return (bsig.alias("n")
            .join(corpus_sig.alias("c"),
                  (F.col("n.band") == F.col("c.band"))
                  & (F.col("n.band_sig") == F.col("c.band_sig")))
            .groupBy(F.col("n.doc_id").alias("doc_id"))
            .agg(F.min(F.col("c.doc_id")).alias("first_corpus_dup"),
                 F.countDistinct(F.col("c.doc_id")).alias("n_corpus_dups"),
                 F.count(F.lit(1)).alias("n_collisions")))


def build_signature_index(spark: "SparkSession", sf_dir: str,
                          corpus_max_src: int = 10):
    """Materialize what `incremental_dedup`'s docstring promises the
    production shape is: the CORPUS side's band-signature table as a
    COMMITTED manifest artifact (same train-once economics as the ANN
    and BM25 index builds).  The daily job then computes signatures
    only for the new batch and joins them against this table — cost
    ∝ |batch|, corpus never re-signed.  Version-guarded and cached
    per (op, corpus_max_src, sf_dir) — the split parameter is part of
    the cache key, else a second call with a different corpus boundary
    would silently serve the first call's index (r6 ADVICE)."""
    import os

    from ..sinks.manifest import ManifestCatalog
    from .pipeline import _work_dir

    cat = ManifestCatalog(os.path.join(
        _work_dir(f"sig_index_{corpus_max_src}", sf_dir), "cat"))
    if cat.current_version() < 1:
        docs = load_table(spark, sf_dir, "documents")
        src_num = F.regexp_extract("source", r"src(\d+)", 1).try_cast("int")
        corpus = docs.filter(
            F.coalesce(src_num < corpus_max_src, F.lit(False)))
        cat.publish_pass({"signatures": _band_signatures(corpus)})
    return cat


SIG_APPEND_FIRST = 5  # day-1 corpus = src0..4; day-2 append = src5..9


def build_signature_index_appended(spark: "SparkSession", sf_dir: str,
                                   first_max_src: int = SIG_APPEND_FIRST,
                                   corpus_max_src: int = 10):
    """Incremental maintenance for the dedup signature index (VERDICT
    r6 item 2 — the dedup side of the serving symmetry): version 1
    signs the day-1 corpus (``src < first_max_src``); version 2 signs
    ONLY the day-2 arrivals (``first_max_src <= src < corpus_max_src``)
    and appends their band-signature rows in one atomic pass.  Day-1
    text is never re-read by the append (its only corpus scan carries
    the day-2 source filter) and version 1 stays time-travelable as
    the pre-append index.

    MinHash signatures are embarrassingly append-friendly — a doc's
    signature depends on nothing but its own shingles (the hash
    family is fixed by construction, the dedup analog of a frozen
    quantizer), so incremental growth is pure row append with no
    global statistic to reconcile.  This is the production loop the
    in-query `incremental_dedup` docstring promises: each day signs
    |batch| docs, joins against the committed table, and appends the
    survivors' signatures back.  Version-guarded and cached per
    (op, split params, sf_dir)."""
    import os

    from ..sinks.manifest import ManifestCatalog
    from .pipeline import _work_dir

    cat = ManifestCatalog(os.path.join(
        _work_dir(f"sig_index_append_{first_max_src}_{corpus_max_src}",
                  sf_dir), "cat"))
    docs = load_table(spark, sf_dir, "documents")
    src_num = F.regexp_extract("source", r"src(\d+)", 1).try_cast("int")
    if cat.current_version() < 1:
        day1 = docs.filter(F.coalesce(src_num < first_max_src,
                                      F.lit(False)))
        cat.publish_pass({"signatures": _band_signatures(day1)})
    if cat.current_version() < 2:
        day2 = docs.filter(
            F.coalesce((src_num >= first_max_src)
                       & (src_num < corpus_max_src), F.lit(False)))
        cat.publish_pass({"signatures": _band_signatures(day2)})
    return cat


def incremental_dedup_from_appended_index(spark: "SparkSession",
                                          sf_dir: str,
                                          corpus_max_src: int = 10
                                          ) -> DataFrame:
    """Serve incremental dedup from the APPENDED signature head: the
    batch signs itself and joins the two-pass-grown corpus signature
    table.  Shares q_dedup_incremental's oracle verbatim (which signs
    the full src<10 corpus in one shot), so a hash match proves
    day-by-day signature appends equal one-shot corpus signing."""
    cat = build_signature_index_appended(
        spark, sf_dir, corpus_max_src=corpus_max_src)
    corpus_sig = cat.read(spark, "signatures")
    docs = load_table(spark, sf_dir, "documents")
    src_num = F.regexp_extract("source", r"src(\d+)", 1).try_cast("int")
    batch = docs.filter(
        ~F.coalesce(src_num < corpus_max_src, F.lit(False)))
    bsig = _band_signatures(batch)
    return _corpus_dup_serve(bsig, corpus_sig)


def incremental_dedup_from_index(spark: "SparkSession", sf_dir: str,
                                 corpus_max_src: int = 10) -> DataFrame:
    """Serve-only incremental dedup: sign ONLY the new batch and join
    against the COMMITTED corpus signature table — identical output
    contract (and oracle) to `q_dedup_incremental`, so a hash match
    proves the persisted-signature path equals re-signing the corpus
    in-query.  The plan never reads corpus rows' text (pinned in
    test_plans): batch signatures are the only text-derived work."""
    cat = build_signature_index(spark, sf_dir, corpus_max_src)
    corpus_sig = cat.read(spark, "signatures")
    docs = load_table(spark, sf_dir, "documents")
    src_num = F.regexp_extract("source", r"src(\d+)", 1).try_cast("int")
    batch = docs.filter(
        ~F.coalesce(src_num < corpus_max_src, F.lit(False)))
    bsig = _band_signatures(batch)
    return _corpus_dup_serve(bsig, corpus_sig)


def forget_from_signature_index(spark: "SparkSession", sf_dir: str,
                                doc_ids: tuple[int, ...] | None = None,
                                corpus_max_src: int = 10):
    """Right-to-be-forgotten for the dedup signature index — the
    third serving artifact joins the erasure loop (lexical rewrite:
    `text.forget_from_text_index`; ANN deletion vectors:
    `similarity.forget_from_ann_index`), sharing the SAME tombstone
    list so one erasure request propagates to every committed
    artifact.  Signatures are per-doc with no global statistic (the
    append path's frozen-hash-family argument, reversed), so erasure
    is a pure copy-on-write REPLACE: committed signatures anti-joined
    against the broadcast tombstones, no deltas needed.  Version 1
    (the un-erased index) stays time-travelable until retention
    expires it."""
    import os

    from ..sinks.manifest import ManifestCatalog
    from .pipeline import _work_dir
    from .text import FORGET_DOC_IDS

    ids = FORGET_DOC_IDS if doc_ids is None else doc_ids
    base = build_signature_index(spark, sf_dir, corpus_max_src)
    # tombstone VALUES in the cache key (r6-ADVICE rule), not the count
    ids_key = "-".join(map(str, ids))
    cat = ManifestCatalog(os.path.join(
        _work_dir(f"sig_index_forget_{ids_key}_{corpus_max_src}",
                  sf_dir), "cat"))
    if cat.current_version() < 1:
        cat.clone_pass(base)
    if cat.current_version() < 2:
        tomb = F.broadcast(one_slice_df(spark,
            [(int(i),) for i in ids], "doc_id bigint"))
        cat.publish_pass(
            {"signatures": cat.read(spark, "signatures", version=1)
                              .join(tomb, "doc_id", "left_anti")},
            replace={"signatures"})
    return cat


def incremental_dedup_after_forget(spark: "SparkSession", sf_dir: str,
                                   corpus_max_src: int = 10) -> DataFrame:
    """Serve incremental dedup from the ERASED signature head: the
    batch (tombstones dropped there too — an erased document is
    erased everywhere, arrival queues included) signs itself and
    joins the erased corpus signatures.  The oracle is the one-shot
    incremental-dedup SQL with the tombstones filtered from BOTH
    sides, so the hash gate proves index erasure equals re-signing
    the erased corpus — a forgotten near-dup source stops flagging
    its batch twins, exactly as a rebuild would."""
    from .text import FORGET_DOC_IDS

    cat = forget_from_signature_index(
        spark, sf_dir, corpus_max_src=corpus_max_src)
    corpus_sig = cat.read(spark, "signatures")
    docs = load_table(spark, sf_dir, "documents")
    src_num = F.regexp_extract("source", r"src(\d+)", 1).try_cast("int")
    batch = (docs.filter(
        ~F.coalesce(src_num < corpus_max_src, F.lit(False)))
        .filter(~F.col("doc_id").isin(*FORGET_DOC_IDS)))
    bsig = _band_signatures(batch)
    return _corpus_dup_serve(bsig, corpus_sig)


def dedup_audit(documents: DataFrame) -> DataFrame:
    """Per-source dedup-yield audit — the dashboard a curation team
    watches across snapshots: how many documents each dedup stage
    (byte-exact, normalized-exact, LSH near-dup candidacy) would
    remove, per source.

    Composes the three registered stages WITHOUT new machinery: exact
    and normalized yields are distinct-counts of the respective hash
    (removed = n_docs − n_distinct), near-dup exposure counts docs
    appearing in ≥1 LSH candidate pair.  Everything aggregates
    per-source in one pass over each stage's output; the LSH pair
    list is the same banding join the dedup pipeline already runs, so
    at scale this audit rides the artifacts the pipeline materializes
    anyway rather than recomputing them."""
    canon = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
        r"\s+", " "))
    base = (documents
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct(F.md5("text")).alias("n_exact_distinct"),
                 F.countDistinct(F.md5(canon)).alias("n_norm_distinct")))
    pairs = minhash_lsh_pairs(documents)
    exposed = (pairs.select(F.col("doc_a").alias("doc_id"))
               .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
               .distinct()
               .join(documents.select("doc_id", "source"), "doc_id")
               .groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_neardup_exposed")))
    return (base.join(exposed, "source", "left")
            .select("source", "n_docs",
                    (F.col("n_docs") - F.col("n_exact_distinct"))
                    .alias("n_exact_dups"),
                    (F.col("n_docs") - F.col("n_norm_distinct"))
                    .alias("n_norm_dups"),
                    F.coalesce("n_neardup_exposed", F.lit(0))
                    .alias("n_neardup_exposed")))


def ml_minhash_lsh_pairs(documents: DataFrame, threshold: float = 0.6) -> DataFrame:
    """C2 via pyspark.ml: HashingTF over shingles → MinHashLSH →
    approxSimilarityJoin.  The library path scales via the same banding
    idea with OR-amplification; kept alongside the hand-rolled variant
    because ml feature hashing isn't reproducible in DuckDB (rows-only
    correctness check)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = (word_shingles(documents)
          .groupBy("doc_id").agg(F.collect_list("shingle").alias("shingles")))
    tf = HashingTF(inputCol="shingles", outputCol="features",
                   numFeatures=1 << 18)
    feats = tf.transform(sh).filter(F.expr("size(shingles) > 0"))
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=5,
                    seed=42)
    model = mh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 1.0 - threshold,
                                       distCol="jaccard_dist")
    return (pairs
            .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
            .select(F.col("datasetA.doc_id").alias("doc_a"),
                    F.col("datasetB.doc_id").alias("doc_b"),
                    F.round(1.0 - F.col("jaccard_dist"), 6).alias("jaccard_approx")))


SPAN_K = 8  # tokens per exact-substring span


def duplicated_spans(documents: DataFrame, k: int = SPAN_K,
                     top: int = 50) -> DataFrame:
    """Exact duplicated-substring detection: k-token spans occurring in
    ≥2 distinct documents (the exact-substring dedup of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — their
    suffix-array pass re-expressed as a rolling-window groupBy).

    Every token starts one span (map-only in-row transform + explode ⇒
    ~|tokens| rows), then ONE groupBy(span) with partial aggregation —
    the shuffle carries only distinct spans.  At 100 TB you'd group on
    a 64-bit rolling hash of the span rather than the string (same
    plan, ~10× fewer shuffle bytes) and df-cap boilerplate spans
    exactly like `_shingle_candidates` caps hot shingles; the string
    form is kept here so the contract output is human-auditable."""
    tt = F.col("text_toks")
    spans = F.transform(
        F.sequence(F.lit(0), F.size(tt) - k),
        lambda i: F.array_join(F.slice(tt, i + 1, k), " "))
    return (documents
            .filter(F.size(ws_tokens("text")) >= k)
            .select("doc_id", ws_tokens("text").alias("text_toks"))
            .select("doc_id", F.explode(spans).alias("span"))
            .groupBy("span")
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_occ"))
            .filter(F.col("n_docs") >= 2)
            .orderBy(F.col("n_occ").desc(), F.col("n_docs").desc(), "span")
            .limit(top))


def span_scrub(documents: DataFrame, k: int = SPAN_K) -> DataFrame:
    """APPLY stage of exact-substring dedup: remove aligned k-token
    segments whose text occurs in ≥2 distinct documents (the
    CCNet/RefinedWeb-style duplicated-passage scrub — `q_exact_substring`
    *finds* duplicated spans; this rewrites the corpus without them)
    and report the per-document token budget before/after.

    Aligned (non-overlapping) segmentation keeps the explode at
    |tokens|/k rows instead of |tokens| for the rolling form — at
    100 TB that is the difference between 8× and 1× the corpus through
    the shuffle.  Trailing partial segments (< k tokens) never match
    and are always kept.  Plan: map-only segmenting explode → one
    window over segment (the ≥2-distinct-docs test is min(doc_id) !=
    max(doc_id), O(1) state — no countDistinct groupBy + join back)
    → one groupBy(doc_id).  Two shuffles, one corpus scan.
    """
    from pyspark.sql import Window

    tt = F.col("__toks")
    n_full = F.floor(F.size(tt) / k).cast("int")
    # posexplode_OUTER keeps zero-segment docs (< k tokens) alive, so
    # ONE text scan feeds both the dup test and the per-doc totals.
    # Spark sequence(1, 0) counts DOWN ([1, 0]) instead of returning
    # empty, which would fabricate phantom segments for docs shorter
    # than k tokens (same footgun guarded in text.bpe_merge_pairs) —
    # gate the segment array on n_full >= 1; posexplode_OUTER keeps
    # the zero-segment doc alive via a null seg row.
    seg_arr = F.when(
        n_full >= 1,
        F.transform(F.sequence(F.lit(1), n_full),
                    lambda g: F.array_join(
                        F.slice(tt, (g - 1) * k + 1, k), " "))
    ).otherwise(F.array().cast("array<string>"))
    segs = (documents
            .select("doc_id", ws_tokens("text").alias("__toks"))
            .select("doc_id", F.size(tt).alias("n_tokens"),
                    F.posexplode_outer(seg_arr).alias("seg_idx", "seg")))
    # "occurs in >=2 distinct docs" as a min!=max window over seg —
    # O(1) state per segment (no collect_set, no countDistinct
    # groupBy + join back whose pruning-divergent subtrees would scan
    # the corpus twice).  One seg exchange, one doc_id exchange, one
    # text scan total.
    w = Window.partitionBy("seg")
    dup = (F.col("seg").isNotNull()
           & (F.min("doc_id").over(w) != F.max("doc_id").over(w)))
    n_dup = F.sum(F.when(F.col("__dup"), 1).otherwise(0))
    return (segs.withColumn("__dup", dup)
            .groupBy("doc_id")
            .agg(F.first("n_tokens").alias("n_tokens"),
                 n_dup.cast("int").alias("n_scrubbed_segments"),
                 (F.first("n_tokens") - k * n_dup).cast("bigint")
                 .alias("n_tokens_kept")))


# --- oracle SQL -----------------------------------------------------------

def _shingles_sql(k: int = SHINGLE, source: str = "documents") -> str:
    """doc_id × distinct k-word shingle, mirroring word_shingles().
    NOTE range(1, n+1) ≡ Spark sequence(1, n); duckdb l[i:j] is
    inclusive so [i:i+k-1] = k words."""
    return f"""
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, greatest(len(string_split(text,' ')) - {k - 2}, 2)),
                          i -> array_to_string((string_split(text,' '))[i:i+{k - 1}], ' '))
         )) AS shingle
  FROM {source}
"""


_SHINGLES_SQL = _shingles_sql()

_H60_SQL = "CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)"

#: normalized-text md5 (mirrors canonical_md5_expr) — shared by the
#: q_dedup_normalized oracle and the composed-pipeline oracle.
CANON_MD5_SQL = (r"md5(trim(regexp_replace(regexp_replace(lower(text),"
                 r" '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')))")

def _minhash_sql(source: str = "documents") -> str:
    """MinHash signature CTE body, parameterized on the shingle source
    relation so the same chain runs at document and paragraph
    granularity."""
    return f"""
  SELECT doc_id, i,
         MIN(((i*2+1) * ({_H60_SQL} % {P}) + i*7 + 13) % {P}) AS mh
  FROM ({_shingles_sql(source=source)}), (SELECT unnest(range({N_HASHES})) AS i)
  GROUP BY doc_id, i
"""


_MINHASH_SQL = _minhash_sql()

#: Paragraph-granularity candidate-pair CTE chain (para0 → para →
#: mh → bands → capped → pairs) shared by the q_dedup_paragraph and
#: q_dedup_paragraph_apply oracles so both stay in lockstep with
#: `dedup_paragraph_pairs`.  Build lazily at import end (needs
#: PARA_* constants defined below the kernels).
def _para_pairs_ctes() -> str:
    return f"""para0 AS (
          SELECT w.doc_id, CAST(t.i AS INT) AS para_idx,
                 array_to_string(
                   ws[(CAST(t.i AS INT) * {PARA_WORDS} + 1):
                      (CAST(t.i AS INT) * {PARA_WORDS} + {PARA_WORDS})],
                   ' ') AS text
          FROM (SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents) w,
               UNNEST(generate_series(
                 0, (len(ws) + {PARA_WORDS - 1}) // {PARA_WORDS} - 1))
                 AS t(i)),
        para AS (
          SELECT doc_id * {PARA_SHIFT} + CAST(para_idx AS BIGINT)
                   AS doc_id, text
          FROM para0),
        mh AS ({_minhash_sql(source="para")}),
        bands AS (
          SELECT doc_id, CAST(i // {N_HASHES // N_BANDS} AS INT) AS band,
                 STRING_AGG(CAST(mh AS VARCHAR), ',' ORDER BY i) AS band_sig
          FROM mh GROUP BY 1, 2),
        capped AS (
          SELECT doc_id, band, band_sig FROM (
            SELECT *, COUNT(*) OVER (PARTITION BY band, band_sig) AS n
            FROM bands) WHERE n <= {MAX_PARA_BUCKET}),
        pairs AS (
          SELECT a.doc_id AS pa, b.doc_id AS pb, COUNT(*) AS n_bands
          FROM capped a JOIN capped b
            ON a.band = b.band AND a.band_sig = b.band_sig
           AND a.doc_id < b.doc_id
          GROUP BY 1, 2)"""

#: SimHash signature CTE chain (tok → bits → sig) shared by the
#: signature query and the Hamming near-pair query, so both oracles
#: stay in lockstep with `simhash`.
_SIMHASH_SIG_SQL = f"""tok AS (
          SELECT doc_id, CAST('0x' || substr(md5(t.tok), 1, 15) AS BIGINT) AS h
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents) t
        ), bits AS (
          SELECT doc_id, b.b,
                 SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM tok, (SELECT unnest(range({SIMHASH_BITS})) AS b) b
          GROUP BY doc_id, b.b
        ), sig AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                          ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id)"""

def _incremental_dedup_oracle_sql(
        tombstones: tuple[int, ...] | None = None) -> str:
    """One-shot batch-vs-corpus LSH dedup in DuckDB — shared by
    `q_dedup_incremental`, both serve-split queries, and (with
    ``tombstones``, filtered from BOTH sides) the erasure twin
    `q_dedup_forget`."""
    tomb = (f"\n          AND n.doc_id NOT IN {sql_in_list(tombstones)}"
            f"\n          AND c.doc_id NOT IN {sql_in_list(tombstones)}"
            if tombstones else "")
    return f"""
        WITH mh AS ({_MINHASH_SQL}),
        bands AS (
          SELECT doc_id, CAST(i // {N_HASHES // N_BANDS} AS INT) AS band,
                 STRING_AGG(CAST(mh AS VARCHAR), ',' ORDER BY i) AS band_sig
          FROM mh GROUP BY 1, 2
        ),
        tagged AS (
          SELECT b.doc_id, b.band, b.band_sig,
                 COALESCE(TRY_CAST(regexp_extract(d.source, 'src(\\d+)', 1)
                                   AS INT) < 10, FALSE)
                   AS in_corpus
          FROM bands b JOIN documents d USING (doc_id)
        )
        SELECT n.doc_id,
               MIN(c.doc_id) AS first_corpus_dup,
               CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_corpus_dups,
               CAST(COUNT(*) AS BIGINT) AS n_collisions
        FROM tagged n JOIN tagged c
          ON n.band = c.band AND n.band_sig = c.band_sig
        WHERE NOT n.in_corpus AND c.in_corpus{tomb}
        GROUP BY n.doc_id
        """


SPECS: dict[str, Spec] = {
    "q_dedup_exact": Spec(
        lambda spark, sf: exact_dedup(load_table(spark, sf, "documents")),
        """
        SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text)
        """,
        "C1 exact dedup (hash-groupBy, deterministic keeper)"),
    "q_dedup_normalized": Spec(
        lambda spark, sf: normalized_dedup(load_table(spark, sf, "documents")),
        f"""
        SELECT {CANON_MD5_SQL} AS canon_md5,
               MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM documents
        GROUP BY 1
        """,
        "normalized-exact dedup (casefold/punct-strip/ws-collapse before "
        "hash — the standard first pass ahead of LSH; same cost as C1)"),
    "q_dedup_minhash_lsh": Spec(
        lambda spark, sf: minhash_lsh_pairs(load_table(spark, sf, "documents")),
        f"""
        WITH mh AS ({_MINHASH_SQL}),
        bands AS (
          SELECT doc_id, CAST(i // {N_HASHES // N_BANDS} AS INT) AS band,
                 STRING_AGG(CAST(mh AS VARCHAR), ',' ORDER BY i) AS band_sig
          FROM mh GROUP BY 1, 2
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        """,
        "C2 MinHash+LSH banding candidate pairs (deterministic, oracle-checked)"),
    "q_dedup_paragraph": Spec(
        lambda spark, sf: dedup_paragraph_pairs(load_table(spark, sf,
                                                           "documents")),
        f"""
        WITH {{ctes}}
        SELECT CAST(pa // {PARA_SHIFT} AS BIGINT) AS doc_a,
               CAST(pa % {PARA_SHIFT} AS INT) AS para_a,
               CAST(pb // {PARA_SHIFT} AS BIGINT) AS doc_b,
               CAST(pb % {PARA_SHIFT} AS INT) AS para_b,
               n_bands
        FROM pairs
        """.format(ctes=_para_pairs_ctes()),
        "paragraph-granularity near-dedup (RefinedWeb/FineWeb middle "
        "stage): same banded-MinHash kernel over 16-word paragraph "
        "units keyed doc_id*2^16+idx, hot-band-bucket cap (=the "
        "q_ngram_jaccard df discipline), doc back-references decoded; "
        "same-doc pairs kept (intra-doc repetition)"),
    "q_dedup_paragraph_apply": Spec(
        lambda spark, sf: dedup_paragraph_apply(load_table(spark, sf,
                                                           "documents")),
        f"""
        WITH {{ctes}},
        losers AS (
          SELECT DISTINCT CAST(pb // {PARA_SHIFT} AS BIGINT) AS doc_id,
                          CAST(pb % {PARA_SHIFT} AS INT) AS para_idx
          FROM pairs),
        kept AS (
          SELECT p.* FROM para0 p
          LEFT JOIN losers l
            ON p.doc_id = l.doc_id AND p.para_idx = l.para_idx
          WHERE l.doc_id IS NULL),
        rebuilt AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                 md5(STRING_AGG(text, ' ' ORDER BY para_idx))
                   AS scrub_md5
          FROM kept GROUP BY doc_id),
        sizes AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras
          FROM para0 GROUP BY doc_id)
        SELECT s.doc_id, s.n_paras,
               CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
               COALESCE(r.scrub_md5, md5('')) AS scrub_md5
        FROM sizes s LEFT JOIN rebuilt r USING (doc_id)
        """.format(ctes=_para_pairs_ctes()),
        "paragraph-dedup APPLY (the RefinedWeb document scrub): drop "
        "every higher-pid paragraph of a candidate pair, rebuild each "
        "doc from survivors in order — md5 of the reconstructed text "
        "makes the oracle verify CONTENT, not just counts; pair "
        "kernel + anti-join + one per-doc rebuild groupBy"),
    "q_ngram_jaccard": Spec(
        lambda spark, sf: ngram_jaccard_pairs(load_table(spark, sf, "documents")),
        f"""
        WITH sh0 AS ({_SHINGLES_SQL}),
        sh AS (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle,
                   COUNT(*) OVER (PARTITION BY shingle) AS df
            FROM sh0)
          WHERE df <= {MAX_SHINGLE_DF}),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_inter,
               ROUND(n_inter / (sa.n_a + sb.n_b - n_inter), 6) AS jaccard
        FROM inter
        JOIN (SELECT doc_id AS doc_a, n_sh AS n_a FROM sizes) sa USING (doc_a)
        JOIN (SELECT doc_id AS doc_b, n_sh AS n_b FROM sizes) sb USING (doc_b)
        WHERE ROUND(n_inter / (sa.n_a + sb.n_b - n_inter), 6) >= 0.2
        """,
        "n-gram Jaccard near-dup verification stage (exact, candidate-filtered)"),
    "q_containment": Spec(
        lambda spark, sf: containment_pairs(load_table(spark, sf, "documents")),
        f"""
        WITH sh0 AS ({_SHINGLES_SQL}),
        sh AS (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle,
                   COUNT(*) OVER (PARTITION BY shingle) AS df
            FROM sh0)
          WHERE df <= {MAX_SHINGLE_DF}),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_inter,
               ROUND(n_inter / least(sa.n_a, sb.n_b), 6) AS containment
        FROM inter
        JOIN (SELECT doc_id AS doc_a, n_sh AS n_a FROM sizes) sa USING (doc_a)
        JOIN (SELECT doc_id AS doc_b, n_sh AS n_b FROM sizes) sb USING (doc_b)
        WHERE ROUND(n_inter / least(sa.n_a, sb.n_b), 6) >= 0.5
        """,
        "asymmetric n-gram containment |A∩B|/min(|A|,|B|) — near-subset "
        "duplication the symmetric Jaccard dilutes"),
    "q_dedup_simhash": Spec(
        lambda spark, sf: simhash(load_table(spark, sf, "documents")),
        f"""
        WITH {_SIMHASH_SIG_SQL}
        SELECT doc_id, simhash FROM sig
        """,
        "SimHash 60-bit signatures (majority-vote bits)"),
    "q_simhash_near": Spec(
        lambda spark, sf: simhash_near_pairs(load_table(spark, sf,
                                                        "documents")),
        f"""
        WITH {_SIMHASH_SIG_SQL},
        banded AS (
          SELECT doc_id, simhash, b.b AS band,
                 (simhash >> (b.b * {SIMHASH_BITS // SIMHASH_BANDS}))
                   & {(1 << (SIMHASH_BITS // SIMHASH_BANDS)) - 1} AS bval
          FROM sig, (SELECT unnest(range({SIMHASH_BANDS})) AS b) b)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(MIN(bit_count(xor(a.simhash, b.simhash))) AS INT)
                 AS hamming
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING MIN(bit_count(xor(a.simhash, b.simhash)))
               <= {SIMHASH_MAX_HAMMING}
        """,
        "SimHash Hamming near-pairs via 4×15-bit banding + XOR "
        "popcount verify — EXACT at radius ≤ bands−1 by pigeonhole "
        "(Manku et al. 2007 web-dedup shape)"),
    "q_dedup_audit": Spec(
        lambda spark, sf: dedup_audit(load_table(spark, sf, "documents")),
        rf"""
        WITH mh AS ({_MINHASH_SQL}),
        bands AS (
          SELECT doc_id, CAST(i // {N_HASHES // N_BANDS} AS INT) AS band,
                 STRING_AGG(CAST(mh AS VARCHAR), ',' ORDER BY i) AS band_sig
          FROM mh GROUP BY 1, 2),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_sig = b.band_sig
           AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        exposed AS (
          SELECT d.source, COUNT(*) AS n_neardup_exposed FROM (
            SELECT DISTINCT doc_id FROM (
              SELECT doc_a AS doc_id FROM pairs
              UNION ALL SELECT doc_b FROM pairs)) x
          JOIN documents d USING (doc_id)
          GROUP BY d.source),
        base AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
                   AS n_exact_dups,
                 CAST(COUNT(*) - COUNT(DISTINCT md5(trim(regexp_replace(
                        regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                        '\s+', ' ', 'g')))) AS BIGINT) AS n_norm_dups
          FROM documents GROUP BY source)
        SELECT b.source, b.n_docs, b.n_exact_dups, b.n_norm_dups,
               CAST(COALESCE(e.n_neardup_exposed, 0) AS BIGINT)
                 AS n_neardup_exposed
        FROM base b LEFT JOIN exposed e USING (source)
        """,
        "per-source dedup-yield audit (exact / normalized / LSH-candidate "
        "exposure in one dashboard row per source)"),
    "q_dedup_incremental": Spec(
        lambda spark, sf: incremental_dedup(load_table(spark, sf, "documents")),
        _incremental_dedup_oracle_sql(),
        "incremental batch-vs-corpus LSH dedup (daily-ingest shape: cost "
        "scales with |batch|, corpus signatures precomputed)"),
    "q_dedup_near": Spec(
        lambda spark, sf: ml_minhash_lsh_pairs(load_table(spark, sf, "documents")),
        None,  # ml hashing not reproducible in SQL — rows-only check
        "C2 pyspark.ml MinHashLSH approxSimilarityJoin (scale path)"),
    "q_exact_substring": Spec(
        lambda spark, sf: duplicated_spans(load_table(spark, sf, "documents")),
        f"""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks,
                 len(string_split(text, ' ')) AS n
          FROM documents WHERE len(string_split(text, ' ')) >= {SPAN_K}),
        spans AS (
          SELECT doc_id,
                 array_to_string(toks[CAST(i AS BIGINT) + 1
                                      : CAST(i AS BIGINT) + {SPAN_K}], ' ')
                   AS span
          FROM t, UNNEST(generate_series(0, n - {SPAN_K})) AS s(i))
        SELECT span, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_occ
        FROM spans GROUP BY span
        HAVING COUNT(DISTINCT doc_id) >= 2
        ORDER BY n_occ DESC, n_docs DESC, span LIMIT 50
        """,
        "exact duplicated k-token spans across documents (Lee et al. "
        "2022 exact-substring dedup as a rolling-window groupBy)"),
    "q_span_scrub": Spec(
        lambda spark, sf: span_scrub(load_table(spark, sf, "documents")),
        f"""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks,
                 len(string_split(text, ' ')) AS n
          FROM documents),
        segs AS (
          SELECT doc_id,
                 array_to_string(
                   toks[(g - 1) * {SPAN_K} + 1 : g * {SPAN_K}], ' ') AS seg
          FROM t, UNNEST(range(1, n // {SPAN_K} + 1)) AS s(g)),
        dups AS (
          SELECT seg FROM segs
          GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 2),
        per_doc AS (
          SELECT doc_id, COUNT(*) AS c
          FROM segs JOIN dups USING (seg) GROUP BY doc_id)
        SELECT t.doc_id, t.n AS n_tokens,
               CAST(COALESCE(d.c, 0) AS INT) AS n_scrubbed_segments,
               CAST(t.n - {SPAN_K} * COALESCE(d.c, 0) AS BIGINT)
                 AS n_tokens_kept
        FROM t LEFT JOIN per_doc d USING (doc_id)
        """,
        "duplicated-passage scrub (APPLY stage of exact-substring "
        "dedup): aligned k-token segments occurring in >=2 docs are "
        "removed; one text scan via posexplode_outer feeds both the "
        "segment join and the per-doc token budget"),
}

#: Serve-only incremental dedup shares q_dedup_incremental's oracle
#: VERBATIM: the committed corpus signature table must reproduce the
#: re-sign-everything result exactly.
SPECS["q_dedup_from_index"] = Spec(
    lambda spark, sf: incremental_dedup_from_index(spark, sf),
    SPECS["q_dedup_incremental"].oracle,
    "serve-only incremental dedup (dedup sibling of the ANN/BM25 "
    "serving splits): batch signatures joined against the COMMITTED "
    "corpus band-signature artifact — corpus text never re-read, cost "
    "scales with |batch|; same oracle as q_dedup_incremental, so the "
    "hash match proves persisted signatures equal in-query re-signing")

#: Append maintenance shares the same oracle once more: signature
#: growth day-by-day must equal one-shot corpus signing.
def _dedup_forget_oracle() -> str:
    from .text import FORGET_DOC_IDS
    return _incremental_dedup_oracle_sql(tombstones=FORGET_DOC_IDS)


SPECS["q_dedup_forget"] = Spec(
    lambda spark, sf: incremental_dedup_after_forget(spark, sf),
    _dedup_forget_oracle(),
    "right-to-be-forgotten for the dedup signature index (shares the "
    "lexical/ANN tombstone list — one erasure request propagates to "
    "every committed artifact): signatures anti-joined out "
    "copy-on-write, no deltas (per-doc signatures carry no global "
    "statistic); oracle re-signs the erased corpus with tombstones "
    "filtered from both sides, so a forgotten near-dup source stops "
    "flagging its batch twins exactly as a rebuild would")

SPECS["q_dedup_index_append"] = Spec(
    lambda spark, sf: incremental_dedup_from_appended_index(spark, sf),
    SPECS["q_dedup_incremental"].oracle,
    "incremental APPEND for the dedup signature index (r6 VERDICT "
    "item 2): v1 signs the day-1 corpus, v2 signs only day-2 "
    "arrivals and appends their band signatures atomically (fixed "
    "hash family = the dedup analog of a frozen quantizer); serve "
    "joins the appended head — same oracle as q_dedup_incremental, "
    "so the hash match proves per-day appends equal one-shot signing")
