"""Text/retrieval operator properties: BM25 ordering, chunk coverage.

These pin the semantics the oracle can't see directly — that BM25
prefers term-dense docs and never surfaces term-free ones, and that
the chunker's stride/size invariants cover every token exactly.
"""

from __future__ import annotations

import pytest

from healthkit_to_sqlite_spark.catalog import load_table
from healthkit_to_sqlite_spark.operators.text import (DSIR_BUCKETS, bm25_topk,
                                                      chunk_overlap,
                                                      dsir_resample,
                                                      dsir_weights,
                                                      lm_cross_entropy,
                                                      rare_trigram_rate)

SF = "/root/testdata/sf0.001"


def test_bm25_ranks_term_rich_docs_first(spark):
    rows = [(0, "spark vector merge spark vector"),
            (1, "spark table row column store value data batch"),
            (2, "key value store nothing relevant at all")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = bm25_topk(df, k=5).collect()
    ids = [r.doc_id for r in got]
    assert ids[0] == 0          # densest in query terms wins
    assert 1 in ids             # single-term doc still retrieved
    assert 2 not in ids         # zero query terms ⇒ filtered out
    assert all(r.bm25 > 0 for r in got)


def test_bm25_mrr_known_item_audit_properties(spark):
    """The lexical quality monitor's semantic contract: one output
    row per probe doc (a doc always contains its own query terms, so
    it is always its own candidate); rank within [1, n_cands];
    rr = 1/rank to 6 dp.  The fixture's absolute MRR is LOW by
    construction — the synthetic corpus is a bag of ~40 common words,
    so every leading-token query is all high-df terms and longer docs
    out-tf the probe (real corpora have distinctive terms; the
    monitor's operational value is the round-over-round delta per
    index rebuild).  Deterministic corpus ⇒ the value is pinned as a
    band, so a scoring/pruning defect still moves it."""
    from healthkit_to_sqlite_spark.operators.text import (
        MRR_Q, bm25_known_item_mrr)

    rows = bm25_known_item_mrr(spark, SF).collect()
    assert len(rows) == MRR_Q
    assert [r.q_doc for r in rows] == sorted(r.q_doc for r in rows)
    for r in rows:
        assert 1 <= r.rank <= r.n_cands
        assert abs(r.rr - round(1.0 / r.rank, 6)) < 1e-9
    mrr = sum(r.rr for r in rows) / len(rows)
    assert 0.05 <= mrr <= 0.15, f"MRR moved off its pinned band: {mrr:.4f}"
    # and a real hit exists: at least one probe ranks in its top 10
    assert min(r.rank for r in rows) <= 10


def test_chunk_overlap_covers_every_token(spark):
    """Starts advance by exactly the stride from 0; the final chunk
    always reaches the last token (stride < size ⇒ no tail gap); each
    chunk_text is precisely the corresponding token slice."""
    docs = load_table(spark, SF, "documents").limit(20)
    toks_by_doc = {r.doc_id: r.text.split(" ") for r in docs.collect()}
    by_doc: dict[int, list] = {}
    for c in chunk_overlap(docs).collect():
        by_doc.setdefault(c.doc_id, []).append(c)
    assert set(by_doc) == set(toks_by_doc)
    for doc_id, toks in toks_by_doc.items():
        cs = sorted(by_doc[doc_id], key=lambda c: c.chunk_id)
        assert [c.start for c in cs] == [i * 24 for i in range(len(cs))]
        last = cs[-1]
        assert last.start + last.n_chunk_tokens == len(toks)
        for c in cs:
            assert c.chunk_text.split(" ") == \
                toks[c.start:c.start + c.n_chunk_tokens]


def test_lm_cross_entropy_exact_on_fixture(spark):
    """Hand-computed Laplace bigram NLLs: train = even doc_ids
    {0: 'a b a b', 2: 'a b c'} ⇒ bigram counts (a,b):3 (b,a):1
    (b,c):1, prefix counts a:3 b:2, V=3; held-out doc 1 'a b z'
    scores (ln(6)-ln(4) + ln(5)-ln(1))/2, doc 3 'a b' scores
    ln(6)-ln(4); single-token doc 5 has no bigrams and drops out."""
    import math

    rows = [(0, "a b a b"), (1, "a b z"), (2, "a b c"),
            (3, "a b"), (5, "z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in lm_cross_entropy(df).collect()}
    assert set(got) == {1, 3}
    assert got[1].n_bigrams == 2 and got[3].n_bigrams == 1
    exp1 = round(((math.log(6) - math.log(4)) + math.log(5)) / 2, 6)
    exp3 = round(math.log(6) - math.log(4), 6)
    assert got[1].avg_nll == exp1
    assert got[3].avg_nll == exp3
    assert got[1].avg_nll > got[3].avg_nll  # unseen bigram costs more


def test_lm_cross_entropy_unseen_prefix_floor(spark):
    """A held-out bigram whose prefix never appears in training hits
    the smoothing floor exactly: nll = ln(0 + V) - ln(0 + 1) = ln V."""
    import math

    rows = [(0, "a b"), (1, "z q")]  # train vocab {a, b}, V = 2
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = lm_cross_entropy(df).collect()
    assert len(got) == 1 and got[0].doc_id == 1
    assert got[0].avg_nll == round(math.log(2), 6)


def test_dsir_weights_match_pure_python(spark):
    """Exact recompute of the DSIR log-likelihood-ratio weights in
    pure Python (hashlib md5 mirrors the portable 60-bit bucket hash),
    plus the selection property: a raw doc built from target-typical
    tokens outranks one with no target overlap."""
    import hashlib
    import math
    from collections import Counter

    rows = [(0, "x x y", "en"), (2, "x y y", "en"),
            (1, "x y", "fr"), (3, "q r", "fr"), (5, "x q", "fr")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = dsir_weights(df).collect()

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:15],
                   16) % DSIR_BUCKETS
    ct: Counter = Counter()
    cr: Counter = Counter()
    for _, text, lang in rows:
        for tok in text.split(" "):
            cr[bucket(tok)] += 1
            if lang == "en":
                ct[bucket(tok)] += 1
    nt, nr = sum(ct.values()), sum(cr.values())
    exp = {}
    for doc_id, text, lang in rows:
        if lang == "en":
            continue
        w = sum(math.log(ct.get(bucket(t), 0) + 1)
                - math.log(nt + DSIR_BUCKETS)
                - math.log(cr[bucket(t)] + 1)
                + math.log(nr + DSIR_BUCKETS)
                for t in text.split(" "))
        exp[doc_id] = (len(text.split(" ")), round(w, 6))
    assert {r.doc_id: (r.n_tokens, r.dsir_logw) for r in got} == exp
    by_id = {r.doc_id: r.dsir_logw for r in got}
    assert by_id[1] > by_id[5] > by_id[3]  # target overlap ranks higher
    assert [r.doc_id for r in got] == \
        sorted(by_id, key=lambda d: (-by_id[d], d))


def test_dsir_resample_gumbel_keys_match_recompute(spark):
    """The Gumbel keys are exactly w − ln(−ln(u)) with the
    hash-derived uniform (pure-Python md5 recompute), the weight
    column agrees with dsir_weights, and the draw is a permutation of
    the scored docs ordered by key — derandomized sampling ∝ exp(w)."""
    import hashlib
    import math

    rows = [(0, "x x y", "en"), (2, "x y y", "en"),
            (1, "x y", "fr"), (3, "q r", "fr"), (5, "x q", "fr")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = dsir_resample(df).collect()
    weights = {r.doc_id: r.dsir_logw for r in dsir_weights(df).collect()}
    assert {r.doc_id: r.dsir_logw for r in got} == weights

    def u(doc_id: int) -> float:
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        return (h % 2 ** 53 + 0.5) / 2 ** 53
    for r in got:
        # recompute from the UNROUNDED weight is impossible here, but
        # key − w is pure noise: compare the noise term exactly
        noise = round(r.gumbel_key - r.dsir_logw, 5)
        assert noise == round(-math.log(-math.log(u(r.doc_id))), 5)
    keys = {r.doc_id: r.gumbel_key for r in got}
    assert [r.doc_id for r in got] == \
        sorted(keys, key=lambda d: (-keys[d], d))


def test_rare_trigram_rate_flags_gibberish(spark):
    """A corpus of repeated normal text plus one gibberish doc: the
    gibberish doc's trigrams appear (almost) only in it (df=1 <
    min_df) so its rare_rate is ~1 (an incidental cross-space trigram
    like 'x j' may overlap the normal text), while the repeated docs
    share every trigram (df >= min_df) so their rate is 0."""
    normal = "the quick brown fox jumps over the lazy dog"
    rows = [(i, normal) for i in range(6)] + [(99, "qzx jvq wxz pfft zzyx")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in rare_trigram_rate(df).collect()}
    assert set(got) == set(range(6)) | {99}
    for i in range(6):
        assert got[i].rare_rate == 0.0
    assert got[99].rare_rate >= 0.9
    assert got[99].n_rare >= got[99].n_tri - 1


def test_rare_trigram_skips_short_docs(spark):
    df = spark.createDataFrame([(0, "ab"), (1, "abcd")],
                               "doc_id long, text string")
    got = {r.doc_id for r in rare_trigram_rate(df).collect()}
    assert got == {1}  # <3 chars has no trigram and must not error


def test_udtf_arrow_matches_row_transport(spark):
    """The Arrow-optimized UDTF must emit exactly the rows of the
    pickled-row UDTF — same lateral chunking, different transport."""
    from healthkit_to_sqlite_spark.operators.udx import (
        chunk_sentences, chunk_sentences_arrow)
    docs = load_table(spark, SF, "documents").limit(40)
    a = {tuple(r) for r in chunk_sentences(spark, docs).collect()}
    b = {tuple(r) for r in chunk_sentences_arrow(spark, docs).collect()}
    assert a == b and len(a) > 40


def test_inverted_index_impact_order_and_consistency(spark):
    from healthkit_to_sqlite_spark.operators.text import inverted_index
    docs = load_table(spark, SF, "documents")
    idx = {r.token: r for r in inverted_index(docs, cap=5).collect()}
    assert idx
    # exact df/total_tf vs a direct count for a couple of tokens
    import collections
    df_c: dict[str, set] = collections.defaultdict(set)
    tf_c: dict[str, int] = collections.defaultdict(int)
    for row in docs.select("doc_id", "text").collect():
        for t in row.text.split(" "):
            df_c[t].add(row.doc_id)
            tf_c[t] += 1
    for tok, r in idx.items():
        assert r.df == len(df_c[tok])
        assert r.total_tf == tf_c[tok]
        posts = [p.split(":") for p in r.postings.split(",")]
        assert len(posts) == min(5, r.df)
        tfs = [int(p[1]) for p in posts]
        assert tfs == sorted(tfs, reverse=True)  # impact-ordered
        ids = [int(p[0]) for p in posts]
        assert len(set(ids)) == len(ids)


def test_bpe_pairs_argmax_on_fixture(spark):
    """Hand-checkable corpus: 'ab' appears in 'abab'(x3 → 3 pairs each
    of ab/ba... ) — verify exact weighted pair counts and rank order."""
    from healthkit_to_sqlite_spark.operators.text import bpe_merge_pairs

    rows = [(0, "abab abab cd"), (1, "abab x cd cd"), (2, "e")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.pair: (r.n, r.merge_rank) for r in bpe_merge_pairs(df).collect()}
    # word freqs: abab=3, cd=3, x=1, e=1
    # abab pairs: ab, ba, ab → ab: 2*3=6, ba: 1*3=3; cd: 1*3=3
    assert got["ab"] == (6, 1)
    assert got["ba"][0] == 3 and got["cd"][0] == 3
    # tie broken lexicographically: ba < cd is False ('ba' < 'cd' True)
    assert got["ba"][1] == 2 and got["cd"][1] == 3
    assert "e" not in got and "x" not in got  # 1-char words: no pairs


def test_bpe_pairs_counts_match_direct_scan(spark):
    from healthkit_to_sqlite_spark.operators.text import bpe_merge_pairs

    docs = load_table(spark, SF, "documents")
    got = bpe_merge_pairs(docs).collect()
    assert len(got) == 50
    import collections
    direct: dict[str, int] = collections.defaultdict(int)
    for row in docs.select("text").collect():
        for w in row.text.split(" "):
            for i in range(len(w) - 1):
                direct[w[i:i + 2]] += 1
    for r in got:
        assert direct[r.pair] == r.n
    # ranks are 1..50 in (n desc, pair) order
    ordered = sorted(got, key=lambda r: (-r.n, r.pair))
    assert [r.merge_rank for r in ordered] == list(range(1, 51))


def test_udtf_poly_schema_follows_constant_arg(spark):
    """The analyze() API must derive the output schema from the
    constant argument: different n => different column sets; missing
    tokens are NULL (list-index semantics, not '')."""
    from healthkit_to_sqlite_spark.operators.udx import (
        leading_tokens_poly,
    )

    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "only two"), (2, "one")],
        "doc_id long, text string")
    two = leading_tokens_poly(spark, docs, n=2)
    five = leading_tokens_poly(spark, docs, n=5)
    assert two.columns == ["doc_id", "tok0", "tok1"]
    assert five.columns == ["doc_id"] + [f"tok{i}" for i in range(5)]
    r = {x.doc_id: x for x in five.collect()}
    assert (r[2].tok0, r[2].tok1) == ("one", None)
    assert (r[1].tok0, r[1].tok1, r[1].tok2) == ("only", "two", None)


def test_gopher_rules_conjunction_and_nondegenerate(spark):
    """keep must equal the AND of the five rule booleans, every ratio
    must be internally consistent with its counts, and the fixture
    must exercise both keep outcomes (a filter that passes or rejects
    everything tests nothing)."""
    from healthkit_to_sqlite_spark.operators.text import gopher_rules

    docs = load_table(spark, SF, "documents")
    rows = gopher_rules(docs).collect()
    assert len(rows) == docs.count()
    kept = sum(r.keep for r in rows)
    assert 0 < kept < len(rows)
    for r in rows:
        assert r.keep == (r.ok_n_words and r.ok_mean_len and r.ok_symbols
                          and r.ok_alpha and r.ok_stopwords), r
        assert 0 <= r.alpha_frac <= 1
        assert r.mean_word_len > 0


def test_gopher_line_rules_on_real_multiline_docs(spark):
    """VERDICT r5 item 3 — line rules pinned on REAL newline-carrying
    text (no reflow): integer-exact counts and both A1 thresholds
    exercised from both sides.  doc 1: 10 lines, 10 bullets (ratio
    1.0 > 0.9 → drop); doc 2: 10 lines, 4 ellipsis (0.4 > 0.3 →
    drop); doc 3: mixed but under both thresholds → keep; doc 4:
    single line, no markers → keep."""
    from healthkit_to_sqlite_spark.operators.text import gopher_line_stats

    docs = spark.createDataFrame(
        [(1, "\n".join(f"• item {i}" for i in range(10))),
         (2, "\n".join([f"line {i}..." for i in range(4)]
                       + [f"line {i}" for i in range(4, 10)])),
         (3, "• bullet one\n- bullet two\nplain line\ntrailing dots...\n"
             "last line"),
         (4, "just one plain line")],
        "doc_id int, text string")
    rows = {r.doc_id: r for r in
            gopher_line_stats(docs, text_col="text").collect()}
    assert (rows[1].n_lines, rows[1].n_bullet, rows[1].n_ellipsis) == (10, 10, 0)
    assert not rows[1].ok_bullet_lines and not rows[1].keep
    assert (rows[2].n_lines, rows[2].n_ellipsis) == (10, 4)
    assert not rows[2].ok_ellipsis_lines and not rows[2].keep
    assert (rows[3].n_lines, rows[3].n_bullet, rows[3].n_ellipsis) == (5, 2, 1)
    assert rows[3].bullet_ratio == 0.4 and rows[3].ellipsis_ratio == 0.2
    assert rows[3].keep
    assert (rows[4].n_lines, rows[4].n_bullet, rows[4].n_ellipsis) == (1, 0, 0)
    assert rows[4].keep


def test_bpe_train_learns_compositional_merges(spark):
    """The full BPE loop must actually ITERATE: a hand-built corpus
    where 'ab' is the dominant pair and 'ab'+'c' dominates round 2
    must learn (a,b)->ab then (ab,c)->abc — the second merge is only
    expressible using the first round's symbol.  Also pins the
    single-pass replace discipline on odd same-char runs (aaa with
    pair (a,a) leaves a straggler for a later round)."""
    from healthkit_to_sqlite_spark.operators.text import bpe_train

    docs = spark.createDataFrame(
        [(1, " ".join(["abc"] * 10 + ["abd"] * 3)),
         (2, " ".join(["abc"] * 5 + ["zz"] * 2))],
        "doc_id long, text string")
    merges = [(r.lhs, r.rhs, r.merged) for r in
              bpe_train(docs, merges=3).collect()]
    assert merges[0] == ("a", "b", "ab")
    assert merges[1] == ("ab", "c", "abc")   # uses round-1 symbol

    runs = spark.createDataFrame([(1, "aaa aaa aaa aaa")],
                                 "doc_id long, text string")
    m = [(r.lhs, r.rhs, r.merged) for r in
         bpe_train(runs, merges=2).collect()]
    # round 1: (a,a)->aa merges the first two of each aaa (single-pass
    # replace); round 2 pairs the straggler: (aa,a)->aaa
    assert m[0] == ("a", "a", "aa")
    assert m[1] == ("aa", "a", "aaa")


def test_bm25_index_append_time_travels_and_matches_one_shot(spark):
    """Append-maintenance invariants for the inverted index (r7,
    mirroring test_ann_index_append): (1) version 1 is the base-only
    index (time travel: doclen/stats cover exactly doc_id < split);
    (2) the appended head covers the whole corpus with the batch's
    rows ADDED, base rows byte-identical (never rewritten); (3) the
    summed stats deltas equal one-shot corpus stats; (4) serving the
    appended head equals the in-query corpus scorer row-for-row."""
    from pyspark.sql import functions as F

    from healthkit_to_sqlite_spark.catalog import load_table
    from healthkit_to_sqlite_spark.operators.text import (
        BM25_APPEND_SPLIT,
        bm25_from_appended_index,
        bm25_topk,
        build_text_index_appended,
    )

    sf = "/root/testdata/sf0.001"
    cat = build_text_index_appended(spark, sf)
    assert cat.current_version() == 2
    docs = load_table(spark, sf, "documents")
    n_total = docs.count()
    n_base = docs.filter(F.col("doc_id") < BM25_APPEND_SPLIT).count()

    # (1) time travel: v1 = base-only
    assert cat.read(spark, "doclen", version=1).count() == n_base
    s1 = cat.read(spark, "stats", version=1).collect()
    assert len(s1) == 1 and s1[0].n_docs == n_base
    assert cat.read(spark, "postings", version=1) \
              .agg(F.max("doc_id")).first()[0] < BM25_APPEND_SPLIT

    # (2) head covers all docs; base postings carried over unchanged
    assert cat.read(spark, "doclen").count() == n_total
    base_v1 = sorted(map(tuple,
                         cat.read(spark, "postings", version=1).collect()))
    base_v2 = sorted(map(tuple, cat.read(spark, "postings")
                         .filter(F.col("doc_id") < BM25_APPEND_SPLIT)
                         .collect()))
    assert base_v1 == base_v2

    # (3) mergeable stats: two delta rows summing to corpus truth
    st = cat.read(spark, "stats")
    assert st.count() == 2
    merged = st.agg(F.sum("n_docs").alias("n"),
                    F.sum("sum_dl").alias("s")).first()
    truth = docs.select(F.count(F.lit(1)).alias("n"),
                        F.sum(F.size(F.split("text", " "))).alias("s")
                        ).first()
    assert (merged.n, merged.s) == (truth.n, truth.s)

    # (4) serve equality vs the in-query corpus scorer
    got = sorted(map(tuple, bm25_from_appended_index(spark, sf).collect()))
    want = sorted(map(tuple, bm25_topk(docs).collect()))
    assert got == want


def test_bpe_apply_matches_training_segmentation(spark):
    """Tokenizer-consistency property the serve split depends on:
    replaying the learned merge list over raw text must reproduce the
    training loop's own final segmentation — including the single-pass
    straggler discipline on odd same-char runs ('aaa' under (a,a) →
    'aa a', two pieces).  Drives the factored-out apply kernel with a
    hand model so each count is checkable by eye."""
    from healthkit_to_sqlite_spark.operators.text import bpe_apply

    docs = spark.createDataFrame(
        [(1, "abc abc aaa"), (2, "abd zz")],
        "doc_id long, text string")
    # hand model mirroring what bpe_train learns on this corpus
    rows = {r.doc_id: r for r in
            bpe_apply(docs, [("a", "b"), ("ab", "c")]).collect()}
    # doc 1: abc->[abc]=1, abc->1, aaa->[a a a]=3 ; doc 2: abd->[ab d]=2, zz->[z z]=2
    assert (rows[1].n_words, rows[1].n_pieces) == (3, 5)
    assert (rows[2].n_words, rows[2].n_pieces) == (2, 4)

    # odd-run straggler discipline under (a,a): the single-pass
    # replace consumes the shared delimiter space, so every 'aa' hit
    # is followed by a skip — 'aaa' -> aa|a, 'aaaa' -> aa|a|a (NOT
    # aa|aa), exactly what training's per-round apply produces
    runs = spark.createDataFrame([(1, "aaa aaaa")],
                                 "doc_id long, text string")
    r = bpe_apply(runs, [("a", "a")]).collect()[0]
    assert (r.n_words, r.n_pieces) == (2, 5)  # aa|a + aa|a|a


def test_bm25_pruned_static_index_properties(spark):
    """Static-pruning invariants (Carmel 2001 shape): (1) each query
    term keeps exactly min(m, df) postings; (2) pruning only ever
    REMOVES score mass — every served doc scores ≤ its full-corpus
    BM25 (idf comes from the committed full-corpus df, so surviving
    postings are never re-weighted); (3) with m ≥ max df pruning is a
    no-op and the serve must reproduce the in-query scorer
    row-for-row — the exactness pin for the whole serve path."""
    from pyspark.sql import functions as F

    from healthkit_to_sqlite_spark.operators.text import (
        BM25_TERMS,
        bm25_pruned_topk,
        bm25_topk,
        build_pruned_text_index,
    )

    sf = "/root/testdata/sf0.001"
    cat = build_pruned_text_index(spark, sf)
    dfs = {r.term: r.df for r in
           cat.read(spark, "termdf")
           .filter(F.col("term").isin(*BM25_TERMS)).collect()}
    counts = {r.term: r["count"] for r in
              cat.read(spark, "pruned")
              .filter(F.col("term").isin(*BM25_TERMS))
              .groupBy("term").count().collect()}
    assert all(dfs[t] > 64 for t in BM25_TERMS)  # pruning bites
    assert counts == {t: 64 for t in BM25_TERMS}

    docs = load_table(spark, sf, "documents")
    n = docs.count()
    full = {r.doc_id: r.bm25 for r in bm25_topk(docs, k=n).collect()}
    for r in bm25_pruned_topk(spark, sf).collect():
        assert r.bm25 <= full[r.doc_id] + 1e-9

    want = sorted(map(tuple, bm25_topk(docs).collect()))
    got = sorted(map(tuple, bm25_pruned_topk(spark, sf, m=512).collect()))
    assert got == want


def test_bm25_prune_on_append_merge_equals_rebuild(spark):
    """Prune-on-append invariants (r7 VERDICT item 3): (1)
    m-subadditivity — the ordered merge of (committed base top-m ∪
    batch) equals a from-scratch prune of the FULL corpus exactly,
    row for row, because top-m is monotone; (2) per-term bound ≤ m
    holds post-merge; (3) time travel — version 1 (the pre-append
    pruned artifact) is byte-identical after the append (same
    manifest file list, same rows) and the replaced table's v2 files
    are disjoint from v1's; (4) termdf/stats ride as mergeable
    DELTAS (two rows summing to full-corpus truth); (5) the served
    top-k equals the single-pass pruned serve row-for-row."""
    from pyspark.sql import functions as F

    from healthkit_to_sqlite_spark.operators.text import (
        BM25_PRUNE_M,
        bm25_pruned_appended_topk,
        bm25_pruned_topk,
        build_pruned_text_index,
        build_pruned_text_index_appended,
    )

    sf = "/root/testdata/sf0.001"
    cat = build_pruned_text_index_appended(spark, sf)
    assert cat.current_version() == 2
    files_v1_before = cat._load(1)["tables"]["pruned"]["files"]

    # (1) merge == rebuild: the from-scratch pruned index over the
    # full corpus (the committed q_bm25_pruned artifact)
    rebuild = sorted(map(tuple, build_pruned_text_index(spark, sf)
                         .read(spark, "pruned").collect()))
    merged = sorted(map(tuple, cat.read(spark, "pruned").collect()))
    assert merged == rebuild

    # (2) per-term bound survives the merge
    over = (cat.read(spark, "pruned").groupBy("term").count()
            .filter(F.col("count") > BM25_PRUNE_M).count())
    assert over == 0

    # (3) time travel: v1 untouched by the replace publish
    assert cat._load(1)["tables"]["pruned"]["files"] == files_v1_before
    f1 = set(files_v1_before)
    f2 = set(cat._load(2)["tables"]["pruned"]["files"])
    assert f1 and f2 and not (f1 & f2)
    base_top = cat.read(spark, "pruned", version=1)
    assert base_top.groupBy("term").count() \
                   .filter(F.col("count") > BM25_PRUNE_M).count() == 0

    # (4) df/stats deltas sum to full-corpus truth
    docs = load_table(spark, sf, "documents")
    st = cat.read(spark, "stats")
    assert st.count() == 2
    s = st.agg(F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("d")).first()
    truth = docs.select(F.count(F.lit(1)).alias("n"),
                        F.sum(F.size(F.split("text", " "))).alias("d")
                        ).first()
    assert (s.n, s.d) == (truth.n, truth.d)
    merged_df = {r.term: r.s for r in
                 cat.read(spark, "termdf").groupBy("term")
                 .agg(F.sum("df").alias("s")).collect()}
    true_df = {r.term: r.c for r in
               docs.select("doc_id", F.explode(F.split("text", " "))
                           .alias("term"))
               .filter(F.col("term") != "").distinct()
               .groupBy("term").agg(F.count(F.lit(1)).alias("c"))
               .collect()}
    assert merged_df == true_df

    # (5) serve equality vs the single-pass pruned serve
    got = sorted(map(tuple, bm25_pruned_appended_topk(spark, sf).collect()))
    want = sorted(map(tuple, bm25_pruned_topk(spark, sf).collect()))
    assert got == want


def test_quality_classifier_exact_solve_and_distillation(spark):
    """Classifier-split pins: (1) the distributed integer normal
    equations reproduce a pure-Python X/y build EXACTLY, so the
    committed weights are bit-identical to an independent numpy solve
    on the same statistics; (2) served scores equal numpy X·w at the
    6-dp contract rounding; (3) the distillation actually learned
    the teacher: thresholded agreement with the Gopher labels beats
    the all-keep majority baseline."""
    import hashlib

    import numpy as np

    from healthkit_to_sqlite_spark.operators.text import (
        HASH_EMBED_DIM,
        build_quality_classifier,
        gopher_keep_expr,
        quality_classifier_scores,
    )

    sf = "/root/testdata/sf0.001"
    dim = HASH_EMBED_DIM
    rows = load_table(spark, sf, "documents").select(
        "doc_id", "text", gopher_keep_expr().cast("long").alias("y")
    ).collect()

    def feat(text):
        x = np.zeros(dim + 1)
        x[dim] = 1.0
        for t in text.split(" "):
            if not t:
                continue
            h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            x[h % dim] += 1 if (h // dim) % 2 == 0 else -1
        return x

    ids = sorted(r.doc_id for r in rows)
    by_id = {r.doc_id: r for r in rows}
    X = np.stack([feat(by_id[i].text) for i in ids])
    y = np.array([by_id[i].y for i in ids], float)
    w = np.linalg.solve(X.T @ X + np.eye(dim + 1), X.T @ y)

    cat = build_quality_classifier(spark, sf)
    wc = np.zeros(dim + 1)
    for r in cat.read(spark, "weights").collect():
        wc[r.d] = r.w
    assert np.array_equal(w, wc)          # bit-identical solve inputs

    got = {r.doc_id: (r.qc_score, r.pred_keep) for r in
           quality_classifier_scores(spark, sf).collect()}
    pred = X @ w
    assert max(abs(got[i][0] - round(pred[j], 6))
               for j, i in enumerate(ids)) <= 1e-6
    acc = sum((got[i][0] > 0.5) == (by_id[i].y == 1) for i in ids) / len(ids)
    base = max(y.mean(), 1 - y.mean())
    assert acc > base                      # learned beyond majority
    assert acc >= 0.87


def test_quality_classifier_eval_counts_exact(spark):
    """The monitoring artifact's confusion counts must equal a pure
    Python recompute from raw text + committed weights EXACTLY
    (integer sufficient statistics), and partition the corpus:
    tp+fp+fn+tn == n_docs per source, Σ n_docs == corpus size."""
    import hashlib

    import numpy as np

    from healthkit_to_sqlite_spark.operators.text import (
        HASH_EMBED_DIM,
        build_quality_classifier,
        gopher_keep_expr,
        quality_classifier_eval,
    )

    sf = "/root/testdata/sf0.001"
    dim = HASH_EMBED_DIM
    rows = load_table(spark, sf, "documents").select(
        "doc_id", "source", "text",
        gopher_keep_expr().cast("long").alias("y")).collect()
    wc = np.zeros(dim + 1)
    for r in build_quality_classifier(spark, sf).read(
            spark, "weights").collect():
        wc[r.d] = r.w

    def score(text):
        s = wc[dim]
        for t in text.split(" "):
            if not t:
                continue
            h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            s += (1 if (h // dim) % 2 == 0 else -1) * wc[h % dim]
        return s

    exp: dict[str, list[int]] = {}
    for r in rows:
        p, y = score(r.text) > 0.5, r.y == 1
        c = exp.setdefault(r.source, [0, 0, 0, 0, 0])
        c[0] += 1
        c[1 + (0 if p and y else 1 if p else 2 if y else 3)] += 1
    got = {r.source: [r.n_docs, r.tp, r.fp, r.fn, r.tn] for r in
           quality_classifier_eval(spark, sf).collect()}
    assert got == exp
    assert sum(v[0] for v in got.values()) == len(rows)
    for v in got.values():
        assert v[1] + v[2] + v[3] + v[4] == v[0]


def test_bpe_fertility_conserves_encode_totals(spark):
    """The fertility rollup must be a pure regrouping of the per-doc
    encode: segment n_words/n_pieces sum to exactly the q_bpe_encode
    totals, n_docs sums to the number of encoded documents, and every
    fertility ratio ≥ 1 piece per word (a word is at least one
    piece)."""
    from healthkit_to_sqlite_spark.operators.text import (
        bpe_encode_from_model,
        bpe_fertility,
    )

    sf = "/root/testdata/sf0.001"
    per_doc = bpe_encode_from_model(spark, sf).collect()
    seg = bpe_fertility(spark, sf).collect()
    assert sum(r.n_docs for r in seg) == len(per_doc)
    assert sum(r.n_words for r in seg) == sum(r.n_words for r in per_doc)
    assert sum(r.n_pieces for r in seg) == sum(r.n_pieces for r in per_doc)
    assert all(r.pieces_per_word >= 1.0 for r in seg)


def test_winnowing_guarantee_and_density(spark):
    """The two published winnowing properties (Schleimer 2003):
    (1) GUARANTEE — two documents sharing a token run of length
    ≥ w+k-1 (here 6) select at least one identical (gram-hash)
    fingerprint from inside the shared run, whatever their differing
    context, because every full window inside the run is common to
    both; (2) DENSITY — the fraction of grams selected sits near the
    expected 2/(w+1) = 0.4 on the real corpus (measured 0.384 at
    sf0.001)."""
    from healthkit_to_sqlite_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        winnowing_fingerprints,
    )

    run = "alpha beta gamma delta epsilon zeta"  # w+k-1 = 6 tokens
    docs = spark.createDataFrame(
        [(0, "x1 y1 " + run + " z1 w1 v1 u1"),
         (1, "completely different prefix words " + run)],
        "doc_id long, text string")

    def fp_set(doc_id):
        # row-level re-derivation of the selected hash set (the
        # contract query only exposes per-doc aggregates)
        from pyspark.sql import Window, functions as F2
        toked = docs.filter(F2.col("doc_id") == doc_id).select(
            "doc_id", F2.split("text", " ").alias("toks"))
        grams = toked.select(
            "doc_id",
            F2.posexplode(F2.expr(
                "transform(sequence(0, size(toks) - 3), "
                "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
            .alias("pos", "gram"))
        h = F2.conv(F2.substring(
            F2.md5(F2.concat(F2.lit("winnow:"), F2.col("gram"))), 1, 8),
            16, 10).cast("bigint")
        hashed = grams.select("pos", h.alias("h"))
        frame = (Window.partitionBy(F2.lit(1)).orderBy("pos")
                 .rowsBetween(Window.currentRow, WINNOW_W - 1))
        sel = F2.min(F2.struct("h", (-F2.col("pos")).alias("np"))).over(frame)
        cnt = F2.count(F2.lit(1)).over(frame)
        return {r["s"]["h"] for r in hashed
                .select(sel.alias("s"), cnt.alias("c"))
                .filter(F2.col("c") == WINNOW_W).collect()}

    assert WINNOW_W + WINNOW_K - 1 == 6
    assert fp_set(0) & fp_set(1)  # the guarantee

    from healthkit_to_sqlite_spark.catalog import load_table

    out = winnowing_fingerprints(
        load_table(spark, "/root/testdata/sf0.001", "documents")).collect()
    density = sum(r.n_fp for r in out) / sum(r.n_grams for r in out)
    assert 0.3 <= density <= 0.5  # ~2/(w+1)


def test_winnowing_pairs_subset_of_full_gram_pairs(spark):
    """Soundness of the compression: every winnowed fingerprint IS a
    gram hash, so any pair sharing ≥2 winnowed fingerprints must
    share ≥2 gram hashes — the pair set is a SUBSET of the uncapped
    full-gram pair join at the same threshold (winnowing only drops
    candidates, never invents them), while joining ~2/(w+1) of the
    rows.  Non-empty on this corpus (its built-in near-dups survive:
    the run guarantee keeps ≥1 shared fingerprint per shared run)."""
    from pyspark.sql import functions as F

    from healthkit_to_sqlite_spark.catalog import load_table
    from healthkit_to_sqlite_spark.operators.text import (
        WINNOW_MIN_SHARED,
        _winnow_select,
        winnowing_pairs,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = {(r.doc_a, r.doc_b): r.n_shared
           for r in winnowing_pairs(docs).collect()}
    assert got

    # the uncapped full-gram pair universe at the same threshold:
    # reuse the selection's own gram hashing by winnowing with w=1
    # (every full window is a single gram -> every gram is selected)
    allg = (_winnow_select(docs, w=1).select("doc_id", "h").distinct())
    a = allg.select(F.col("doc_id").alias("doc_a"), "h")
    b = allg.select(F.col("doc_id").alias("doc_b"), "h")
    full = {(r.doc_a, r.doc_b): r.n_shared for r in
            (a.join(b, "h").filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)).collect()}
    assert set(got) <= set(full)
    assert all(got[p] <= full[p] for p in got)


def test_quality_retrain_decision_versioning_and_improvement(spark):
    """Drift-loop closure pins (r7 VERDICT item 7): (1) the retrain
    catalog's v1 is a byte-level shallow clone of the live model
    (same manifest file list — live catalog untouched); (2) the
    exact-integer decision (2·tp·100 < pct·(2tp+fp+fn)) fires on this
    corpus and matches a pure-python recompute from the confusion
    artifact; (3) v2 is published (version bump) with genuinely
    different weights, while v1 stays time-travelable and equal to
    the live model; (4) the flagged sources' mean F1 does not degrade
    under the upweighted refit (improves at sf0.01, ties at
    sf0.001); (5) the report query carries exactly the decision."""
    from pyspark.sql import functions as F

    from healthkit_to_sqlite_spark.operators.text import (
        QC_RETRAIN_F1_PCT,
        build_quality_classifier,
        quality_classifier_eval,
        quality_retrain_report,
        read_qc_weights,
        read_qc_weights_at,
        retrain_quality_classifier,
    )

    sf = "/root/testdata/sf0.001"
    base = build_quality_classifier(spark, sf)
    cat = retrain_quality_classifier(spark, sf)

    # (1) shallow clone: v1 references the live catalog's files
    assert cat._load(1)["tables"]["weights"]["files"] \
        == base._load(base.current_version())["tables"]["weights"]["files"]

    # (2) decision == pure-python recompute from the monitor artifact
    conf = quality_classifier_eval(spark, sf).collect()
    expect_flagged = sorted(
        r.source for r in conf
        if 2 * r.tp * 100 < QC_RETRAIN_F1_PCT * (2 * r.tp + r.fp + r.fn))
    assert expect_flagged  # the corpus trips the threshold
    rep = {r.source: r for r in quality_retrain_report(spark, sf).collect()}
    assert sorted(s for s, r in rep.items() if r.flagged) == expect_flagged

    # (3) version bump; v2 != v1; v1 time-travels to the live model
    assert cat.current_version() == 2
    w1, w2 = read_qc_weights_at(spark, cat, 1), read_qc_weights(spark, cat)
    assert w1 != w2
    assert w1 == read_qc_weights(spark, base)

    # (4) flagged sources' mean F1 does not degrade
    flagged = [r for r in rep.values() if r.flagged]
    mean_v1 = sum(r.f1_v1 for r in flagged) / len(flagged)
    mean_v2 = sum(r.f1_v2 for r in flagged) / len(flagged)
    assert mean_v2 >= mean_v1

    # (5) every source reported once, F1s in [0, 1]
    assert len(rep) == 20
    assert all(0.0 <= r.f1_v1 <= 1.0 and 0.0 <= r.f1_v2 <= 1.0
               for r in rep.values())


def test_bpe_extend_monotone_improvement_and_append_only(spark):
    """Vocabulary-extension pins (r8, the third monitor→actuator
    loop): (1) the clone's v1 merge files are the live model's
    (shallow clone) and v2's file list EXTENDS v1's (append-only by
    rank — the replaced-nothing publish); (2) new merges are
    rank-continuous after the base and were learned on the flagged
    languages; (3) merge monotonicity holds corpus-wide — NO
    language's piece count increases under v2; (4) every flagged
    language strictly improves (the merges trained on its text must
    fire there); (5) the decision matches the exact-integer recompute
    and the report carries it."""
    from healthkit_to_sqlite_spark.operators.text import (
        BPE_EXTEND_ROUNDS,
        BPE_MERGES,
        bpe_extend_report,
        build_bpe_model,
        extend_bpe_model,
    )

    sf = "/root/testdata/sf0.001"
    base = build_bpe_model(spark, sf)
    cat = extend_bpe_model(spark, sf)
    assert cat.current_version() == 2

    # (1) shallow clone + append-only files
    base_files = base._load(base.current_version())["tables"]["merges"]["files"]
    v1_files = cat._load(1)["tables"]["merges"]["files"]
    v2_files = cat._load(2)["tables"]["merges"]["files"]
    assert v1_files == base_files
    assert v2_files[:len(v1_files)] == v1_files and len(v2_files) > len(v1_files)

    # (2) rank continuity
    ranks = sorted(r.merge_rank for r in cat.read(spark, "merges").collect())
    assert ranks == list(range(1, BPE_MERGES + BPE_EXTEND_ROUNDS + 1))

    rep = {r.lang: r for r in bpe_extend_report(spark, sf).collect()}
    flagged = sorted(lg for lg, r in rep.items() if r.flagged)
    assert flagged  # the corpus trips the decision
    # (5) decision artifact == report flags == integer recompute
    assert sorted(r.lang for r in
                  cat.read(spark, "decision").collect()) == flagged
    tot_p = sum(r.n_pieces_v1 for r in rep.values())
    # n_chars recompute from the corpus
    from pyspark.sql import functions as F
    chars = {r.lang: r.c for r in
             load_table(spark, sf, "documents").groupBy("lang")
             .agg(F.sum("n_chars").alias("c")).collect()}
    tot_c = sum(chars.values())
    assert flagged == sorted(lg for lg, r in rep.items()
                             if r.n_pieces_v1 * tot_c > tot_p * chars[lg])

    # (3) monotone: no language fragments more under v2
    assert all(r.n_pieces_v2 <= r.n_pieces_v1 for r in rep.values())
    # (4) strict improvement on every flagged language
    assert all(rep[lg].n_pieces_v2 < rep[lg].n_pieces_v1 for lg in flagged)


def test_inverted_index_append_merge_equals_rebuild(spark):
    """Prune-on-append invariants for the impact-ordered inverted
    index (r8 VERDICT item 4 — the last build-only serving artifact):
    (1) the served appended head equals the one-shot
    `inverted_index` artifact row-for-row, postings strings included
    (cap-subadditivity under the shared `_top_cap_rank` order); (2)
    the per-token bound ≤ cap survives the merge; (3) version 1 (the
    pre-append ranked artifact) is byte-identical after the REPLACE
    publish and v2's files are disjoint from v1's; (4) per-token
    df/total_tf ride as mergeable deltas summing to full-corpus
    truth; (5) the corpus fixture holds no empty tokens — the
    invariant that lets the append feed off the term≠''-filtered
    committed full index while sharing the unfiltered oracle."""
    from pyspark.sql import functions as F

    from healthkit_to_sqlite_spark.operators.text import (
        INV_POSTINGS_CAP,
        build_inverted_index_appended,
        inverted_index,
        inverted_index_appended,
        ws_tokens,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    cat = build_inverted_index_appended(spark, sf)
    assert cat.current_version() == 2
    files_v1_before = cat._load(1)["tables"]["top"]["files"]

    # (1) merge == rebuild, through the full serve (strings included)
    got = sorted(map(tuple, inverted_index_appended(spark, sf).collect()))
    want = sorted(map(tuple, inverted_index(docs).collect()))
    assert got == want

    # (2) per-token bound survives the merge
    assert (cat.read(spark, "top").groupBy("token").count()
            .filter(F.col("count") > INV_POSTINGS_CAP).count()) == 0

    # (3) time travel: v1 untouched by the replace publish
    assert cat._load(1)["tables"]["top"]["files"] == files_v1_before
    f1 = set(files_v1_before)
    f2 = set(cat._load(2)["tables"]["top"]["files"])
    assert f1 and f2 and not (f1 & f2)

    # (4) stats deltas sum to full-corpus truth
    merged = {r.token: (r.df, r.tf) for r in
              cat.read(spark, "stats").groupBy("token")
              .agg(F.sum("df").alias("df"),
                   F.sum("total_tf").alias("tf")).collect()}
    truth = {r.token: (r.df, r.tf) for r in
             docs.select("doc_id", F.explode(ws_tokens("text"))
                         .alias("token"))
             .groupBy("token")
             .agg(F.count_distinct("doc_id").alias("df"),
                  F.count(F.lit(1)).alias("tf")).collect()}
    assert merged == truth

    # (5) the no-empty-token invariant the docstring declares
    assert (docs.select(F.explode(ws_tokens("text")).alias("t"))
            .filter(F.col("t") == "").count()) == 0


def test_suffix_ranks_match_python_reference(spark):
    """Prefix doubling ≡ true lexicographic suffix ranking on a
    constructed corpus exercising every edge: cross-document ties
    (identical suffixes in different docs share a rank), the
    shorter-suffix-sorts-first sentinel (a doc-final suffix ranks
    before a longer suffix with the same leading tokens), and depth
    truncation (suffixes identical through SUFFIX_W tokens tie even
    if they diverge later)."""
    from healthkit_to_sqlite_spark.operators.text import (SUFFIX_W,
                                                          suffix_ranks)

    deep = "x " * (SUFFIX_W + 2)
    docs = spark.createDataFrame(
        [(0, "b a c a b"), (1, "a b"), (2, "a"),
         (3, deep.strip() + " y"), (4, deep.strip() + " z")],
        "doc_id bigint, text string")
    got = {(r.doc_id, r.pos): r.srank
           for r in suffix_ranks(docs).collect()}

    texts = {0: "b a c a b", 1: "a b", 2: "a",
             3: deep.strip() + " y", 4: deep.strip() + " z"}
    suf = []
    for d, t in texts.items():
        toks = t.split(" ")
        for p in range(len(toks)):
            suf.append((tuple(toks[p:p + SUFFIX_W]), d, p))
    ordered = sorted(s[0] for s in suf)
    want = {(d, p): 1 + ordered.index(key) for key, d, p in suf}
    assert got == want
    # cross-doc tie: "a b" suffix exists in doc 0 (pos 3) and doc 1
    # (pos 0) — identical depth-8 prefixes, equal ranks
    assert got[(0, 3)] == got[(1, 0)]
    # sentinel: bare "a" (doc 2) sorts before "a b"
    assert got[(2, 0)] < got[(0, 3)]
    # truncation: docs 3 and 4 agree through SUFFIX_W tokens at pos 0
    assert got[(3, 0)] == got[(4, 0)]


@pytest.mark.parametrize("w", [1, 2, 4])
def test_suffix_ranks_all_depths_match_python_reference(spark, w):
    """The r14 round restructure (fused 2-token base case; final rank
    emitted by the LAST doubling round instead of a separate ranking
    pass) has three structural regimes — w=1 (no pairing at all),
    w=2 (the base case IS the final round), w≥4 (doubling rounds in
    between).  Each must still equal true depth-w lexicographic
    ranking."""
    from healthkit_to_sqlite_spark.operators.text import suffix_ranks

    texts = {0: "b a c a b", 1: "a b", 2: "a", 3: "c a b a",
             4: "a a a a a", 5: "b a c a c"}
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id bigint, text string")
    got = {(r.doc_id, r.pos): r.srank
           for r in suffix_ranks(docs, w=w).collect()}
    suf = []
    for d, t in texts.items():
        toks = t.split(" ")
        for p in range(len(toks)):
            suf.append((tuple(toks[p:p + w]), d, p))
    ordered = sorted(s[0] for s in suf)
    want = {(d, p): 1 + ordered.index(key) for key, d, p in suf}
    assert got == want


def _suffix_reference(texts, w):
    """True depth-w lexicographic rank of every (doc, pos) suffix."""
    suf = []
    for d, t in texts.items():
        toks = t.split(" ")
        for p in range(len(toks)):
            suf.append((tuple(toks[p:p + w]), d, p))
    ordered = sorted(s[0] for s in suf)
    return {(d, p): 1 + ordered.index(key) for key, d, p in suf}


@pytest.mark.parametrize("w", [1, 2, 8])
def test_suffix_kernels_value_identical(spark, w):
    """The r14 `_ranked_multiset_np` rank kernel (range-partition the
    FULL paired multiset, Arrow adjacency counters, offsets collect)
    must equal true lexicographic ranking rank-for-rank — at every
    structural depth regime AND across Arrow batch boundaries:
    maxRecordsPerBatch=3 forces the kernel's carried counters (prev
    key, nrows, ndense, grank) to cross hundreds of batch edges, and
    parts=2 forces cross-partition offset composition.  String keys
    (w≥2 base round ranks raw token pairs incl. the '' sentinel) and
    bigint keys (later rounds) both cross the boundary."""
    from healthkit_to_sqlite_spark.operators.text import suffix_ranks

    texts = {0: "b a c a b", 1: "a b", 2: "a", 3: "c a b a",
             4: "a a a a a", 5: "b a c a c",
             6: "z y x w v u t s r q p o n m",
             7: "a b a b a b a b a b"}
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id bigint, text string")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        got = {(r.doc_id, r.pos): r.srank
               for r in suffix_ranks(docs, w=w, parts=2).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == _suffix_reference(texts, w)


#: rare_trigram_rate as the positional-explode form emitted it: the
#: edge set's rows, and the fixture's (row count, digest)
TRI_EDGE = [
    (0, 1, 1, 1.0), (2, 2, 2, 1.0), (3, 6, 6, 1.0), (4, 17, 17, 1.0),
]
TRI_FIXTURE = (500, "a03e8b7ba8d179ad")


def test_rare_trigram_kernels_value_identical(spark):
    """The r14 Arrow distinct-trigram kernel == the positional-explode
    expression form it replaced, row for row — on a constructed edge
    set (doc shorter than 3 chars dropped, uppercase folded by the
    ENGINE's lower() before the kernel, repeated trigrams deduped,
    non-ASCII code points sliced at code-point grain) AND on the
    fixture corpus."""
    from tests.golden import digest

    edge = spark.createDataFrame(
        [(0, "aAaAa"), (1, "xy"), (2, "ababab"), (3, "héllo héllo"),
         (4, "the quick brown fox")],
        "doc_id bigint, text string")
    got = sorted(map(tuple, rare_trigram_rate(edge).collect()), key=repr)
    assert got == TRI_EDGE
    assert 1 not in {r[0] for r in got}          # < 3 chars → no row
    fixture = load_table(spark, SF, "documents")
    assert digest(rare_trigram_rate(fixture).collect()) == TRI_FIXTURE


#: ngram_counts as the transform-HOF form emitted it (ordered rows)
NGRAM_EDGE = [
    ("a b", 2), ("b a", 2), ("héllo wörld", 2), (" b", 1), (" lead", 1),
    ("a ", 1), ("trail ", 1), ("wörld héllo", 1),
]
NGRAM_FIXTURE = [
    ("order fast", 51), ("order order", 47), ("agg part", 46),
    ("data slow", 46), ("part filter", 46), ("scan a", 46),
    ("stream column", 46), ("window join", 46), ("join column", 45),
    ("line agg", 45), ("line group", 45), ("order scan", 45), ("batch a", 44),
    ("big order", 44), ("data query", 44), ("group merge", 44),
    ("order sort", 44), ("agg hash", 43), ("agg table", 43),
    ("column line", 43),
]


def test_ngram_kernels_value_identical(spark):
    """The r14 Arrow bigram-partials kernel == the transform-HOF
    expression form it replaced, row for row — on a constructed edge
    set (1-token doc yields nothing, runs of spaces yield empty tokens
    exactly like Spark's split, repeated bigrams keep multiplicity,
    ties in n break by bigram asc) AND on the fixture corpus.  k is
    raised above the distinct-bigram count on the edge set so the
    WHOLE aggregate is compared, not just the top slice."""
    from healthkit_to_sqlite_spark.operators.text import ngram_counts

    edge = spark.createDataFrame(
        [(0, "a b a b a"), (1, "x"), (2, "a  b"), (3, None),
         (4, "héllo wörld héllo wörld"), (5, " lead"), (6, "trail ")],
        "doc_id bigint, text string")
    fixture = load_table(spark, SF, "documents")
    for docs, k, want in ((edge, 100, NGRAM_EDGE),
                          (fixture, 20, NGRAM_FIXTURE)):
        got = [tuple(r) for r in ngram_counts(docs, k=k).collect()]
        assert got == want


def test_curriculum_order_is_interleaved_permutation(spark):
    """Global positions are a permutation of 1..n; the first
    |sources| positions are each source's EASIEST doc in source
    order; within each source positions are strictly increasing in
    intra_rank (round-robin never reorders a source's own stream)."""
    from healthkit_to_sqlite_spark.operators.text import curriculum_order

    df = curriculum_order(load_table(spark, SF, "documents")).toPandas()
    n = len(df)
    assert sorted(df.global_pos) == list(range(1, n + 1))
    srcs = sorted(df.source.unique())
    first = df.sort_values("global_pos").head(len(srcs))
    assert list(first.source) == srcs
    assert (first.intra_rank == 1).all()
    for _, grp in df.groupby("source"):
        g = grp.sort_values("intra_rank")
        assert g.global_pos.is_monotonic_increasing
        # easy→hard within the source
        assert g.difficulty.is_monotonic_increasing


def test_curriculum_closed_form_matches_global_rank(spark):
    """The literal-folded position formula equals the reference
    definition ROW_NUMBER() OVER (ORDER BY intra_rank, source),
    replayed in pandas."""
    from healthkit_to_sqlite_spark.operators.text import curriculum_order

    df = curriculum_order(load_table(spark, SF, "documents")).toPandas()
    ref = (df.sort_values(["intra_rank", "source"])
           .reset_index(drop=True))
    ref["expect"] = range(1, len(ref) + 1)
    assert (ref.global_pos == ref.expect).all()
