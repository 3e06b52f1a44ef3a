"""Property-based tests for the round-9 distributed-ordering kernels.

`_ranked_multiset_np` (the range-partitioned rank behind the suffix
ranking) and `_prune_top_m` (the ordered-merge kernel behind every
prune-on-append path) each carry an algebraic claim — ranks compose
across partitions exactly; top-m is monotone under disjoint-key
union — so the claims are tested AS properties: hypothesis drives
randomized inputs through Spark once per example against pure-python
models.  Examples are few and small (each runs Spark jobs); the pure
models carry the case explosion.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

key_cnt_lists = st.lists(
    st.tuples(st.integers(min_value=-50, max_value=50),
              st.integers(min_value=1, max_value=5)),
    min_size=1, max_size=40)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pairs=key_cnt_lists)
def test_global_key_ranks_match_local_model(spark, pairs):
    """dense = 1-based dense rank of the distinct keys; rank = the
    plain RANK the key carries over the expanded multiset — for any
    key set, any multiplicities, any partition count (2 forces
    cross-partition composition on tiny inputs)."""
    from healthkit_to_sqlite_spark.operators.text import _ranked_multiset_np

    keys = [k for k, c in pairs for _ in range(c)]
    rows = [(i, 0, k) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "doc_id bigint, pos int, k int")
    got = {(r.doc_id, r.dense, r.rank) for r in
           _ranked_multiset_np(df, ["k"], parts=2).collect()}

    agg: dict[int, int] = {}
    for k, c in pairs:
        agg[k] = agg.get(k, 0) + c
    want_by_key, running = {}, 0
    for i, k in enumerate(sorted(agg)):
        want_by_key[k] = (i + 1, running + 1)
        running += agg[k]
    assert got == {(d, *want_by_key[k]) for d, _, k in rows}


docs_strategy = st.lists(
    st.lists(st.sampled_from("ab"), min_size=1, max_size=6),
    min_size=2, max_size=8)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=docs_strategy, m=st.integers(min_value=1, max_value=4),
       split=st.integers(min_value=1, max_value=7))
def test_prune_top_m_merge_monotone(spark, docs, m, split):
    """The prune-on-append theorem as a property: for ANY corpus,
    cap, and base/batch split (disjoint doc_ids),
    top_m(top_m(base) ∪ batch) == top_m(base ∪ batch) row-for-row
    under the shared (tf DESC, dl ASC, doc_id) impact order."""
    from healthkit_to_sqlite_spark.operators.text import _prune_top_m

    split = min(split, len(docs) - 1) or 1
    rows = []
    for doc_id, toks in enumerate(docs):
        dl = len(toks)
        for t in set(toks):
            rows.append((t, doc_id, toks.count(t), dl))
    df = spark.createDataFrame(
        rows, "term string, doc_id bigint, tf bigint, dl int")
    base = df.filter(F.col("doc_id") < split)
    batch = df.filter(F.col("doc_id") >= split)

    merged = _prune_top_m(
        _prune_top_m(base, m).unionByName(batch), m)
    rebuild = _prune_top_m(df, m)
    assert sorted(map(tuple, merged.collect())) \
        == sorted(map(tuple, rebuild.collect()))


def test_curriculum_closed_form_position_property():
    """Property (hypothesis, pure Python — no Spark): the literal-
    folded interleave formula pos(r, s) = Σ_s' min(cnt_s', r−1) +
    |{s' ≤ s : cnt_s' ≥ r}| equals ROW_NUMBER() OVER (ORDER BY
    intra_rank, source) for ANY per-source count multiset, not just
    the fixture's.  This is the math q_curriculum_order folds into a
    Spark expression; a counterexample here means the kernel and its
    oracle would both be wrong in the same way the fixture can't
    see."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(min_value=1, max_value=9),
                    min_size=1, max_size=6))
    def check(counts):
        srcs = [f"s{i}" for i in range(len(counts))]
        cnt = dict(zip(srcs, counts))
        tuples = sorted((r, s) for s in srcs
                        for r in range(1, cnt[s] + 1))
        for expect, (r, s) in enumerate(tuples, start=1):
            before = sum(min(cnt[s2], r - 1) for s2 in srcs)
            same = sum(1 for s2 in srcs if cnt[s2] >= r and s2 <= s)
            assert before + same == expect, (counts, r, s)

    check()


def test_facet_page_keyset_equals_offset_semantics(spark):
    """Keyset correctness as a property: mining page 2 with the
    cursor taken from page 1's last row must reproduce EXACTLY rows
    page_size+1 .. 2*page_size of the cursorless (o_orderdate,
    o_orderkey) ordering — keyset pagination is an OFFSET-free
    implementation of the same sequence, and a cursor-predicate bug
    (>= for >, missing tie arm) breaks the equality at the page
    boundary.  Facet counts must be page-invariant (the panel
    reflects the filter, never the pagination)."""
    from healthkit_to_sqlite_spark.catalog import load_table
    from healthkit_to_sqlite_spark.operators.relational import (
        FACET_PAGE_SIZE, FACET_STATUS, facet_page)
    from pyspark.sql import functions as F

    SF = "/root/testdata/sf0.001"
    orders = load_table(spark, SF, "orders")
    full = (orders.filter(F.col("o_orderstatus") == FACET_STATUS)
            .orderBy("o_orderdate", "o_orderkey")
            .limit(2 * FACET_PAGE_SIZE).collect())
    # no re-sort: in-page order is part of the pagination contract
    # (ADVICE r12) — collect() must already yield cursor order
    page1 = facet_page(orders, after_date="1990-01-01 00:00:00",
                       after_key=-1).collect()
    assert [(r.o_orderkey) for r in page1] == \
        [r.o_orderkey for r in full[:FACET_PAGE_SIZE]]
    last = page1[-1]
    page2 = facet_page(orders,
                       after_date=str(last.o_orderdate),
                       after_key=int(last.o_orderkey)).collect()
    assert [r.o_orderkey for r in page2] == \
        [r.o_orderkey for r in full[FACET_PAGE_SIZE:2 * FACET_PAGE_SIZE]]
    # facet counts are page-invariant
    c1 = {(r.o_orderpriority, r.facet_count) for r in page1}
    c2 = {(r.o_orderpriority, r.facet_count) for r in page2}
    counts = dict(c1 | c2)
    assert all(counts[p] == n for p, n in (c1 | c2))
