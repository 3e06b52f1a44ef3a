"""The r14 second-wave Arrow kernels, pinned to the values of the
expression forms they replaced (the `test_sign_kernels` discipline
applied to the remaining interpreted-HOF / per-element-md5 hot paths):

- word shingles (`word_shingles`): pure string arithmetic — Python
  ``text.split(" ")`` == Spark ``split(text, ' ')`` including
  empty-token runs, first-occurrence distinct == ``array_distinct``,
  short-doc truncated shingle == the ``greatest(.., 1)`` floor.
- SimHash (`simhash`): integer-only (md5 → top-15-hex parse → signed
  per-bit counts → strict ``> 0`` majority) — no IEEE story.
- winnowing grams (`_winnow_grams_np`): integer-only (md5 → top-8-hex
  parse).
- Count-Min partials (`_cms_partials_np`): exact integer partial
  counts that SUM to the same d×w matrix at any batch boundary.
- paragraphs and the BPE encode rollup: string slicing / integer
  piece counts.

Each suite runs at two fixture scales (Arrow batch boundaries move)
against a digest recorded from the expression form, plus a
constructed edge set against literal rows recorded the same way, and
pins the map-only plan property the kernels were built for.  The
consumer queries are checked against the DuckDB oracle in
test_kernel_oracle.
"""

from __future__ import annotations

import pytest

from healthkit_to_sqlite_spark.catalog import load_table
from healthkit_to_sqlite_spark.operators.dedup import (
    paragraphs,
    simhash,
    word_shingles,
)
from healthkit_to_sqlite_spark.operators.pipeline import cms_sketch
from healthkit_to_sqlite_spark.operators.text import (
    _winnow_select,
    bpe_apply,
)
from healthkit_to_sqlite_spark.plans import formatted_plan
from tests.golden import digest

SCALES = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

#: (row count, digest) of each expression form's output, per scale
EXPECTED = {
    "bpe/sf0.001": (500, "af1893ec1749cb81"),
    "bpe/sf0.01": (500, "edbf7d4f058d382d"),
    "cms/sf0.001": (120, "d2e7467642d1383e"),
    "cms/sf0.01": (120, "c96dba3da3d0ce61"),
    "para/sf0.001/16": (1975, "fd45b848246215e2"),
    "para/sf0.001/3": (9476, "5b7b6ca0fc75af83"),
    "para/sf0.01/16": (1921, "1eafdd9d49b36202"),
    "para/sf0.01/3": (9216, "ea3045d7447ba517"),
    "shingles/sf0.001/2": (26477, "da17a6a2003b9fe7"),
    "shingles/sf0.001/4": (26437, "e05e64494a151a96"),
    "shingles/sf0.01/2": (25709, "d0a7a044b589dfab"),
    "shingles/sf0.01/4": (25663, "23231e1b5b625cc5"),
    "simhash/sf0.001": (500, "0f4b230502c3b8ff"),
    "simhash/sf0.01": (500, "344d832af00bfdf8"),
    "winnow/sf0.001": (10490, "d1edc1dd16b2cc32"),
    "winnow/sf0.01": (10254, "aaba6cc01bbbba20"),
}


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _edge_docs(spark):
    # the shared tokenizer edge set: short docs (truncated shingle /
    # no gram), space runs → empty tokens, null text → no rows,
    # repeated tokens (SimHash weights, distinct dedup), non-ASCII
    return spark.createDataFrame(
        [(0, "a b a b a"), (1, "x"), (2, "a  b"), (3, None),
         (4, "héllo wörld héllo wörld"), (5, " lead"), (6, "trail "),
         (7, ""), (8, "w x y z w x y z w x y z")],
        "doc_id bigint, text string")


def _scale(sf):
    return sf.rsplit("/", 1)[1]


@pytest.mark.parametrize("sf", SCALES)
@pytest.mark.parametrize("k", [2, 4])
def test_word_shingles_np_value_identical(spark, sf, k):
    docs = load_table(spark, sf, "documents")
    got = digest(word_shingles(docs, k=k).collect())
    assert got == EXPECTED[f"shingles/{_scale(sf)}/{k}"]


#: word_shingles(_edge_docs, k) as the expression form emitted it
EDGE_SHINGLES = {
    2: [
        (0, "a b"), (0, "b a"), (1, "x"), (2, " b"), (2, "a "), (3, ""),
        (4, "héllo wörld"), (4, "wörld héllo"), (5, " lead"), (6, "trail "),
        (7, ""), (8, "w x"), (8, "x y"), (8, "y z"), (8, "z w"),
    ],
    4: [
        (0, "a b a b"), (0, "b a b a"), (1, "x"), (2, "a  b"), (3, ""),
        (4, "héllo wörld héllo wörld"), (5, " lead"), (6, "trail "), (7, ""),
        (8, "w x y z"), (8, "x y z w"), (8, "y z w x"), (8, "z w x y"),
    ],
}


@pytest.mark.parametrize("k", [2, 4])
def test_word_shingles_np_edge_set(spark, k):
    # k parametrized (ADVICE r14): the k=2 path hits a different
    # greatest(.., 1) truncation boundary than the default k=4
    a = _rows(word_shingles(_edge_docs(spark), k=k))
    assert a == EDGE_SHINGLES[k]
    # the conventions the kernel must reproduce, pinned explicitly:
    got = dict()
    for did, sh in sorted(a):
        got.setdefault(did, []).append(sh)
    if k == 4:
        assert got[1] == ["x"]        # <k tokens → one truncated shingle
        assert got[2] == ["a  b"]     # empty token BETWEEN words kept
    else:
        assert got[1] == ["x"]        # 1 token < k=2 → truncated
        assert got[2] == [" b", "a "]  # 3 tokens → two 2-shingles (sorted)
    assert got[3] == [""]             # null text → concat_ws-swallowed ""
    assert got[7] == [""]             # empty text → [""] token → "" shingle


@pytest.mark.parametrize("sf", SCALES)
def test_simhash_np_value_identical(spark, sf):
    docs = load_table(spark, sf, "documents")
    got = digest(simhash(docs).collect())
    assert got == EXPECTED[f"simhash/{_scale(sf)}"]
    assert got[0] == docs.count()


#: simhash(_edge_docs, bits) as the expression form emitted it
EDGE_SIMHASH = {
    32: [
        (0, 2618235754), (1, 308856835), (2, 2624195434), (4, 1208877157),
        (5, 2555379968), (6, 7340576), (7, 2565868320), (8, 575225856),
    ],
    60: [
        (0, 57446577476672362), (1, 710810379057940483),
        (2, 670075232205802346), (4, 621499498565075045),
        (5, 72295950098366720), (6, 883136539825013280),
        (7, 955282973525019424), (8, 941261144558485504),
    ],
}


def test_simhash_np_edge_set(spark):
    # both signature widths: 60 (the default, every md5-prefix bit)
    # and 32 (the narrower path that drops the high hash bits)
    for bits in (32, 60):
        a = _rows(simhash(_edge_docs(spark), bits))
        assert a == EDGE_SIMHASH[bits]
        ids = {r[0] for r in a}
        assert 3 not in ids and 7 in ids  # null drops; "" hashes ""
        assert all(0 <= r[1] < 2 ** bits for r in a)


def test_simhash_rejects_more_than_60_bits(spark):
    with pytest.raises(ValueError, match="60-bit md5"):
        simhash(_edge_docs(spark), 61)


@pytest.mark.parametrize("sf", SCALES)
def test_winnow_grams_np_value_identical(spark, sf):
    docs = load_table(spark, sf, "documents")
    got = digest(_winnow_select(docs).collect())
    assert got == EXPECTED[f"winnow/{_scale(sf)}"]


#: _winnow_select(_edge_docs, w=1) as the posexplode form emitted it
EDGE_WINNOW = [
    (0, 3, 3925938329, 0), (0, 3, 3925938329, 2), (0, 3, 559499439, 1),
    (4, 2, 1835572731, 0), (4, 2, 3668424044, 1), (8, 10, 1212228786, 1),
    (8, 10, 1212228786, 5), (8, 10, 1212228786, 9), (8, 10, 3926691861, 3),
    (8, 10, 3926691861, 7), (8, 10, 4227817953, 2), (8, 10, 4227817953, 6),
    (8, 10, 567980030, 0), (8, 10, 567980030, 4), (8, 10, 567980030, 8),
]


def test_winnow_grams_np_edge_set(spark):
    # w=1 keeps every gram (no window selection) so the GRAM BUILD
    # itself is compared 1:1; the empty-token filter and the <k-token
    # drop are the conventions under test
    a = _rows(_winnow_select(_edge_docs(spark), w=1))
    assert a == EDGE_WINNOW
    ids = {r[0] for r in a}
    assert 1 not in ids and 7 not in ids      # <k tokens → no grams
    assert 2 not in ids                       # empties dropped → 2 toks < k
    assert 0 in ids and 8 in ids


@pytest.mark.parametrize("sf", SCALES)
def test_cms_partials_np_value_identical(spark, sf):
    docs = load_table(spark, sf, "documents")
    got = digest(cms_sketch(docs).collect())
    assert got == EXPECTED[f"cms/{_scale(sf)}"]


#: cms_sketch(_edge_docs) as the expression form emitted it
EDGE_CMS = [
    (0, 103, 1), (0, 113, 2), (0, 158, 3), (0, 17, 3), (0, 200, 2),
    (0, 229, 3), (0, 234, 4), (0, 254, 4), (0, 39, 1), (0, 8, 3), (0, 84, 4),
    (1, 133, 3), (1, 142, 2), (1, 17, 4), (1, 177, 3), (1, 184, 1),
    (1, 219, 8), (1, 236, 2), (1, 52, 1), (1, 69, 3), (1, 98, 3), (2, 103, 2),
    (2, 12, 3), (2, 121, 6), (2, 133, 4), (2, 180, 3), (2, 34, 2), (2, 41, 1),
    (2, 45, 4), (2, 62, 4), (2, 95, 1), (3, 100, 4), (3, 124, 7), (3, 130, 1),
    (3, 138, 2), (3, 16, 4), (3, 192, 3), (3, 202, 2), (3, 223, 1), (3, 25, 3),
    (3, 84, 3),
]


def test_cms_partials_np_edge_set(spark):
    a = _rows(cms_sketch(_edge_docs(spark)))
    assert a == EDGE_CMS
    # total mass = d × token occurrences (null drops, empties count)
    n_toks = sum(len(t.split(" ")) for _, t in
                 [(0, "a b a b a"), (1, "x"), (2, "a  b"),
                  (4, "héllo wörld héllo wörld"), (5, " lead"),
                  (6, "trail "), (7, ""), (8, "w x y z w x y z w x y z")])
    assert sum(r[2] for r in a) == 4 * n_toks


@pytest.mark.parametrize("sf", SCALES)
@pytest.mark.parametrize("wpp", [3, 16])
def test_paragraphs_np_value_identical(spark, sf, wpp):
    docs = load_table(spark, sf, "documents")
    got = digest(paragraphs(docs, wpp).collect())
    assert got == EXPECTED[f"para/{_scale(sf)}/{wpp}"]


#: paragraphs(_edge_docs, 4) as the expression form emitted it
EDGE_PARAGRAPHS = [
    (0, 0, "a b a b"), (0, 1, "a"), (1, 0, "x"), (2, 0, "a  b"),
    (4, 0, "héllo wörld héllo wörld"), (5, 0, " lead"), (6, 0, "trail "),
    (7, 0, ""), (8, 0, "w x y z"), (8, 1, "w x y z"), (8, 2, "w x y z"),
]


def test_paragraphs_np_edge_set(spark):
    a = _rows(paragraphs(_edge_docs(spark), 4))
    assert a == EDGE_PARAGRAPHS
    got = {}
    for did, idx, t in sorted(a):
        got.setdefault(did, []).append(t)
    assert got[1] == ["x"]               # short doc → one short para
    assert 3 not in got                  # null text → no rows
    assert got[7] == [""]                # empty text → one "" para
    assert got[8] == ["w x y z"] * 3     # exact multiple → full paras
    assert got[0] == ["a b a b", "a"]    # remainder tail para


@pytest.mark.parametrize("sf", SCALES)
def test_bpe_apply_np_value_identical(spark, sf):
    docs = load_table(spark, sf, "documents")
    # a hand model exercising rank order, the odd-self-run straggler
    # (aaa → aa a), and merges that only fire after earlier merges
    model = [("e", "r"), ("a", "a"), ("aa", "a"), ("t", "h"),
             ("th", "er")]
    got = digest(bpe_apply(docs, model).collect())
    assert got == EXPECTED[f"bpe/{_scale(sf)}"]


#: bpe_apply(_edge_docs, model) as the expression form emitted it
EDGE_BPE = [
    (0, 5, 5), (1, 1, 1), (2, 2, 2), (4, 4, 20), (5, 1, 4), (6, 1, 5),
    (8, 12, 12),
]


def test_bpe_apply_np_edge_set(spark):
    model = [("a", "b"), ("ab", "a"), ("w", "x"), ("y", "z"),
             ("wx", "yz")]
    a = _rows(bpe_apply(_edge_docs(spark), model))
    assert a == EDGE_BPE
    ids = {r[0] for r in a}
    assert 3 not in ids and 7 not in ids  # null/empty text → no words


def test_batch_kernels_defaults_and_map_only(spark):
    # the kernels are Arrow passes (MapInPandas in the plan), and the
    # shingle/simhash/bpe builds stay exchange-free — the map-only
    # property the kernels were built for (the winnow gram build's
    # exchange budget is owned by the downstream window, pinned via
    # the full _winnow_select plan in test_plans; the Count-Min
    # partials feed one bounded ≤d·w-row aggregate)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sh_plan = formatted_plan(word_shingles(docs))
    assert "MapInPandas" in sh_plan and "Exchange" not in sh_plan
    sim_plan = formatted_plan(simhash(docs))
    assert "MapInPandas" in sim_plan and "Exchange" not in sim_plan
    assert "MapInPandas" in formatted_plan(cms_sketch(docs))
    assert "MapInPandas" in formatted_plan(paragraphs(docs))
    bpe_plan = formatted_plan(bpe_apply(docs, [("a", "b")]))
    assert "MapInPandas" in bpe_plan and "Exchange" not in bpe_plan
