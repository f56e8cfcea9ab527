"""Block-range coarsening: `_collect_block_ranges` must ALWAYS return
<= cap covering intervals (never abandon the prune past a block-count
cap — at 100x scale a hot term has thousands of block rows and that is
exactly where WAND-style skipping matters), and queries driven through
artificially tiny caps must stay rank- and score-identical to the
unpruned oracle (coarser intervals prune less, never wrong)."""

import numpy as np
import pytest

from elasticsearch_analysis_hashsplitter_spark.config import HashSplitterConfig
from elasticsearch_analysis_hashsplitter_spark.operators import search as search_mod
from elasticsearch_analysis_hashsplitter_spark.operators.search import (
    SearchEngine,
    _collect_block_ranges,
)

from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc

from .oracle import OracleIndex

CFG = HashSplitterConfig(
    chunk_length=4, token_mode="tokens", apply_input_cap=False
)

RNG = np.random.RandomState(7)
COMMON = ["data", "code", "line", "file"]


def _corpus():
    docs = {}
    for i in range(150):
        toks = list(RNG.choice(COMMON, size=RNG.randint(4, 20)))
        if i % 11 == 0:
            toks.append("zephyr")
        docs[i] = " ".join(toks)
    return docs


@pytest.fixture(scope="module")
def narrow(spark):
    """block_size=4 so every term spans MANY blocks (dozens >> cap)."""
    docs = _corpus()
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, content string"
    )
    eng = SearchEngine.from_corpus(
        df, CFG, num_partitions=4, block_size=4
    )
    eng.disjunctive_exhaustive_cutoff = 0  # force the pruned path
    return eng, OracleIndex(docs, CFG)


def test_ranges_capped_and_covering(narrow):
    eng, _ = narrow
    from pyspark.sql import functions as F

    term = "Adata"
    blocks = eng.postings.where(F.col("term") == term)
    raw = [
        (r["min_doc"], r["max_doc"])
        for r in blocks.select("min_doc", "max_doc").collect()
    ]
    assert len(raw) > 8, "fixture must produce many blocks per term"
    for cap in (2, 4, 8):
        ivs = _collect_block_ranges(blocks, cap=cap)
        assert 1 <= len(ivs) <= cap
        # covering: every block interval fully inside some returned one
        for lo, hi in raw:
            assert any(
                iv["min_doc"] <= lo and hi <= iv["max_doc"] for iv in ivs
            ), (lo, hi, ivs)
        # merged output is sorted and non-overlapping
        for p, q in zip(ivs, ivs[1:]):
            assert p["max_doc"] + 1 < q["min_doc"]


def test_small_block_count_returns_exact_ranges(narrow):
    """When blocks <= cap, coarsening must be a no-op modulo merging of
    adjacent intervals: each returned interval boundary comes from real
    block min/max values."""
    eng, _ = narrow
    from pyspark.sql import functions as F

    blocks = eng.postings.where(F.col("term") == "Azeph")
    raw = sorted(
        (r["min_doc"], r["max_doc"])
        for r in blocks.select("min_doc", "max_doc").collect()
    )
    ivs = _collect_block_ranges(blocks, cap=256)
    assert len(ivs) <= len(raw)
    lows = {lo for lo, _ in raw}
    highs = {hi for _, hi in raw}
    for iv in ivs:
        assert iv["min_doc"] in lows and iv["max_doc"] in highs


def test_range_collection_plan_is_windowless(spark):
    """r3 advisor: the old global-ntile coarsener shuffled every block
    metadata row of the queried terms into ONE task (empty-partitionBy
    Window). The two-level coarsener must keep range collection fully
    parallel: no Window and no Exchange anywhere in the plan it ADDS on
    top of the scan — each scan task coarsens its own metadata and only
    <= cap intervals per batch reach the driver. (Plain-source frame so
    the assertion sees only the collection's own operators, not cached
    index-build lineage.)"""
    blocks = spark.createDataFrame(
        [(i * 10, i * 10 + 5) for i in range(100)],
        "min_doc long, max_doc long",
    )
    frame = search_mod._block_ranges_frame(blocks, 8)
    plan = frame._sc._jvm.PythonSQLUtils.explainString(
        frame._jdf.queryExecution(), "formatted"
    )
    assert "Window" not in plan
    assert "ntile" not in plan
    assert "Exchange" not in plan
    # end-to-end through the same path: capped + covering
    ivs = search_mod._collect_block_ranges(blocks, cap=8)
    assert 1 <= len(ivs) <= 8
    assert ivs[0]["min_doc"] == 0 and ivs[-1]["max_doc"] == 995


def test_coarsen_intervals_kernel():
    """Pure-kernel properties: merge of overlapping/adjacent runs, cap
    enforcement via largest-gap splits, soundness (covering), and the
    inverted-interval hazard when an early interval covers later ones
    (prefix max > segment max)."""
    cz = search_mod._coarsen_intervals
    A = lambda *xs: np.asarray(xs, dtype=np.int64)

    assert cz(A(), A(), 4) == []
    # adjacent merge: [0,4] + [5,9] -> one interval
    assert cz(A(0, 5), A(4, 9), 8) == [(0, 9)]
    # largest-gap split wins: gaps 2 (10->13) and 100 (20->121)
    out = cz(A(0, 13, 121), A(10, 20, 130), 2)
    assert out == [(0, 20), (121, 130)]
    # one early interval covering everything: no inverted intervals
    out = cz(A(0, 50, 60), A(200, 55, 61), 2)
    assert out == [(0, 200)]
    for lo, hi in out:
        assert lo <= hi
    # cap=1 collapses to the hull
    assert cz(A(5, 1000), A(6, 1001), 1) == [(5, 1001)]


@pytest.mark.parametrize("cap", [1, 2, 5])
@pytest.mark.parametrize(
    "query,k", [("zephyr data", 5), ("data code", 10), ("zephyr", 3)]
)
def test_tiny_caps_stay_exact(
    narrow, monkeypatch, distributed_scoring, cap, query, k
):
    eng, orc = narrow
    eng._block_ranges_cache.clear()  # ranges cached per engine; each
    # parametrized cap must collect its own coarsening
    orig = _collect_block_ranges
    monkeypatch.setattr(
        search_mod,
        "_collect_block_ranges",
        lambda blocks, cap=cap: orig(blocks, cap=cap),
    )
    terms = list(qc.field_query(query, CFG).terms)
    for conj in (True, False):
        want = orc.bm25_topk(terms, k, conjunctive=conj)
        if conj:
            got = eng.bm25_topk(terms, k).collect()
        else:
            got = eng.bm25_topk_disjunctive(terms, k).collect()
        assert [r["doc_id"] for r in got] == [d for d, _ in want]
        for r, (_, s) in zip(got, want):
            assert r["score"] == pytest.approx(s, abs=1e-9)


def test_coarsen_intervals_properties():
    """Property-based: for ANY interval set and cap, the kernel returns
    <= cap sorted non-overlapping covering intervals whose boundaries
    come from the inputs (the soundness contract every prune relies
    on)."""
    from hypothesis import given, settings, strategies as st

    iv = st.tuples(
        st.integers(0, 10_000), st.integers(0, 5_000)
    ).map(lambda t: (t[0], t[0] + t[1]))

    @settings(max_examples=200, deadline=None)
    @given(st.lists(iv, min_size=1, max_size=80), st.integers(1, 12))
    def check(ivs, cap):
        mins = np.asarray([a for a, _ in ivs], dtype=np.int64)
        maxs = np.asarray([b for _, b in ivs], dtype=np.int64)
        out = search_mod._coarsen_intervals(mins, maxs, cap)
        assert 1 <= len(out) <= cap
        for lo, hi in out:
            assert lo <= hi
            assert lo in set(mins.tolist())
            assert hi in set(maxs.tolist())
        for (l1, h1), (l2, h2) in zip(out, out[1:]):
            assert h1 + 1 < l2  # sorted, non-adjacent
        # covering: every input interval inside some output interval
        for a, b in ivs:
            assert any(lo <= a and b <= hi for lo, hi in out), (
                (a, b), out
            )

    check()
