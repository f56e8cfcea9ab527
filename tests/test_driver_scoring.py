"""The two execution sites of ``SearchEngine.bm25_scores`` answer alike.

A query whose distinct terms hold at most ``_DRIVER_SCORE_CUTOFF``
postings is scored on the driver (one JVM-only scan + numpy); a larger
one runs the distributed ``mapInPandas`` kernel and a ``groupBy``
shuffle. Every query shape below runs through both sites on ONE engine:
ranks must be identical and scores equal to ``rel=1e-12`` (the sites sum
a doc's contributions in different orders, so the last ulp may differ).
The path actually taken is read from the executed plan, never timed.
"""

import numpy as np
import pytest

from elasticsearch_analysis_hashsplitter_spark.config import HashSplitterConfig
from elasticsearch_analysis_hashsplitter_spark.operators import search as search_mod
from elasticsearch_analysis_hashsplitter_spark.operators.search import (
    SearchEngine,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc

from .oracle import OracleIndex

CFG = HashSplitterConfig(
    chunk_length=4, token_mode="tokens", apply_input_cap=False
)

_RNG = np.random.RandomState(7)
_COMMON = ["data", "code", "line", "file"]


def _corpus():
    docs = {}
    for i in range(140):
        toks = list(_RNG.choice(_COMMON, size=_RNG.randint(3, 25)))
        if i % 13 == 0:
            toks.append("zephyr")
        if i % 7 == 0:
            toks.append("quixotic")
        docs[i] = " ".join(toks)
    return docs


DOCS = _corpus()


@pytest.fixture(scope="module")
def engines(spark):
    df = spark.createDataFrame(
        list(DOCS.items()), "doc_id long, content string"
    )
    eng = SearchEngine.from_corpus(df, CFG, num_partitions=4, block_size=8)
    # same index frames, own tombstone set
    tomb = SearchEngine(
        spark, eng.postings, eng.docstats, eng.stats, eng.cfg,
        lexicon=eng.lexicon,
    )
    tomb.delete_docs([0, 7, 13, 14, 26, 39, 52])
    return eng, tomb


def _terms(value):
    return list(qc.field_query(value, CFG).terms)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _both(monkeypatch, run):
    """run() under the driver site, then under the distributed site."""
    monkeypatch.setattr(search_mod, "_DRIVER_SCORE_CUTOFF", 1 << 62)
    driver = _rows(run())
    monkeypatch.setattr(search_mod, "_DRIVER_SCORE_CUTOFF", -1)
    distributed = _rows(run())
    return driver, distributed


def _assert_same(driver, distributed):
    assert driver, "query shape must produce hits to be a useful check"
    assert [d for d, _ in driver] == [d for d, _ in distributed]
    for (_, a), (_, b) in zip(driver, distributed):
        assert a == pytest.approx(b, rel=1e-12)


_QUERIES = {
    "conjunctive": lambda e: e.bm25_topk(_terms("zephyr data"), k=8),
    "disjunctive": lambda e: e.bm25_topk(
        _terms("zephyr quixotic line"), k=15, conjunctive=False
    ),
    "min_should_match": lambda e: e.bm25_topk(
        _terms("zephyr quixotic line"), k=15, conjunctive=False,
        min_should_match=2,
    ),
    "boost": lambda e: e.bm25_topk(
        _terms("quixotic code"), k=10, boost=2.5
    ),
    "anchor": lambda e: e.bm25_topk(
        _terms("zephyr data code"), k=10, conjunctive=False,
        _anchor=_terms("zephyr")[0],
    ),
    "global_stats": lambda e: e.bm25_topk(
        _terms("quixotic data"), k=10, conjunctive=False,
        global_stats={
            "n_docs": 500,
            "avgdl": 11.5,
            "dfs": {t: 40 + i for i, t in enumerate(_terms("quixotic data"))},
        },
    ),
    "must_not": lambda e: e.bm25_topk(
        _terms("quixotic line"), k=15, conjunctive=False,
        must_not=qc.field_query("zephyr", CFG, scored=False),
    ),
    "filter": lambda e: e.bm25_topk(
        _terms("data file"), k=15, conjunctive=False,
        filter=qc.field_query("quixotic", CFG, scored=False),
    ),
}


@pytest.mark.parametrize("tombstoned", [False, True])
@pytest.mark.parametrize("shape", sorted(_QUERIES))
def test_sites_agree(engines, monkeypatch, shape, tombstoned):
    eng = engines[1] if tombstoned else engines[0]
    driver, distributed = _both(monkeypatch, lambda: _QUERIES[shape](eng))
    _assert_same(driver, distributed)
    if tombstoned:
        assert not {d for d, _ in driver} & set(eng._deleted.tolist())


@pytest.mark.parametrize("tombstoned", [False, True])
def test_sites_agree_on_search_after_pages(engines, monkeypatch, tombstoned):
    """A search_after walk is bit-stable within one site, and both sites
    walk the same pages."""
    eng = engines[1] if tombstoned else engines[0]
    terms = _terms("data line")

    def walk():
        pages, after = [], None
        while True:
            page = _rows(eng.bm25_topk(terms, k=9, conjunctive=False,
                                       after=after))
            if not page:
                return pages
            pages.append(page)
            after = (page[-1][1], page[-1][0])

    monkeypatch.setattr(search_mod, "_DRIVER_SCORE_CUTOFF", 1 << 62)
    driver = walk()
    assert walk() == driver  # repeated calls: identical bits
    monkeypatch.setattr(search_mod, "_DRIVER_SCORE_CUTOFF", -1)
    distributed = walk()
    assert len(driver) == len(distributed) > 2
    for a, b in zip(driver, distributed):
        _assert_same(a, b)


def test_driver_site_matches_oracle(engines, monkeypatch):
    monkeypatch.setattr(search_mod, "_DRIVER_SCORE_CUTOFF", 1 << 62)
    orc = OracleIndex(DOCS, CFG)
    for value, conj in [("zephyr data", True), ("quixotic line", False)]:
        terms = _terms(value)
        got = _rows(engines[0].bm25_topk(terms, k=10, conjunctive=conj))
        want = orc.bm25_topk(terms, k=10, conjunctive=conj)
        assert [d for d, _ in got] == [d for d, _ in want]
        for (_, a), (_, b) in zip(got, want):
            assert a == pytest.approx(b, rel=1e-12)


def _is_driver(plan: str) -> bool:
    return "MapInPandas" not in plan and "Exchange" not in plan


def test_cutoff_boundary_picks_the_site_by_total_postings(
    engines, monkeypatch
):
    """sum(df) == cutoff stays on the driver; one posting more runs the
    distributed kernel with its shuffle."""
    eng = engines[0]
    terms = _terms("zephyr data")
    sum_df = sum(r["df"] for r in eng._term_stats(terms))
    monkeypatch.setattr(search_mod, "_DRIVER_SCORE_CUTOFF", sum_df)
    driver_plan = _plan(eng.bm25_scores(terms))
    assert _is_driver(driver_plan), driver_plan
    assert _is_driver(_plan(eng.search("zephyr data", k=5)))
    monkeypatch.setattr(search_mod, "_DRIVER_SCORE_CUTOFF", sum_df - 1)
    dist_plan = _plan(eng.bm25_scores(terms))
    assert "MapInPandas" in dist_plan and "Exchange" in dist_plan, dist_plan


def test_distributed_scoring_fixture_forces_the_kernel(
    engines, distributed_scoring
):
    """The fixture the prune-machinery suites use really reaches the
    mapInPandas kernel, even for a two-posting-list toy query."""
    plan = _plan(engines[0].bm25_scores(_terms("zephyr data")))
    assert "MapInPandas" in plan and "Exchange" in plan, plan
