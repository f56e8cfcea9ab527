"""Independent semantic validation of the query rewrites (pure Python,
no Spark): on a fixed-size corpus, the chunked rewrites must coincide
with plain string predicates on the original values —

* term query (full-length value)         == equality (+ any chunk-aligned
  prefix still matches: the documented prefix-match side effect)
* prefix query                           == startswith
* wildcard (no '*')                      == per-char ?-glob match
* range with full-length bounds          == lexicographic BETWEEN

These identities are *not* how the engine computes anything (it goes
through the C1-C8 boolean trees over chunk terms), so agreement is an
independent check of the whole compile+evaluate semantics beyond the
reference's own fixtures.
"""

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from elasticsearch_analysis_hashsplitter_spark.config import (
    CL4_LOWER_FIXED16,
    HashSplitterConfig,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc

from .oracle import OracleIndex

HEX = "0123456789abcdef"
CFG = CL4_LOWER_FIXED16
CFG3 = HashSplitterConfig(
    chunk_length=3, prefixes="abcdefghijklmnopqrstuvwxyz", size=12
)


@st.composite
def corpus(draw, size=16, n_min=5, n_max=25):
    # clustered values so prefixes/ranges produce non-trivial splits
    seeds = draw(
        st.lists(
            st.text(alphabet=HEX, min_size=size, max_size=size),
            min_size=2,
            max_size=4,
        )
    )
    n = draw(st.integers(n_min, n_max))
    vals = []
    for i in range(n):
        base = seeds[i % len(seeds)]
        cut = draw(st.integers(0, size))
        tail = draw(st.text(alphabet=HEX, min_size=size - cut, max_size=size - cut))
        vals.append(base[:cut] + tail)
    return vals


@given(corpus(), st.data())
@settings(max_examples=120, deadline=None)
def test_term_equality_identity(vals, data):
    idx = OracleIndex(dict(enumerate(vals)), CFG)
    probe = data.draw(st.sampled_from(vals + ["f" * 16]))
    got = idx.docs(qc.field_query(probe, CFG, scored=False))
    exp = {i for i, v in enumerate(vals) if v == probe}
    assert got == exp


@given(corpus(), st.data())
@settings(max_examples=120, deadline=None)
def test_prefix_identity(vals, data):
    idx = OracleIndex(dict(enumerate(vals)), CFG)
    src = data.draw(st.sampled_from(vals))
    cut = data.draw(st.integers(1, 16))
    probe = src[:cut]
    got = idx.docs(qc.prefix_query(probe, CFG))
    exp = {i for i, v in enumerate(vals) if v.startswith(probe)}
    assert got == exp, (vals, probe)


@given(
    vals=corpus(),
    pick=st.integers(0, 24),
    mask=st.lists(st.booleans(), min_size=16, max_size=16),
)
# the all-wildcard probe runs on every run, not only once a random draw
# has found it and the example database replays it
@example(
    vals=["0123456789abcdef", "0123456789abcdee", "fedcba9876543210"],
    pick=0,
    mask=[True] * 16,
)
@settings(max_examples=120, deadline=None)
def test_wildcard_mask_identity(vals, pick, mask):
    idx = OracleIndex(dict(enumerate(vals)), CFG)
    src = vals[pick % len(vals)]
    probe = "".join("?" if m else c for c, m in zip(src, mask))
    got = idx.docs(qc.wildcard_query(probe, CFG))
    # A probe without one literal character yields no chunk clause
    # (search_chunks drops all-'?' chunks), and the reference's C7
    # BooleanQuery with zero MUST clauses matches nothing
    # (HashSplitterFieldMapper.java:748-770), so it matches no doc.
    if set(probe) == {"?"}:
        exp = set()
    else:
        exp = {
            i
            for i, v in enumerate(vals)
            if all(p == "?" or p == c for p, c in zip(probe, v))
        }
    assert got == exp, (vals, probe)


@given(corpus(), st.data())
@settings(max_examples=150, deadline=None)
def test_range_full_bounds_identity(vals, data):
    idx = OracleIndex(dict(enumerate(vals)), CFG)
    a = data.draw(st.sampled_from(vals))
    b = data.draw(st.sampled_from(vals))
    lo, hi = (a, b) if a <= b else (b, a)
    ilo = data.draw(st.booleans())
    ihi = data.draw(st.booleans())
    got = idx.docs(qc.range_filter(lo, hi, ilo, ihi, CFG))

    def keep(v):
        if ilo:
            if v < lo:
                return False
        elif v <= lo:
            return False
        if ihi:
            if v > hi:
                return False
        elif v >= hi:
            return False
        return True

    exp = {i for i, v in enumerate(vals) if keep(v)}
    assert got == exp, (vals, lo, hi, ilo, ihi)


def test_range_last_chunk_divergence_fixed():
    """Divergence note #3: bounds differing only in the final chunk used
    to widen the range in the reference; the engine emits a single direct
    range over that chunk — exact semantics."""
    vals = ["0000000000000000", "0000000000000010", "0000000000000020",
            "0000000000000011"]
    idx = OracleIndex(dict(enumerate(vals)), CFG)
    lo, hi = "0000000000000000", "0000000000000020"
    assert idx.docs(qc.range_filter(lo, hi, False, False, CFG)) == {1, 3}
    assert idx.docs(qc.range_filter(lo, hi, True, True, CFG)) == {0, 1, 2, 3}
    assert idx.docs(qc.range_filter(lo, hi, True, False, CFG)) == {0, 1, 3}
    # inclusive overshoot case: value above upper sharing the prefix
    assert idx.docs(
        qc.range_filter(lo, "0000000000000010", True, True, CFG)
    ) == {0, 1}


@given(corpus(size=12), st.data())
@settings(max_examples=100, deadline=None)
def test_range_identity_chunk3(vals, data):
    # chunk_length 3, size 12 — a different chunk geometry than the
    # reference fixtures; inclusive bounds (exact in all shapes)
    idx = OracleIndex(dict(enumerate(vals)), CFG3)
    a = data.draw(st.sampled_from(vals))
    b = data.draw(st.sampled_from(vals))
    lo, hi = (a, b) if a <= b else (b, a)
    got = idx.docs(qc.range_filter(lo, hi, True, True, CFG3))
    exp = {i for i, v in enumerate(vals) if lo <= v <= hi}
    assert got == exp, (vals, lo, hi)
