"""Property-based invariants (hypothesis) over the pure kernels —
SURVEY.md §5.2.3. No SparkSession needed, so these run in milliseconds
and explore far more of the input space than example tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from scalable_blocking_for_privacy_preserving_record_linkage_spark.config import PPRLConfig
from scalable_blocking_for_privacy_preserving_record_linkage_spark.functions import bloom
from scalable_blocking_for_privacy_preserving_record_linkage_spark.functions.strings import (
    levenshtein_batch,
)
from window_kernel import window_pairs_block

CFG = PPRLConfig()

words_st = st.text(
    alphabet=st.characters(min_codepoint=65, max_codepoint=90), min_size=0, max_size=12
)


def _popcount(words: np.ndarray) -> int:
    return int(np.unpackbits(words.view(np.uint8)).sum())


def _dice(a: str, b: str) -> float:
    fa = np.array(bloom.encode_value(a, CFG), dtype=np.int64).astype(np.uint64)
    fb = np.array(bloom.encode_value(b, CFG), dtype=np.int64).astype(np.uint64)
    inter = _popcount(fa & fb)
    ca, cb = _popcount(fa), _popcount(fb)
    return 2.0 * inter / (ca + cb) if ca + cb else 0.0


@given(words_st, words_st)
@settings(max_examples=200, deadline=None)
def test_dice_symmetric_and_bounded(a, b):
    d_ab, d_ba = _dice(a, b), _dice(b, a)
    assert d_ab == d_ba
    assert 0.0 <= d_ab <= 1.0


@given(words_st)
@settings(max_examples=200, deadline=None)
def test_identical_strings_dice_one(a):
    # identical non-trivial strings always match at any threshold <= 1
    if len(a) > 1:
        assert _dice(a, a) == 1.0
    else:
        assert _dice(a, a) == 0.0  # empty-filter rule (BloomAlgorithms.java:31)


@given(words_st, words_st)
@settings(max_examples=200, deadline=None)
def test_levenshtein_symmetry_identity(a, b):
    arr_ab = levenshtein_batch(np.array([a], dtype=object), np.array([b], dtype=object))
    arr_ba = levenshtein_batch(np.array([b], dtype=object), np.array([a], dtype=object))
    assert arr_ab[0] == arr_ba[0]
    assert (arr_ab[0] == 0) == (a == b)
    assert arr_ab[0] <= max(len(a), len(b))


elements_st = st.lists(
    st.tuples(st.sampled_from(["A", "B"]), st.integers(0, 9)),
    min_size=0,
    max_size=25,
)


def _pairs(elems, w):
    pdf = pd.DataFrame(
        {
            "blockID": "b",
            "recordID": [f"r{i}" for i in range(len(elems))],
            "party": [p for p, _ in elems],
            "score": [s for _, s in elems],
        }
    )
    out = window_pairs_block(pdf, w)
    return set(zip(out["record1"], out["record2"]))


@given(elements_st, st.integers(2, 8))
@settings(max_examples=150, deadline=None)
def test_window_monotone_in_w(elems, w):
    # the candidate set grows monotonically with the window size
    assert _pairs(elems, w) <= _pairs(elems, w + 1)


@given(elements_st, st.integers(2, 8), st.randoms())
@settings(max_examples=150, deadline=None)
def test_window_invariant_under_row_order(elems, w, rnd):
    # input row order never changes the pair set (the (score, party,
    # recordID) total order decides) — NOT true of the reference, which
    # inherits shuffle order (SURVEY.md §2.6)
    base = _pairs(elems, w)
    idx = list(range(len(elems)))
    rnd.shuffle(idx)
    pdf = pd.DataFrame(
        {
            "blockID": "b",
            "recordID": [f"r{i}" for i in idx],
            "party": [elems[i][0] for i in idx],
            "score": [elems[i][1] for i in idx],
        }
    )
    out = window_pairs_block(pdf, w)
    assert set(zip(out["record1"], out["record2"])) == base


@given(
    st.lists(
        st.text(min_size=0, max_size=70).filter(lambda t: "\x00" not in t),
        min_size=1,
        max_size=60,
        unique=True,
    )
)
@settings(max_examples=60, deadline=None)
def test_vectorized_md5_prefix_matches_hashlib(tokens):
    """The batch-vectorized single-block MD5 (simhash fingerprints) is
    BIT-IDENTICAL to hashlib for arbitrary unicode tokens, including the
    55/56-byte single-block boundary and the >55-byte hashlib fallback."""
    import hashlib

    from scalable_blocking_for_privacy_preserving_record_linkage_spark.functions.hashing import (
        _md5_prefix64_tokens,
    )

    uniq = np.unique(np.asarray(tokens, dtype=object))
    got = _md5_prefix64_tokens(uniq)
    want = np.array(
        [
            int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[:8], "big")
            for t in uniq
        ],
        dtype=np.uint64,
    )
    assert (got == want).all()
