"""Property cross-check for the pigeonhole-banded near-dup generators:
the banded pair set must equal the brute-force all-pairs-in-block set for
ANY signatures and any declared threshold — including 64-bit signatures
with the sign bit set (the live q159/q160 dHash/fingerprint domain, where
a band-extraction bug via arithmetic shift would silently drop pairs).
Each example is a batch (one Spark job per example)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from job_etl_spark.ml.dedup import simhash_block_pairs, simhash_wide_block_pairs

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _brute(rows, max_hamming):
    out = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            (ia, sa), (ib, sb) = rows[i], rows[j]
            h = bin((sa ^ sb) & ((1 << 64) - 1)).count("1")
            if h <= max_hamming:
                a, b = sorted((ia, ib))
                out.add((a, b, h))
    return out


@given(
    sigs=st.lists(
        st.integers(min_value=0, max_value=(1 << 60) - 1), min_size=2, max_size=24
    ),
    max_hamming=st.sampled_from([2, 5, 8]),
)
@settings(**_SETTINGS)
def test_banded_equals_bruteforce_60bit(spark, sigs, max_hamming):
    rows = [(i, s) for i, s in enumerate(sigs)]
    df = spark.createDataFrame(
        [(i, "b", s) for i, s in rows], "doc_id long, blk string, simhash long"
    )
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_block_pairs(
            df, ("blk",), max_hamming=max_hamming, bits=60
        ).collect()
    }
    assert got == _brute(rows, max_hamming)


@given(
    sigs=st.lists(
        st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
        min_size=2,
        max_size=24,
    ),
    max_hamming=st.sampled_from([2, 10]),
)
@settings(**_SETTINGS)
def test_banded_equals_bruteforce_64bit_signed(spark, sigs, max_hamming):
    rows = [(i, s) for i, s in enumerate(sigs)]
    df = spark.createDataFrame(
        [(i, "b", s) for i, s in rows], "doc_id long, blk string, simhash long"
    )
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_block_pairs(
            df, ("blk",), max_hamming=max_hamming, bits=64
        ).collect()
    }
    assert got == _brute(rows, max_hamming)


def _brute_wide(rows, max_hamming):
    out = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            (ia, ha, la), (ib, hb, lb) = rows[i], rows[j]
            d = bin(ha ^ hb).count("1") + bin(la ^ lb).count("1")
            if d <= max_hamming:
                a, b = sorted((ia, ib))
                out.add((a, b, d))
    return out


@given(
    sigs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 60) - 1),
            st.integers(min_value=0, max_value=(1 << 60) - 1),
        ),
        min_size=2,
        max_size=20,
    ),
    # 0 and 1 pin the degenerate band splits: nb=1 → all bands on the hi
    # word (was a ZeroDivisionError), nb=2 → one band per word
    max_hamming=st.sampled_from([0, 1, 4, 16]),
)
@settings(**_SETTINGS)
def test_wide_banded_equals_bruteforce(spark, sigs, max_hamming):
    rows = [(i, h, l) for i, (h, l) in enumerate(sigs)]
    df = spark.createDataFrame(
        [(i, "b", h, l) for i, h, l in rows],
        "doc_id long, blk string, sim_hi long, sim_lo long",
    )
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_wide_block_pairs(
            df, ("blk",), max_hamming=max_hamming
        ).collect()
    }
    assert got == _brute_wide(rows, max_hamming)


def test_banded_near_threshold_pairs_exact(spark):
    """Deterministic boundary case: signatures exactly AT and one-past the
    threshold, spread so differing bits span band boundaries."""
    base = 0
    at = (1 << 0) | (1 << 7) | (1 << 13) | (1 << 20) | (1 << 27) | (1 << 34) | (1 << 41) | (1 << 59)
    past = at | (1 << 48)  # 9 differing bits from base
    df = spark.createDataFrame(
        [(1, "b", base), (2, "b", at), (3, "b", past)],
        "doc_id long, blk string, simhash long",
    )
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_block_pairs(df, ("blk",), max_hamming=8, bits=60).collect()
    }
    assert got == {(1, 2, 8), (2, 3, 1)}  # (1,3) is 9 bits apart — excluded
