"""Codec round-trip + property tests (SURVEY.md §5.2.1, FIXTURES.md §4)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from groonga_spark import codec


@pytest.mark.parametrize("size", [0, 1, 2, 127, 128, 129, 100_000])
@pytest.mark.parametrize("gaps", ["one", "uniform", "zipf", "huge"])
def test_roundtrip_fixture_grid(size, gaps):
    rng = np.random.default_rng(42)
    if gaps == "one":
        ids = np.arange(size, dtype=np.int64)
    elif gaps == "uniform":
        ids = np.cumsum(rng.integers(1, 1000, size=size))
    elif gaps == "zipf":
        ids = np.cumsum(rng.zipf(1.3, size=size).astype(np.int64)) if size else np.empty(0, np.int64)
    else:
        ids = np.cumsum(rng.integers(1, 2**32, size=size))
    ids = ids.astype(np.int64)
    enc = codec.vb_encode(codec.delta_encode(ids))
    dec = codec.delta_decode(codec.vb_decode(enc))
    assert np.array_equal(dec, ids)


def test_analytic_byte_length():
    """Varbyte length of v is ceil(bitlen(v)/7) (1 for v=0)."""
    vals = np.array([0, 1, 127, 128, 2**14 - 1, 2**14, 2**21 - 1, 2**21, 2**63 - 1], dtype=np.uint64)
    enc = codec.vb_encode(vals)
    expect = sum(max(1, -(-int(v).bit_length() // 7)) for v in vals)
    assert len(enc) == expect
    assert np.array_equal(codec.vb_decode(enc), vals)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
def test_vb_roundtrip_property(values):
    v = np.array(values, dtype=np.uint64)
    assert np.array_equal(codec.vb_decode(codec.vb_encode(v)), v)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=10_000), min_size=0, max_size=20),
        min_size=0,
        max_size=30,
    )
)
def test_positions_roundtrip_property(doc_pos_lists):
    doc_pos_lists = [sorted(set(p)) for p in doc_pos_lists]
    counts = np.array([len(p) for p in doc_pos_lists], dtype=np.int64)
    flat = np.array([x for p in doc_pos_lists for x in p], dtype=np.int64)
    buf = codec.encode_positions(counts, flat)
    c2, f2 = codec.decode_positions(buf, len(counts))
    assert np.array_equal(c2, counts)
    assert np.array_equal(f2, flat)


def test_slice_blocks():
    assert codec.slice_blocks(0) == []
    assert codec.slice_blocks(1) == [(0, 1)]
    assert codec.slice_blocks(128) == [(0, 128)]
    assert codec.slice_blocks(129) == [(0, 128), (128, 129)]
    assert codec.slice_blocks(300, 128) == [(0, 128), (128, 256), (256, 300)]


@given(
    st.lists(st.integers(min_value=0, max_value=127), min_size=1, max_size=200)
)
def test_vb_single_byte_fast_path_property(vals):
    """All-small values take the bytes-are-values fast path; round trip
    must equal the general path's result."""
    arr = np.array(vals, dtype=np.uint64)
    buf = codec.vb_encode(arr)
    assert len(buf) == len(arr)  # single byte each → fast path eligible
    assert np.array_equal(codec.vb_decode(buf), arr)


def test_minhash_lsh_rejects_indivisible_bands():
    import pytest as _pytest

    from groonga_spark.dedup import minhash_lsh_pairs

    with _pytest.raises(ValueError, match="divide evenly"):
        minhash_lsh_pairs(None, num_hashes=10, bands=4)
