"""Property tests for the delta+varint posting codec (pure numpy, no Spark)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from macrobase_spark.index.codec import (
    delta_varint_decode,
    delta_varint_encode,
    varint_decode,
    varint_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=200))
@settings(max_examples=50, deadline=None)
def test_varint_roundtrip(values):
    v = np.array(values, dtype=np.uint64)
    dec, off = varint_decode(varint_encode(v), count=len(v))
    assert off == len(varint_encode(v))
    np.testing.assert_array_equal(dec, v)


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300, unique=True),
    st.data(),
)
@settings(max_examples=50, deadline=None)
def test_delta_varint_roundtrip(ids, data):
    ids = np.array(sorted(ids), dtype=np.uint64)
    tfs = np.array(data.draw(st.lists(st.integers(1, 1000), min_size=len(ids), max_size=len(ids))),
                   dtype=np.uint64)
    blob = delta_varint_encode(ids, tfs)
    rids, rtfs = delta_varint_decode(blob)
    np.testing.assert_array_equal(rids, ids)
    np.testing.assert_array_equal(rtfs, tfs)


def test_empty_posting():
    blob = delta_varint_encode(np.array([], dtype=np.uint64), np.array([], dtype=np.uint64))
    ids, tfs = delta_varint_decode(blob)
    assert len(ids) == 0 and len(tfs) == 0


def test_compression_ratio_on_dense_ids():
    ids = np.arange(0, 100_000, 3, dtype=np.uint64)
    tfs = np.ones_like(ids)
    blob = delta_varint_encode(ids, tfs)
    assert len(blob) < len(ids) * 3  # ~2 bytes/posting vs 16 raw


def test_encode_run_batch_matches_single():
    from macrobase_spark.index.codec import encode_run_batch, varint_encode

    rng = np.random.default_rng(2)
    runs = []
    flat_ids, flat_tfs, flat_dls, starts, ends = [], [], [], [], []
    pos = 0
    for _ in range(50):
        n = int(rng.integers(1, 40))
        ids = np.sort(rng.choice(10**7, size=n, replace=False).astype(np.uint64))
        tfs = rng.integers(1, 100, n).astype(np.uint64)
        dls = rng.integers(1, 500, n).astype(np.uint64)
        runs.append((ids, tfs, dls))
        flat_ids.append(ids); flat_tfs.append(tfs); flat_dls.append(dls)
        starts.append(pos); pos += n; ends.append(pos)
    blobs = encode_run_batch(
        np.concatenate(flat_ids), np.concatenate(flat_tfs),
        np.concatenate(flat_dls), np.array(starts), np.array(ends))
    for blob, (ids, tfs, dls) in zip(blobs, runs):
        want = delta_varint_encode(ids, tfs) + varint_encode(dls)
        assert blob == want
