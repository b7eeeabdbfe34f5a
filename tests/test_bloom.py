"""The bloom sidecar format (`lake/bloom.py`) without Spark: bit layout,
sizing, the unreadable-sidecar fallback and the no-false-negative
property of the set/test pair every build and probe shares."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from image_deid_etl_spark.lake import bloom

INT64 = st.integers(-(1 << 63), (1 << 63) - 1)


@settings(max_examples=300, deadline=None)
@given(st.integers(0, 1 << 20), st.lists(st.tuples(INT64, INT64), max_size=300))
def test_every_set_hash_pair_may_be_contained(max_rows, pairs):
    m = bloom.size_bits(max_rows)
    assert m & (m - 1) == 0 and bloom._BLOOM_MIN_BITS <= m <= bloom._BLOOM_MAX_BITS
    assert m >= min(10 * max_rows, bloom._BLOOM_MAX_BITS)
    h1 = np.array([a for a, _ in pairs], dtype=np.int64)
    h2 = np.array([b for _, b in pairs], dtype=np.int64)
    bits = bloom.empty(m)
    bloom.set_bits(bits, m, h1)
    bloom.set_bits(bits, m, h2)
    assert bloom.may_contain(bits, m, h1, h2).all()
    # the driver-side caller passes plain Python ints
    assert bloom.may_contain(bits, m, list(map(int, h1)), list(map(int, h2))).all()


def test_bit_layout_and_unreadable_sidecars(tmp_path):
    m = bloom.size_bits(1)
    bits = bloom.empty(m)
    # bit h mod m (non-negative) lives at byte i >> 3, bit i & 7
    bloom.set_bits(bits, m, np.array([m + 11, -1], dtype=np.int64))
    assert len(bits) == m // 8 and bits[1] == 1 << 3 and bits[-1] == 1 << 7
    assert int(np.count_nonzero(bits)) == 2
    assert bloom.may_contain(bits, m, [11], [-1]).tolist() == [True]
    assert bloom.may_contain(bits, m, [11], [12]).tolist() == [False]

    path = str(tmp_path / "b.bin")
    bloom.save(path, bits)
    assert bytes(bloom.open_sidecar(path, m)) == bits.tobytes()
    assert bloom.open_sidecar(path, 2 * m) is None  # wrong length
    assert bloom.open_sidecar(str(tmp_path / "missing.bin"), m) is None
    with open(path, "wb") as fh:
        fh.write(bits.tobytes()[:-1])
    assert bloom.open_sidecar(path, m) is None  # truncated
    open(path, "wb").close()
    assert bloom.open_sidecar(path, m) is None  # 0-byte
