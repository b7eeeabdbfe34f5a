"""The per-file key bloom sidecar format (Iceberg puffin analog): one
raw bitmap of ``m`` bits under ``_blooms/`` per data file, named by the
manifest entry's ``bloom_path`` / ``bloom_m``. A key sets bits ``h mod
m`` of its JVM hash pair (k=2). Built by `write_snapshot_files` (the raw
pair as ``_bh1``/``_bh2``) and `build_blooms`; read by the MERGE probes
and `_lookup_candidates`.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

#: sizing: ~10 bits/key (k=2 hashes → ~3% fp), power-of-two bits,
#: capped at 512 KiB per file — manifests stay small; only candidate
#: files' blooms are read.
_BLOOM_MIN_BITS = 1 << 13
_BLOOM_MAX_BITS = 1 << 22


def hash_pair(key: Column | str = "_key", names=("_h1", "_h2")) -> list[Column]:
    """``xxhash64(key)``, ``xxhash64(key, 1)`` aliased ``names``: every
    side hashes in the JVM (a driver-side reimplementation could drift)."""
    pair = F.xxhash64(key), F.xxhash64(key, F.lit(1))
    return [h.alias(n) for h, n in zip(pair, names)]


def size_bits(max_rows: int) -> int:
    m = _BLOOM_MIN_BITS
    while m < max_rows * 10 and m < _BLOOM_MAX_BITS:
        m <<= 1
    return m


def empty(m: int) -> np.ndarray:
    return np.zeros(m // 8, dtype=np.uint8)


def set_bits(bits: np.ndarray, m: int, h: np.ndarray) -> None:
    i = (h % m).astype(np.int64)
    np.bitwise_or.at(bits, i >> 3, np.uint8(1) << (i & 7).astype(np.uint8))


def save(path: str, bits: np.ndarray) -> None:
    with open(path, "wb") as fh:
        fh.write(bits.tobytes())
        fh.flush()
        # the manifest referencing this sidecar commits durably (fsync +
        # rename in _write_manifest); fsync the bitmap too or a power
        # loss can leave a referenced 0-byte file
        os.fsync(fh.fileno())


def open_sidecar(path: str, m: int) -> np.ndarray | None:
    """Memory-map a sidecar; ``None`` when missing, 0-byte (np.memmap
    raises ValueError) or not ``m // 8`` bytes (a crash between sidecar
    write and manifest commit on a non-fsynced filesystem). Indexing a
    short bitmap would raise mid-job; callers keep the file instead."""
    try:
        bits = np.memmap(path, dtype=np.uint8, mode="r")
    except (OSError, ValueError):
        return None
    return bits if len(bits) == m // 8 else None


def may_contain(bits: np.ndarray, m: int, h1, h2) -> np.ndarray:
    """Vectorized membership of raw hash pairs: ``False`` proves the key
    absent (no false negatives)."""
    i1 = np.asarray(h1, dtype=np.int64) % m
    i2 = np.asarray(h2, dtype=np.int64) % m
    ok = (bits[i1 >> 3] >> (i1 & 7).astype(np.uint8)) & 1
    ok &= (bits[i2 >> 3] >> (i2 & 7).astype(np.uint8)) & 1
    return ok.astype(bool)
