"""Deterministic stand-in scorers for the reference's model kernels.

The reference's heavy kernels (SURVEY.md §2.9: CLIP pair scorer M2,
per-entity scorer M3, contrastive ranker M4, VCC entity classifier M1) are
neural models whose weights are not in the repo.  Our engine preserves their
*decision semantics* — thresholds 0.4 / 0.87 / top-5, rankings, intersections
(ptuningfilter.py:16, ptuningfilter_ent.py:32, CPgen.py:369-372) — over a
deterministic hash-based score so correctness is exactly testable.

``det_score_col`` (pure Column via xxhash64) is the engine's scorer.
``det_score_py`` (numpy/pandas) computes THE SAME value; no UDF uses it —
it serves only as the test reference that pins ``det_score_col``.

Score definition: ``(xxhash64(concat_ws('|', parts)) mod 10^6) / 10^6``
folded into [0,1).  xxhash64 seed 42 matches Spark's default pandas hash?  No
— we pin Spark's own xxhash64 (seed 42) and replicate it in Python with a
vendored xxh64 implementation over utf-8 bytes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_MOD = 1_000_000

# ---------------------------------------------------------------------------
# Pure-python xxhash64 (spec-faithful, public algorithm by Yann Collet) so the
# pandas path reproduces Spark's F.xxhash64(seed=42) bit-for-bit.
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M64
    acc = _rotl(acc, 31)
    return (acc * _P1) & _M64


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return ((acc * _P1) + _P4) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """xxHash64 of ``data`` — matches Spark's ``F.xxhash64`` for a single
    string column (Spark hashes the UTF-8 bytes with seed 42)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = ((_rotl(h, 27) * _P1) + _P4) & _M64
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = ((_rotl(h, 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def _to_signed(x: int) -> int:
    return x - (1 << 64) if x >= (1 << 63) else x


def det_score_py(*parts: "pd.Series | np.ndarray | list") -> pd.Series:
    """Vectorized deterministic score in [0,1) from string parts.

    Same value as :func:`det_score_col` — callers inside pandas UDFs use this;
    Column-expression stages use the other.
    """
    series = [pd.Series(p).astype(str).reset_index(drop=True) for p in parts]
    joined = series[0]
    for s in series[1:]:
        joined = joined.str.cat(s, sep="|")
    vals = joined.map(lambda s: (_to_signed(xxh64(s.encode("utf-8"))) % _MOD + _MOD) % _MOD)
    return (vals / _MOD).astype("float64")


def det_score_col(*cols: Column | str, hash_mode: str = "xxhash64") -> Column:
    """Deterministic score in [0,1) as a pure Column expression
    (``pmod(hash64(concat_ws('|', ...)), 1e6) / 1e6``).

    ``hash_mode="md5"`` derives the 60-bit hash from the md5 hex prefix —
    the cross-engine seeded primitive: DuckDB computes the identical score
    as ``('0x' || substr(md5(concat_ws('|', ...)), 1, 15))::BIGINT
    % 1000000 / CAST(1000000 AS DOUBLE)`` (value is non-negative, so
    ``%`` == pmod), which makes pipeline runs oracle-checkable end to end.
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    joined = F.concat_ws("|", *cs)
    if hash_mode == "md5":
        h = F.conv(F.substring(F.md5(joined), 1, 15), 16, 10).cast("bigint")
    else:
        h = F.xxhash64(joined)
    return F.pmod(h, F.lit(_MOD)).cast("double") / F.lit(float(_MOD))
