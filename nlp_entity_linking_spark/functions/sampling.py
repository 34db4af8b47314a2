"""Deterministic bounded sampling (shared by calibration and IVF training).

Seed-free and partition-layout-free: keep rows whose xxhash64 over the key
columns lands in 1 of ceil(n/cap) residue classes — same inputs give the
same sample at any parallelism, with no driver-side shuffle or RNG state.
Expected kept rows ~= cap (hash-uniformity variance of a few percent, never
the O(n) unbounded blowup a rate-based sample risks under estimation error).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bounded_sample(df: DataFrame, key_cols: tuple[str, ...], cap: int) -> DataFrame:
    """Down-sample `df` to ~cap rows deterministically. No-op when already
    under cap. One cheap count fires (dwarfed by whatever multi-pass
    consumer — IRLS, KMeans — the sample feeds)."""
    n = df.count()
    if n <= cap:
        return df
    k = -(-n // cap)  # ceil(n / cap) residue classes
    return df.filter(F.pmod(F.xxhash64(*key_cols), F.lit(k)) == 0)
