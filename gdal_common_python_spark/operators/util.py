"""Shared operator plumbing: broadcast size gates, cache handles and the
spread of under-partitioned inputs.

Broadcast gate: a broadcast hint must be gated on estimated BYTES, not just
row count — a wide 1M-row dimension (long text, ring arrays) can blow the
driver even under a row cap. The gate runs two bounded, pushdown-friendly
probe jobs: a ``limit(n+1).count()`` row probe, then a tiny
``limit(k).collect()`` sample whose pickled width extrapolates the table's
in-flight size.

Cache handles: operators that legitimately persist an intermediate (a
self-join barrier, a two-consumer kernel output) cannot unpersist it before
the caller's action runs, because the returned plan still reads it. They
attach the persisted handles to the result via :func:`track_persisted`; a
long-lived application calls :func:`release` after consuming the result so
repeated operator invocations do not accrete executor storage. (One-shot
queries can skip it — Spark storage is LRU-evictable.)
"""

from __future__ import annotations

import pickle

from pyspark.sql import DataFrame

_HANDLE_ATTR = "_gcp_persisted_handles"


def track_persisted(out: DataFrame, *handles: DataFrame) -> DataFrame:
    """Attach persisted intermediate handles to `out` for later release."""
    existing = list(getattr(out, _HANDLE_ATTR, ()))
    setattr(out, _HANDLE_ATTR, existing + list(handles))
    return out


def release(df: DataFrame) -> None:
    """Unpersist every intermediate an operator cached while building `df`.
    Call after the consuming action; further actions on `df` stay correct
    (Spark recomputes from lineage) but lose the barrier. NOTE: sibling
    results from one operator call (e.g. zonal's stats AND counts) share
    their barrier handle — release only after ALL siblings are consumed,
    or the survivors recompute from scratch (still correct)."""
    for h in getattr(df, _HANDLE_ATTR, ()):
        h.unpersist()
    setattr(df, _HANDLE_ATTR, [])


def _spread(df: DataFrame) -> DataFrame:
    """Repartition ONLY when the source is under-partitioned (a small local
    parquet arrives as 1 split and serializes the md5-heavy map work onto
    one core). At corpus scale inputs already carry >= cores splits and this
    is a no-op — no shuffle is added."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


DEFAULT_BYTE_LIMIT = 64 << 20  # past ~64 MB a broadcast stops being "small"


def broadcastable(
    df: DataFrame,
    row_limit: int,
    byte_limit: int = DEFAULT_BYTE_LIMIT,
    sample_rows: int = 256,
) -> bool:
    """True when `df` is safe to broadcast: row count within `row_limit`
    (bounded limit+count probe — never a full scan of a big side) AND
    sampled-row-width x count within `byte_limit`. The width sample
    pickles whole rows, so nested columns (ring arrays, structs) count at
    their real serialized size rather than a per-cell guess.

    Sampling: tables within `sample_rows` are measured EXACTLY; larger
    ones use a seeded uniform sample across the whole table — a
    head-`limit` probe would only see the first partition and a table
    sorted narrow-rows-first (small geometries before detailed ones)
    could evade the byte cap. The row gate already bounds the scan."""
    n = df.limit(row_limit + 1).count()
    if n > row_limit:
        return False
    if n == 0:
        return True
    if n <= sample_rows:
        sample = df.collect()
    else:
        sample = df.sample(fraction=min(1.0, (2.0 * sample_rows) / n), seed=7).limit(
            4 * sample_rows
        ).collect()
    if not sample:
        # sample raced a shrinking source — fall back to the row gate only
        return True
    per_row = len(pickle.dumps([tuple(r) for r in sample])) / len(sample)
    return n * per_row <= byte_limit
