"""Distance joins: near table (J3) and kNN — SURVEY §2.3.

Reference ``near_table`` (lib/analysis.py:241-322) is an O(n*m) all-pairs
``geom.Distance`` double loop with an optional pre-filter callback
(lib/analysis.py:284-296) and dict rows {FROM_ID, TO_ID, DISTANCE}.

Engine:
- ``near_table``: declarative pair join. With a ``radius`` it is a
  cell-partitioned band join (explode the query side by the covering cell
  disk sized to the radius, equi-join on cell, exact distance refine) — at
  scale this prunes to O(pairs-in-range) instead of O(n*m). Without a radius
  it degrades to the reference's full cross join (exact parity mode).
- ``knn``: cell-ring expansion with exact re-rank (SURVEY §7 hard-part 5),
  one lazy fold over the rings 1, 4 and 16. Each round joins the still
  unresolved query points to the candidates in their (2·ring+1)² cell disk
  (the same band join ``near_table`` uses) and keeps the points whose k-th
  candidate distance is provably final: no farther than the point's
  distance to the disk's boundary, so no point outside the disk can beat
  it. The kept points leave the fold; whatever survives ring 16 (empty or
  edge regions, typically a handful of points) falls back to an exact
  cross join. Ties break on (distance, to_id) so results are deterministic
  and match the DuckDB oracle's ORDER BY.

The pre-filter callback becomes a plain ``df.filter`` on either side
(SURVEY §2.9), pushed below the join by Catalyst.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from .util import track_persisted


def _dist(x1, y1, x2, y2):
    return F.sqrt((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2))


def _disk_pairs(a: DataFrame, b: DataFrame, kx: int, ky: int, res: int) -> DataFrame:
    """Cell-disk band join: every row of `a` (ax, ay) meets every row of `b`
    (bx, by) whose level-`res` cell lies in the (2kx+1)x(2ky+1) disk around
    the `a` row's own cell (cx, cy), by an equi-join on the cell (jx, jy)."""
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    ac = a.select(
        "*",
        F.floor((F.col("ax") + 180.0) / w).alias("cx"),
        F.floor((F.col("ay") + 90.0) / h).alias("cy"),
    )
    ac = ac.select("*", F.explode(F.sequence(F.lit(-kx), F.lit(kx))).alias("dx"))
    ac = ac.select("*", F.explode(F.sequence(F.lit(-ky), F.lit(ky))).alias("dy"))
    ac = ac.withColumn("jx", F.col("cx") + F.col("dx")).withColumn("jy", F.col("cy") + F.col("dy"))
    bc = b.withColumn("jx", F.floor((F.col("bx") + 180.0) / w)).withColumn(
        "jy", F.floor((F.col("by") + 90.0) / h)
    )
    return ac.join(bc, ["jx", "jy"])


def near_table(
    points: DataFrame,
    near: DataFrame | None = None,
    radius: float | None = None,
    res: int = 7,
    allow_cross: bool = False,
) -> DataFrame:
    """(from_id, to_id, distance) pairs; planar distance in native units
    (lib/analysis.py:315 semantics). Self-join when `near` is None; the
    (i, i) self-pair is excluded for self-joins.

    ``radius=None`` is the reference-parity O(n*m) cross join — it requires
    an explicit ``allow_cross=True`` so the nested-loop plan can never be
    reached by accident; at scale always pass a radius."""
    if radius is None and not allow_cross:
        raise ValueError(
            "near_table(radius=None) is the O(n*m) reference-parity cross "
            "join; pass a radius for the pruned cell-band join, or opt in "
            "explicitly with allow_cross=True"
        )
    self_join = near is None
    a = points.select(
        F.col("point_id").alias("from_id"), F.col("x").alias("ax"), F.col("y").alias("ay")
    )
    b = (near if near is not None else points).select(
        F.col("point_id").alias("to_id"), F.col("x").alias("bx"), F.col("y").alias("by")
    )
    if radius is None:
        pairs = a.crossJoin(b)
    else:
        n = 1 << res
        kx, ky = int(radius / (360.0 / n)) + 1, int(radius / (180.0 / n)) + 1
        pairs = _disk_pairs(a, b, kx, ky, res)
    out = pairs.withColumn("distance", _dist(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by")))
    if radius is not None:
        out = out.filter(F.col("distance") <= F.lit(radius))
    if self_join:
        out = out.filter(F.col("from_id") != F.col("to_id"))
    return out.select("from_id", "to_id", "distance")


def near_table_geoms(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame | None = None,
    radius: float | None = None,
    allow_cross: bool = False,
) -> DataFrame:
    """near_table for POLYGON layers (zone-shaped tables) — the reference's
    geom.Distance semantics (lib/analysis.py:315: 0 when intersecting, else
    min boundary distance), computed by the exact kernel on candidate
    pairs.

    With a ``radius``: the pair source is the shared size-gated candidate
    machinery (``overlay._pair_candidates`` with ``pad=radius``) — a
    broadcast bbox theta join for dimension-sized right sides, a grid-cell
    EQUI-join past the gate, so the candidate count is O(pairs-in-range)
    and the plan never degenerates to a nested loop over two large sides;
    without a radius it degrades to the reference's full cross join
    (parity mode only — gated behind an explicit ``allow_cross=True``)."""
    from ..kernels import geom
    from .overlay import _pair_candidates

    if radius is None and not allow_cross:
        raise ValueError(
            "near_table_geoms(radius=None) is the O(n*m) reference-parity "
            "cross join; pass a radius for the candidate-pruned join, or "
            "opt in explicitly with allow_cross=True"
        )
    self_join = right is None
    r = right if right is not None else left
    if radius is None:
        a = left.select(
            F.col("zone_id").alias("from_id"), F.col("rings").alias("l_rings")
        )
        b = r.select(F.col("zone_id").alias("to_id"), F.col("rings").alias("r_rings"))
        pairs = a.crossJoin(b)
    else:
        pairs = _pair_candidates(spark, left, r, pad=float(radius)).select(
            F.col("l_id").alias("from_id"),
            F.col("r_id").alias("to_id"),
            "l_rings",
            "r_rings",
        )

    @F.pandas_udf(T.DoubleType())
    def pairdist(lr: pd.Series, rr: pd.Series) -> pd.Series:
        out = np.empty(len(lr))
        for i, (lv, rv) in enumerate(zip(lr, rr)):
            out[i] = geom.geom_distance(
                "polygon", geom.rings_from_cell(lv), "polygon", geom.rings_from_cell(rv)
            )
        return pd.Series(out)

    out = pairs.withColumn("distance", pairdist("l_rings", "r_rings"))
    if radius is not None:
        out = out.filter(F.col("distance") <= F.lit(float(radius)))
    if self_join:
        out = out.filter(F.col("from_id") != F.col("to_id"))
    return out.select("from_id", "to_id", "distance")


def knn(
    spark: SparkSession,
    points: DataFrame,
    k: int = 5,
    res: int = 7,
) -> DataFrame:
    """Self k-nearest-neighbours: (from_id, rank, to_id, distance).

    One lazy plan, no Spark job at build time. Rings 1, 4 and 16 in turn:
    the unresolved points join the candidates of their (2·ring+1)² cell
    disk, rank them on (distance, to_id), and a point is kept when it has
    k candidates and its k-th distance is <= its distance to the disk's
    boundary (no point outside the disk can be nearer). Kept points leave
    the fold; the points left after ring 16 take the exact cross join.
    """
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    a = points.select(
        F.col("point_id").alias("from_id"), F.col("x").alias("ax"), F.col("y").alias("ay")
    )
    b = points.select(
        F.col("point_id").alias("to_id"), F.col("x").alias("bx"), F.col("y").alias("by")
    )
    win = Window.partitionBy("from_id").orderBy("distance", "to_id")
    cols = ["from_id", "rank", "to_id", "distance"]
    rest, results, handles = a, [], []
    for ring in (1, 4, 16):
        ranked = (
            _disk_pairs(rest, b, ring, ring, res)
            .filter(F.col("from_id") != F.col("to_id"))
            .select(
                "from_id", "ax", "ay", "cx", "cy", "to_id",
                _dist(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by")).alias("distance"),
            )
            .withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            # the k-th distance, NULL (never kept) with fewer than k candidates
            .withColumn(
                "kth",
                F.max(F.when(F.col("rank") == k, F.col("distance"))).over(
                    Window.partitionBy("from_id")
                ),
            )
            # <= k rows per point, read by the kept rows, the resolved ids
            # and every later round's `rest`; cached so repeated actions on
            # the result do not rerun the fold (util.release(out) frees it)
            .persist()
        )
        handles.append(ranked)
        bound = F.least(
            F.col("ax") - ((F.col("cx") - ring) * w - 180.0),
            ((F.col("cx") + ring + 1) * w - 180.0) - F.col("ax"),
            F.col("ay") - ((F.col("cy") - ring) * h - 90.0),
            ((F.col("cy") + ring + 1) * h - 90.0) - F.col("ay"),
        )
        kept = ranked.filter(F.col("kth") <= bound)
        results.append(kept.select(*cols))
        ok = kept.filter(F.col("rank") == 1).select("from_id")
        rest = rest.join(F.broadcast(ok), "from_id", "left_anti")

    # exact brute-force tail for whatever survives all rings
    results.append(
        rest.crossJoin(b)
        .filter(F.col("from_id") != F.col("to_id"))
        .withColumn("distance", _dist(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by")))
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(*cols)
    )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return track_persisted(out, *handles)
