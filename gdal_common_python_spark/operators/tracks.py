"""Trajectory (track) analytics over ordered point sequences.

A document's geo POINT spans, ordered by span offset, form a track —
the natural trajectory structure of the interleaved corpus (doc = entity,
offset = sequence number). Classic track metrics, all native window/agg
expressions:

- per-track length / max hop / point count / bbox (``track_stats``);
- dwell ("stay-point") segmentation: consecutive points within a radius
  of the segment anchor collapse into one dwell (``dwell_points``).

Determinism discipline (hash-gate requirement): segment lengths are
doubles, and a float SUM is order-dependent — so lengths are quantized to
integer micro-units with floor(d * 1e6) BEFORE summing. Integer sums are
order-independent and exact (< 2^53), floor and sqrt are correctly-rounded
IEEE ops, so Spark and DuckDB agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def track_stats(
    points: DataFrame,
    id_col: str = "doc_id",
    seq_col: str = "offset",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """(track_id, n_points, len_micro, max_hop_micro, min_x, min_y, max_x,
    max_y): planar track length and max hop in integer micro-degree units,
    plus bbox. One shuffle: the groupBy keys on the window's OWN partition
    column (renaming to track_id only AFTER the aggregate) so Catalyst
    reuses the window exchange instead of re-shuffling on the alias —
    asserted by the plan pin in tests/test_plan_shape.py (r4 bench showed
    the aliased groupBy added a second exchange: 2 -> 1 here)."""
    w = Window.partitionBy(id_col).orderBy(seq_col)
    px = F.lag(x_col).over(w)
    py = F.lag(y_col).over(w)
    d = F.sqrt(
        (F.col(x_col) - px) * (F.col(x_col) - px)
        + (F.col(y_col) - py) * (F.col(y_col) - py)
    )
    hop = F.when(px.isNull(), F.lit(0)).otherwise(F.floor(d * 1e6)).cast("long")
    seg = points.select(
        F.col(id_col),
        F.col(x_col).alias("__x"),
        F.col(y_col).alias("__y"),
        hop.alias("__hop"),
    )
    return (
        seg.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.sum("__hop").cast("long").alias("len_micro"),
            F.max("__hop").cast("long").alias("max_hop_micro"),
            F.min("__x").alias("min_x"),
            F.min("__y").alias("min_y"),
            F.max("__x").alias("max_x"),
            F.max("__y").alias("max_y"),
        )
        .withColumnRenamed(id_col, "track_id")
    )


def dwell_points(
    points: DataFrame,
    radius: float,
    id_col: str = "doc_id",
    seq_col: str = "offset",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Stay-point segmentation: walking each track in order, a new dwell
    starts whenever the point leaves the ``radius``-disk AROUND THE DWELL'S
    FIRST POINT (anchor); consecutive in-radius points collapse into that
    dwell. Returns (track_id, dwell_ix, n_points, anchor_x, anchor_y).

    The anchor rule is chosen over a lag-distance rule because it is
    expressible as a running composition: a point opens a new dwell iff its
    distance to the CURRENT anchor exceeds radius. The whole segmentation
    is ONE slim shuffle (track_id + seq + two doubles, map-side combined
    into per-track arrays) and one in-array fold per track that
    appends/extends the dwell list directly, O(points x dwells) per track
    since each step rebuilds the dwell array — replacing the former
    per-POINT prefix window (O(points^2) interpreted fold per track plus a
    second exchange for the dwell groupBy). The per-step distance runs the
    identical IEEE expression against the identical running anchor, so the
    emitted dwells are bit-for-bit the same. Tracks are bounded (documents
    have bounded spans), so the collected track arrays are bounded."""
    tracks = points.groupBy(F.col(id_col).alias("track_id")).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(seq_col).alias("o"),
                    F.col(x_col).alias("x"),
                    F.col(y_col).alias("y"),
                )
            )
        ).alias("__pts")
    )

    # fold the ordered track: dwell list state; a point further than
    # `radius` from the LAST dwell's anchor extends the list, otherwise it
    # increments the last dwell's count. try_element_at(-1) of the empty
    # list is NULL, also under ANSI mode, so `started | far` opens the
    # first dwell exactly like the former n==0 state.
    def fold(acc, p):
        last = F.try_element_at(acc, F.lit(-1))
        far = F.sqrt(
            (p["x"] - last["ax"]) * (p["x"] - last["ax"])
            + (p["y"] - last["ay"]) * (p["y"] - last["ay"])
        ) > radius
        started = F.size(acc) == 0
        new_anchor = started | far
        opened = F.concat(
            acc,
            F.array(
                F.struct(
                    (F.size(acc) + 1).cast("long").alias("ix"),
                    p["x"].alias("ax"),
                    p["y"].alias("ay"),
                    F.lit(1).cast("long").alias("cnt"),
                )
            ),
        )
        extended = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(
                F.struct(
                    last["ix"].alias("ix"),
                    last["ax"].alias("ax"),
                    last["ay"].alias("ay"),
                    (last["cnt"] + 1).alias("cnt"),
                )
            ),
        )
        return F.when(new_anchor, opened).otherwise(extended)

    init = F.expr(
        "CAST(array() AS array<struct<ix:bigint,ax:double,ay:double,cnt:bigint>>)"
    )
    dwells = F.aggregate(F.col("__pts"), init, fold)
    return tracks.select(
        "track_id", F.explode(dwells).alias("__d")
    ).select(
        "track_id",
        F.col("__d.ix").alias("dwell_ix"),
        F.col("__d.cnt").alias("n_points"),
        F.col("__d.ax").alias("anchor_x"),
        F.col("__d.ay").alias("anchor_y"),
    )


def line_interpolate(
    points: DataFrame,
    frac_num: int = 1,
    frac_den: int = 2,
    id_col: str = "doc_id",
    seq_col: str = "offset",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """ST_LineInterpolatePoint analog over ordered tracks: the point at
    fraction ``frac_num / frac_den`` of each track's cumulative planar
    length -> (track_id, pos_x, pos_y).

    Exact by the module's micro-unit discipline: segment lengths
    floor-quantize to int64 (``floor(sqrt(dx^2+dy^2) * 1e6)``) BEFORE the
    cumulative sum, so running/total lengths are order-independent exact
    integers in both engines; the target arc ``(total * num) div den`` and
    the segment pick (first nonzero segment whose inclusive cum reaches
    the target) are pure integer comparisons, leaving exactly one double
    division + lerp — a fixed IEEE expression tree, hash-exact.

    Tracks whose quantized length is zero (single point / coincident
    points) emit no row. One shuffle: the id-hash window partition."""
    if frac_den <= 0 or not 0 <= frac_num <= frac_den:
        raise ValueError("need 0 <= frac_num/frac_den <= 1")
    # alias BEFORE the first window so every window clusters on the same
    # attribute (track_resample rationale: a rename between windows hides
    # partitioning equivalence and costs a second identical-key exchange)
    base = points.select(
        F.col(id_col).alias("track_id"),
        F.col(seq_col).alias("__seq"),
        F.col(x_col).alias("__x1"),
        F.col(y_col).alias("__y1"),
    )
    w = Window.partitionBy("track_id").orderBy("__seq")
    x2 = F.lead("__x1").over(w)
    y2 = F.lead("__y1").over(w)
    d = F.sqrt(
        (x2 - F.col("__x1")) * (x2 - F.col("__x1"))
        + (y2 - F.col("__y1")) * (y2 - F.col("__y1"))
    )
    segs = (
        base.select(
            "track_id",
            "__seq",
            "__x1",
            "__y1",
            x2.alias("__x2"),
            y2.alias("__y2"),
            F.floor(d * 1e6).cast("long").alias("__seg_q"),
        )
        .filter(F.col("__x2").isNotNull())
    )
    ws = Window.partitionBy("track_id").orderBy("__seq")
    wall = Window.partitionBy("track_id")
    segs = (
        segs.withColumn(
            "__cum",
            F.sum("__seg_q").over(ws.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("__total", F.sum("__seg_q").over(wall))
        .withColumn(
            "__target",
            F.expr(f"(__total * {int(frac_num)}) div {int(frac_den)}"),
        )
    )
    hits = segs.filter((F.col("__seg_q") > 0) & (F.col("__cum") >= F.col("__target")))
    first = Window.partitionBy("track_id").orderBy("__seq")
    t = (F.col("__target") - (F.col("__cum") - F.col("__seg_q"))).cast("double") / F.col(
        "__seg_q"
    ).cast("double")
    return (
        hits.withColumn("__rn", F.row_number().over(first))
        .filter(F.col("__rn") == 1)
        .select(
            "track_id",
            (F.col("__x1") + t * (F.col("__x2") - F.col("__x1"))).alias("pos_x"),
            (F.col("__y1") + t * (F.col("__y2") - F.col("__y1"))).alias("pos_y"),
        )
    )


def line_interpolate_oracle_sql(
    pts_cte: str, frac_num: int = 1, frac_den: int = 2
) -> str:
    """DuckDB oracle for :func:`line_interpolate`. ``pts_cte`` must yield
    (doc_id, off, px, py); identical micro-unit windows, QUALIFY pick."""
    return f"""
WITH pts AS ({pts_cte}),
segs AS (
  SELECT doc_id AS track_id, off AS seq, px AS x1, py AS y1,
         lead(px) OVER w AS x2, lead(py) OVER w AS y2,
         CAST(floor(sqrt((lead(px) OVER w - px) * (lead(px) OVER w - px)
                       + (lead(py) OVER w - py) * (lead(py) OVER w - py))
                    * 1e6) AS BIGINT) AS seg_q
  FROM pts
  WINDOW w AS (PARTITION BY doc_id ORDER BY off)
),
cum AS (
  SELECT *,
         sum(seg_q) OVER (PARTITION BY track_id ORDER BY seq
                          ROWS UNBOUNDED PRECEDING) AS cum,
         sum(seg_q) OVER (PARTITION BY track_id) AS total
  FROM segs WHERE x2 IS NOT NULL
)
SELECT track_id,
       x1 + (CAST(target - (cum - seg_q) AS DOUBLE) / CAST(seg_q AS DOUBLE))
            * (x2 - x1) AS pos_x,
       y1 + (CAST(target - (cum - seg_q) AS DOUBLE) / CAST(seg_q AS DOUBLE))
            * (y2 - y1) AS pos_y
FROM (SELECT *, (total * {int(frac_num)}) // {int(frac_den)} AS target FROM cum)
WHERE seg_q > 0 AND cum >= target
QUALIFY row_number() OVER (PARTITION BY track_id ORDER BY seq) = 1
"""


def track_resample(
    points: DataFrame,
    n_points: int = 5,
    id_col: str = "doc_id",
    seq_col: str = "offset",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Arc-length track resampling -> (track_id, k, pos_x, pos_y): each
    track re-sampled at ``n_points`` equally spaced arc-length fractions
    k/(n_points-1), k = 0..n_points-1 — the fixed-size trajectory
    normalization that feeds sequence models (every track becomes exactly
    ``n_points`` ordered coordinates regardless of ping count). Generalizes
    :func:`line_interpolate` from one fraction to the full grid, same
    micro-unit discipline: quantized segment cumsums are exact integers,
    target_k = (total * k) div (n_points-1) is integer, and the pick
    (first segment with seg_q > 0, cum >= target, cum - seg_q <= target)
    plus ONE double lerp is a fixed IEEE tree — hash-exact across engines.

    Tracks with zero quantized length (single/coincident points) emit no
    rows, like line_interpolate.

    100 TB shape: the window pass shuffles once on the id hash — and that
    is the ONLY shuffle: the per-track fraction grid is an explode of
    k = 0..n_points-1 directly on the segment rows (the per-track total is
    already a window column, so the grid needs no aggregate and no join
    back — a join re-evaluates the whole segment pipeline on both sides),
    and the row_number pick clusters on (track_id, k), which the existing
    track_id hash partitioning already satisfies (local sort only).
    Intermediate size is bounded by segments x n_points per track before
    the range filter — n_points is a small constant by construction."""
    if n_points < 2:
        raise ValueError("n_points must be >= 2")
    m = int(n_points) - 1
    # alias BEFORE the first window so every window in the plan clusters on
    # the same attribute — a rename between windows hides the partitioning
    # equivalence and costs a second (identical-key) exchange
    base = points.select(
        F.col(id_col).alias("track_id"),
        F.col(seq_col).alias("__seq"),
        F.col(x_col).alias("__x1"),
        F.col(y_col).alias("__y1"),
    )
    w = Window.partitionBy("track_id").orderBy("__seq")
    x2 = F.lead("__x1").over(w)
    y2 = F.lead("__y1").over(w)
    d = F.sqrt(
        (x2 - F.col("__x1")) * (x2 - F.col("__x1"))
        + (y2 - F.col("__y1")) * (y2 - F.col("__y1"))
    )
    segs = base.select(
        "track_id",
        "__seq",
        "__x1",
        "__y1",
        x2.alias("__x2"),
        y2.alias("__y2"),
        F.floor(d * 1e6).cast("long").alias("__seg_q"),
    ).filter(F.col("__x2").isNotNull())
    ws = Window.partitionBy("track_id").orderBy("__seq")
    wall = Window.partitionBy("track_id")
    segs = segs.withColumn(
        "__cum", F.sum("__seg_q").over(ws.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("__total", F.sum("__seg_q").over(wall))
    # zero-total tracks emit nothing and zero-length segments can never be
    # picked — both predicates are k-independent, so they prune BEFORE the
    # constant fan-out explode; __target is the identical integer formula
    # over the identical window total
    hits = (
        segs.filter((F.col("__total") > 0) & (F.col("__seg_q") > 0))
        .select("*", F.explode(F.sequence(F.lit(0), F.lit(m))).alias("k"))
        .withColumn("__target", F.expr(f"(__total * k) div {m}"))
        .filter(
            (F.col("__cum") >= F.col("__target"))
            & (F.col("__cum") - F.col("__seg_q") <= F.col("__target"))
        )
    )
    first = Window.partitionBy("track_id", "k").orderBy("__seq")
    t = (F.col("__target") - (F.col("__cum") - F.col("__seg_q"))).cast(
        "double"
    ) / F.col("__seg_q").cast("double")
    return (
        hits.withColumn("__rn", F.row_number().over(first))
        .filter(F.col("__rn") == 1)
        .select(
            "track_id",
            "k",
            (F.col("__x1") + t * (F.col("__x2") - F.col("__x1"))).alias("pos_x"),
            (F.col("__y1") + t * (F.col("__y2") - F.col("__y1"))).alias("pos_y"),
        )
    )


def track_resample_oracle_sql(pts_cte: str, n_points: int = 5) -> str:
    """DuckDB oracle for :func:`track_resample`. ``pts_cte`` must yield
    (doc_id, off, px, py); identical micro-unit windows + fraction grid."""
    m = int(n_points) - 1
    return f"""
WITH pts AS ({pts_cte}),
segs AS (
  SELECT doc_id AS track_id, off AS seq, px AS x1, py AS y1,
         lead(px) OVER w AS x2, lead(py) OVER w AS y2,
         CAST(floor(sqrt((lead(px) OVER w - px) * (lead(px) OVER w - px)
                       + (lead(py) OVER w - py) * (lead(py) OVER w - py))
                    * 1e6) AS BIGINT) AS seg_q
  FROM pts
  WINDOW w AS (PARTITION BY doc_id ORDER BY off)
),
cum AS (
  SELECT *,
         sum(seg_q) OVER (PARTITION BY track_id ORDER BY seq
                          ROWS UNBOUNDED PRECEDING) AS cum,
         sum(seg_q) OVER (PARTITION BY track_id) AS total
  FROM segs WHERE x2 IS NOT NULL
),
targets AS (
  SELECT track_id, k.k AS k, (max(total) * k.k) // {m} AS target
  FROM cum, (SELECT unnest(range(0, {m + 1})) AS k) k
  GROUP BY track_id, k.k
  HAVING max(total) > 0
)
SELECT c.track_id, CAST(t.k AS INT) AS k,
       x1 + (CAST(t.target - (c.cum - c.seg_q) AS DOUBLE)
             / CAST(c.seg_q AS DOUBLE)) * (x2 - x1) AS pos_x,
       y1 + (CAST(t.target - (c.cum - c.seg_q) AS DOUBLE)
             / CAST(c.seg_q AS DOUBLE)) * (y2 - y1) AS pos_y
FROM cum c JOIN targets t ON c.track_id = t.track_id
WHERE c.seg_q > 0 AND c.cum >= t.target AND c.cum - c.seg_q <= t.target
QUALIFY row_number() OVER (PARTITION BY c.track_id, t.k ORDER BY c.seq) = 1
"""
