"""Seeded input generator for the benchmark (FIXTURES.md §1-4 shapes).

Every table is a pure function of ``(seed, sizes)``: the same seed writes
the same rows. Tables are cached per seed and size under the cache root the
caller passes, so repeated runs of one seed skip generation; the engine only
ever sees the written parquet files.

Tables, as the engine's own synth layout names them:

- ``documents_spans.parquet/part-*.parquet``: ``(doc_id, spans)`` with 1-12
  spans per doc, ~70% text / 20% geo / 10% media; geo points are uniform
  over the extent plus 20% in three hot clusters; ~15% of geo spans are
  polygons or multipolygons, which the point join skips.
- ``zones.parquet`` (+ ``zone_edges.parquet`` for the DuckDB oracle): rects,
  convex hulls, holed rects and two-part multipolygons, ~20% stored in
  srid 3857 with the ingest-time ``rings4326``/``bbox4326`` columns.
- ``rasters.parquet`` / ``raster_tiles.parquet``: four entries on a shared
  grid plus one on a shifted grid, 32-px tiles, values 0-255 with ~5%
  nodata.
- ``near_points.parquet``: uniform points plus a tight cluster and ~5%
  exact duplicates (kNN ties), plus a remote group and a lone point so
  that every seed runs both ring retries and the brute-force tail.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gdal_common_python_spark.kernels import proj

EXTENT = (-120.0, -80.0, 30.0, 45.0)  # xmin, xmax, ymin, ymax (WGS84)
HOT_CENTERS = np.array([(-112.3, 40.7), (-95.4, 33.1), (-87.9, 41.9)])
NODATA = -9999.0
TILE = 32
CATEGORIES = [f"cat{i:02d}" for i in range(10)]
LOREM = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor "
    "incididunt ut labore et dolore magna aliqua enim ad minim veniam quis nostrud"
).split()

# one stream per table (and per shard), so one table's size never shifts
# another table's rows
_DOCS, _ZONES, _RASTERS, _POINTS = 1, 2, 3, 4


def _rng(seed: int, table: int, part: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, table, part])


def _fmt(a: np.ndarray) -> pa.Array:
    """Shortest round-trip decimal text of float64 values (what ``repr``
    prints), so the WKT parse on either engine reads back the same double."""
    return pc.cast(pa.array(a, pa.float64()), pa.string())


def _tag(seed: int, tables: dict) -> str:
    return json.dumps({"seed": seed, **tables}, sort_keys=True)


def cached(cache_root: str, seed: int, tables: dict) -> tuple[str, bool]:
    """(table directory for `seed` and `tables`, whether it is complete)."""
    tag = _tag(seed, tables)
    out = os.path.join(cache_root, f"seed{seed}-{hashlib.md5(tag.encode()).hexdigest()[:10]}")
    done = os.path.join(out, "DONE")
    if not os.path.exists(done):
        return out, False
    with open(done) as f:
        return out, f.read() == tag


def ensure(cache_root: str, seed: int, tables: dict) -> str:
    """Write the requested tables for `seed` under `cache_root` unless a
    complete copy is cached; returns the table directory.

    `tables` maps a table group to its size: ``docs`` (doc count, with
    ``shards``), ``zones`` (zone count), ``raster`` (shared/shifted grid
    widths in pixels) and ``points`` (point count)."""
    out, complete = cached(cache_root, seed, tables)
    if complete:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if "docs" in tables:
        write_documents(out, seed, tables["docs"], tables.get("shards", 4))
    if "zones" in tables:
        write_zones(out, seed, tables["zones"])
    if "raster" in tables:
        write_rasters(out, seed, *tables["raster"])
    if "points" in tables:
        write_points(out, seed, tables["points"])
    with open(os.path.join(out, "DONE"), "w") as f:
        f.write(_tag(seed, tables))
    return out


def write_documents(out: str, seed: int, n_docs: int, shards: int) -> None:
    d = os.path.join(out, "documents_spans.parquet")
    os.makedirs(d)
    per = -(-n_docs // shards)
    for shard in range(shards):
        start = shard * per
        n = min(per, n_docs - start)
        if n > 0:
            pq.write_table(_doc_shard(seed, shard, start, n), os.path.join(d, f"part-{shard:04d}.parquet"))


def _doc_shard(seed: int, shard: int, start: int, n_docs: int) -> pa.Table:
    rng = _rng(seed, _DOCS, shard)
    n_spans = rng.integers(1, 13, size=n_docs)
    total = int(n_spans.sum())
    u = rng.random(total)
    kind_idx = np.where(u < 0.70, 0, np.where(u < 0.90, 1, 2))  # text, geo, media
    kinds = pa.array(["text", "geo", "media"]).take(pa.array(kind_idx))

    xmin, xmax, ymin, ymax = EXTENT
    gx = rng.uniform(xmin, xmax, total)
    gy = rng.uniform(ymin, ymax, total)
    hot = rng.random(total) < 0.20
    centre = HOT_CENTERS[rng.integers(0, len(HOT_CENTERS), total)]
    gx = np.where(hot, centre[:, 0] + rng.normal(0, 0.05, total), gx)
    gy = np.where(hot, centre[:, 1] + rng.normal(0, 0.05, total), gy)
    shape = rng.random(total)  # < 0.85 point, < 0.97 polygon, else multipolygon
    size = rng.uniform(0.02, 0.3, total)

    geo = kind_idx == 1
    x0, y0, x1, y1 = (_fmt(v) for v in (gx, gy, gx + size, gy + size))
    point = pc.binary_join_element_wise("POINT(", x0, " ", y0, ")", "")
    rect = pc.binary_join_element_wise(
        "((", x0, " ", y0, ", ", x1, " ", y0, ", ", x1, " ", y1, ", ", x0, " ", y1, "))", ""
    )
    x2, y2, x3, y3 = (_fmt(v) for v in (gx + 2 * size, gy + 2 * size, gx + 3 * size, gy + 3 * size))
    rect2 = pc.binary_join_element_wise(
        "((", x2, " ", y2, ", ", x3, " ", y2, ", ", x3, " ", y3, ", ", x2, " ", y3, "))", ""
    )
    polygon = pc.binary_join_element_wise("POLYGON(", rect, ")", "")
    multi = pc.binary_join_element_wise("MULTIPOLYGON(", rect, ", ", rect2, ")", "")
    geo_text = pc.if_else(pa.array(shape < 0.85), point, pc.if_else(pa.array(shape < 0.97), polygon, multi))

    vocab = pa.array(
        [" ".join(LOREM[w] for w in rng.integers(0, len(LOREM), rng.integers(3, 11))) for _ in range(512)]
    )
    lorem = vocab.take(pa.array(rng.integers(0, len(vocab), total)))
    null_str = pa.nulls(total, pa.string())
    texts = pc.if_else(pa.array(kind_idx == 0), lorem, pc.if_else(pa.array(geo), geo_text, null_str))

    media_r = rng.integers(0, 4, total)
    media_b = np.where(media_r == 1, rng.integers(1, 3, total), 1)
    refs_vocab = pa.array([f"r{r}/{b}" for r in range(4) for b in (1, 2)])
    refs = refs_vocab.take(pa.array(media_r * 2 + media_b - 1))
    refs = pc.if_else(pa.array(kind_idx == 2), refs, null_str)

    doc_starts = np.concatenate([[0], np.cumsum(n_spans)[:-1]])
    offsets = (np.arange(total) - np.repeat(doc_starts, n_spans)).astype(np.int32)
    spans = pa.ListArray.from_arrays(
        pa.array(np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32)),
        pa.StructArray.from_arrays(
            [kinds, texts, refs, pa.array(offsets)], names=["kind", "text", "media_ref", "offset"]
        ),
    )
    ids = pc.utf8_lpad(pc.cast(pa.array(np.arange(start, start + n_docs)), pa.string()), 9, "0")
    doc_ids = pc.binary_join_element_wise(f"s{seed}-d", ids, "")
    return pa.table({"doc_id": doc_ids, "spans": spans})


def _rect(cx, cy, w, h) -> np.ndarray:
    x0, x1 = cx - w / 2, cx + w / 2
    y0, y1 = cy - h / 2, cy + h / 2
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float64)


def _convex_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain, CCW."""
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def half(points):
        out = []
        for p in points:
            while len(out) >= 2 and np.cross(out[-1] - out[-2], p - out[-2]) <= 0:
                out.pop()
            out.append(p)
        return out

    return np.array(half(pts)[:-1] + half(pts[::-1])[:-1])


def _bbox(rings) -> dict:
    a = np.concatenate(rings)
    return dict(
        xmin=float(a[:, 0].min()), ymin=float(a[:, 1].min()),
        xmax=float(a[:, 0].max()), ymax=float(a[:, 1].max()),
    )


def write_zones(out: str, seed: int, n_zones: int) -> None:
    rng = _rng(seed, _ZONES)
    xminE, xmaxE, yminE, ymaxE = EXTENT
    zrows, erows = [], []
    for zid in range(n_zones):
        cx = rng.uniform(xminE + 1.0, xmaxE - 1.0)
        cy = rng.uniform(yminE + 1.0, ymaxE - 1.0)
        w = float(np.exp(rng.uniform(np.log(0.2), np.log(1.8))))
        h = float(np.exp(rng.uniform(np.log(0.2), np.log(1.8))))
        kind = rng.random()
        if kind < 0.60:
            rings = [_rect(cx, cy, w, h)]
        elif kind < 0.85:
            npts = int(rng.integers(5, 11))
            pts = np.column_stack(
                [cx + rng.uniform(-w / 2, w / 2, npts), cy + rng.uniform(-h / 2, h / 2, npts)]
            )
            rings = [_convex_hull(pts)]
        elif kind < 0.95:  # outer CCW, hole CW
            rings = [_rect(cx, cy, w, h), _rect(cx, cy, w * 0.3, h * 0.3)[::-1].copy()]
        else:
            rings = [_rect(cx - w * 0.75, cy, w * 0.5, h), _rect(cx + w * 0.75, cy, w * 0.5, h)]
        srid = 3857 if rng.random() < 0.20 else 4326
        if srid == 3857:
            rings = [np.column_stack(proj.lonlat_to_mercator(r[:, 0], r[:, 1])) for r in rings]
        rings4326 = proj.transform_rings(rings, srid, 4326)
        zrows.append(
            dict(
                zone_id=zid,
                name=f"zone{zid:05d}",
                category=CATEGORIES[int(rng.integers(0, len(CATEGORIES)))],
                srid=srid,
                rings=[r.tolist() for r in rings],
                bbox=_bbox(rings),
                rings4326=[r.tolist() for r in rings4326],
                bbox4326=_bbox(rings4326),
            )
        )
        for r4 in rings4326:
            nxt = np.roll(r4, -1, axis=0)
            for (ex1, ey1), (ex2, ey2) in zip(r4, nxt):
                erows.append((zid, float(ex1), float(ey1), float(ex2), float(ey2)))
    bbox_t = pa.struct([(k, pa.float64()) for k in ("xmin", "ymin", "xmax", "ymax")])
    rings_t = pa.list_(pa.list_(pa.list_(pa.float64())))
    schema = pa.schema(
        [("zone_id", pa.int64()), ("name", pa.string()), ("category", pa.string()),
         ("srid", pa.int32()), ("rings", rings_t), ("bbox", bbox_t),
         ("rings4326", rings_t), ("bbox4326", bbox_t)]
    )
    pq.write_table(pa.Table.from_pylist(zrows, schema=schema), os.path.join(out, "zones.parquet"))
    e = np.array(erows)
    pq.write_table(
        pa.table(
            {"zone_id": pa.array(e[:, 0].astype(np.int64)),
             **{c: pa.array(e[:, i + 1]) for i, c in enumerate(("ex1", "ey1", "ex2", "ey2"))}}
        ),
        os.path.join(out, "zone_edges.parquet"),
    )


def raster_defs(shared_px: int, shifted_px: int) -> list:
    """(raster_id, band, input_rank, grid): four entries on one shared grid
    plus one on a shifted grid, all over the same geographic window."""
    shared = dict(
        origin_x=-120.0, origin_y=45.0, px_x=32.0 / shared_px, px_y=-32.0 / shared_px,
        width=shared_px, height=shared_px,
    )
    shifted = dict(
        origin_x=-119.87, origin_y=44.63, px_x=19.2 / shifted_px, px_y=-19.2 / shifted_px,
        width=shifted_px, height=shifted_px,
    )
    return [("r0", 1, 0, shared), ("r1", 1, 1, shared), ("r1", 2, 1, shared),
            ("r2", 1, 2, shared), ("r3", 1, 3, shifted)]


def write_rasters(out: str, seed: int, shared_px: int, shifted_px: int) -> None:
    rng = _rng(seed, _RASTERS)
    meta, tiles = [], []
    for raster_id, band, rank, grid in raster_defs(shared_px, shifted_px):
        meta.append(dict(raster_id=raster_id, band=band, input_rank=rank, nodata=NODATA, **grid))
        w, h = grid["width"], grid["height"]
        px = rng.integers(0, 256, size=(h, w)).astype(np.float64)
        px[rng.random((h, w)) < 0.05] = NODATA
        for ty in range(0, h, TILE):
            for tx in range(0, w, TILE):
                th, tw = min(TILE, h - ty), min(TILE, w - tx)
                tiles.append(
                    dict(raster_id=raster_id, band=band, input_rank=rank, nodata=NODATA,
                         tile_x=tx // TILE, tile_y=ty // TILE, tile_w=tw, tile_h=th,
                         pixels=px[ty:ty + th, tx:tx + tw].ravel().tolist(), **grid)
                )
    meta_schema = pa.schema(
        [("raster_id", pa.string()), ("band", pa.int32()), ("input_rank", pa.int32()),
         ("nodata", pa.float64()), ("origin_x", pa.float64()), ("origin_y", pa.float64()),
         ("px_x", pa.float64()), ("px_y", pa.float64()), ("width", pa.int32()), ("height", pa.int32())]
    )
    tile_schema = pa.schema(
        list(meta_schema)
        + [("tile_x", pa.int32()), ("tile_y", pa.int32()), ("tile_w", pa.int32()),
           ("tile_h", pa.int32()), ("pixels", pa.list_(pa.float64()))]
    )
    pq.write_table(pa.Table.from_pylist(meta, schema=meta_schema), os.path.join(out, "rasters.parquet"))
    pq.write_table(pa.Table.from_pylist(tiles, schema=tile_schema), os.path.join(out, "raster_tiles.parquet"))


def write_points(out: str, seed: int, n: int) -> None:
    rng = _rng(seed, _POINTS)
    xminE, xmaxE, yminE, ymaxE = EXTENT
    x = rng.uniform(xminE, xmaxE, n)
    y = rng.uniform(yminE, ymaxE, n)
    clustered = rng.random(n) < 0.15
    x = np.where(clustered, -100.0 + rng.normal(0, 0.01, n), x)
    y = np.where(clustered, 37.0 + rng.normal(0, 0.01, n), y)
    dup = rng.random(n) < 0.05
    dup[0] = False
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    x = np.where(dup, x[src], x)
    y = np.where(dup, y[src], y)
    # a remote group of six that only the ring-16 retry resolves, and one
    # lone point that only the brute-force tail does: every seed runs
    # every round of the ring expansion
    x[-7:-1] = rng.uniform(-72.0, -60.0, 6)
    y[-7:-1] = rng.uniform(0.0, 12.0, 6)
    x[-1], y[-1] = rng.uniform(-30.0, -25.0), rng.uniform(-60.0, -55.0)
    pq.write_table(
        pa.table(
            {"point_id": pa.array(np.arange(n, dtype=np.int64)),
             "srid": pa.array(np.full(n, 4326, dtype=np.int32)),
             "x": pa.array(x), "y": pa.array(y),
             "tag": pa.array(np.array(["a", "b", "c", "d"])[rng.integers(0, 4, n)].tolist())}
        ),
        os.path.join(out, "near_points.parquet"),
    )


if __name__ == "__main__":
    import sys

    # gen.py <cache_root> <seed> <sizes as JSON>: prints the table directory
    print(ensure(sys.argv[1], int(sys.argv[2]), json.loads(sys.argv[3])))
