"""Column cell index (operators/cells.py) == its numpy twin (kernels/cells.py),
on random points and on the grid's edges: lon ±180, lat ±90, values just
past the domain and exact res-7 / res-9 cell borders. One DataFrame, one
collect per function."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_common_python_spark.kernels import cells as cellk
from gdal_common_python_spark.operators import cells
from gdal_common_python_spark.operators.layout import grid_disk

RES = (7, 9)


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.default_rng(20)
    x = [rng.uniform(-180.0, 180.0, 300)]
    y = [rng.uniform(-90.0, 90.0, 300)]
    # the domain's edges, and values just past them
    ex = [-180.0, 180.0, -180.0, 180.0, np.nextafter(180.0, 200.0), -180.5, 181.0, 0.0]
    ey = [-90.0, 90.0, 90.0, -90.0, np.nextafter(-90.0, -100.0), 90.25, -91.0, 0.0]
    x.append(ex)
    y.append(ey)
    # exact cell borders k * 360 / 2^res - 180 (and k * 180 / 2^res - 90)
    for res in RES:
        w, h = cellk.cell_size(res)
        k = np.array([0, 1, 2, (1 << res) // 2, (1 << res) - 1, 1 << res])
        x.append(k * w - 180.0)
        y.append(k[::-1] * h - 90.0)
    x, y = np.concatenate(x), np.concatenate(y)
    d = rng.uniform(0.0, 3.0, (2, len(x)))
    pdf = pd.DataFrame(dict(id=np.arange(len(x)), x=x, y=y, dx=d[0], dy=d[1]))
    return pdf, spark.createDataFrame(pdf)


def _by_id(rows, col):
    out = {}
    for r in rows:
        out.setdefault(r.id, set()).add(r[col])
    return out


def test_cell_id_equals_encode(pts):
    pdf, df = pts
    got = df.select("id", *[cells.cell_id(F.col("x"), F.col("y"), r).alias(f"c{r}") for r in RES])
    got = got.toPandas().sort_values("id")
    for r in RES:
        np.testing.assert_array_equal(got[f"c{r}"].to_numpy(), cellk.encode(pdf.x, pdf.y, r))


def test_parent_equals_parent(pts):
    pdf, df = pts
    c9 = cells.cell_id(F.col("x"), F.col("y"), 9)
    levels = (9, 8, 7, 3, 0)
    got = df.select("id", *[cells.parent(c9, 9, r).alias(f"p{r}") for r in levels])
    got = got.toPandas().sort_values("id")
    fine = cellk.encode(pdf.x, pdf.y, 9)
    for r in levels:
        np.testing.assert_array_equal(got[f"p{r}"].to_numpy(), cellk.parent(fine, r))


def test_cover_equals_cover_bbox(pts):
    pdf, df = pts
    parts = [
        cells.cover_bbox(
            df, F.col("x"), F.col("y"), F.col("x") + F.col("dx"), F.col("y") + F.col("dy"), r
        ).select("id", F.lit(r).alias("res"), cells.pack(r, F.col("ix"), F.col("iy")).alias("cell"))
        for r in RES
    ]
    rows = parts[0].unionByName(parts[1]).collect()
    for r in RES:
        got = _by_id([row for row in rows if row.res == r], "cell")
        for p in pdf.itertuples():
            want = cellk.cover_bbox(p.x, p.y, p.x + p.dx, p.y + p.dy, r)
            assert got[p.id] == set(want.tolist()), (r, p)


def test_grid_disk_equals_disk(pts):
    pdf, df = pts
    k = 2
    parts = [
        grid_disk(
            df.select("id", F.lit(r).alias("res"), cells.cell_id(F.col("x"), F.col("y"), r).alias("cell")),
            r, k,
        )
        for r in RES
    ]
    rows = parts[0].unionByName(parts[1]).collect()
    for r in RES:
        got = _by_id([row for row in rows if row.res == r], "neighbor")
        for i, c in enumerate(cellk.encode(pdf.x, pdf.y, r)):
            assert got[pdf.id[i]] == set(cellk.disk(c, k).tolist()), (r, pdf.x[i], pdf.y[i])


def test_bound_equals_ring_min_distance(pts):
    pdf, df = pts
    x, y = F.col("x"), F.col("y")
    cols = []
    for r in RES:
        _, ix, iy = cells.unpack(cells.cell_id(x, y, r))
        cols += [cells.ring_min_distance(x, y, ix, iy, k, r).alias(f"b{r}_{k}") for k in (1, 4, 16)]
    got = df.select("id", *cols).toPandas().sort_values("id")
    for r in RES:
        for k in (1, 4, 16):
            want = [
                cellk.ring_min_distance(c, k, px, py)
                for c, px, py in zip(cellk.encode(pdf.x, pdf.y, r), pdf.x, pdf.y)
            ]
            np.testing.assert_array_equal(got[f"b{r}_{k}"].to_numpy(), np.asarray(want))
