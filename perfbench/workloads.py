"""The benchmark workloads.

Each workload opens its generated tables once, then runs jobs. A job calls
the engine's public functions exactly as an application would, sends the
result to Spark's ``noop`` sink and calls ``operators.util.release`` on it.
The result's fingerprint (row count plus two order-independent hash sums)
is collected by an ``Observation`` in the same pass, so checking that every
job returns the same rows as the first costs no extra Spark job.

The first job of a run collects its output instead, and ``check``
compares it, outside the timed region, with the engine's DuckDB oracle
SQL (``__spark_entry__.oracle_sql``, retargeted at the
generated tables or at a seeded subset of them). ``probe`` runs once per
traced run and measures single layers through their public pieces.

Why these three: ``zonal_raster`` is the raster-vector layer with no
document scan; ``knn_rings`` is the iterative, shuffle-heavy layer;
``checkpoint_resume`` runs the flagship point-in-polygon join (scan, point
parse, broadcast cell join, Arrow PIP kernel) as a resumable stage, so it
carries both the join's read path and the stage's write path. Each run
pays a cold JVM and Python-worker start before it can time anything, so
the flagship join has no workload of its own; its layers are measured
inside ``checkpoint_resume``.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import time

import duckdb
import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import Observation, functions as F

import __spark_entry__ as contract
from gdal_common_python_spark.kernels import cells as cellk, geom
from gdal_common_python_spark.operators import knn as knn_ops, spatial_join as sj
from gdal_common_python_spark.operators import tile_assign as ta, util, zonal
from gdal_common_python_spark.streaming import checkpoint as ckpt
from spans import null_span

_obs_ids = itertools.count()


def run_noop(df, keep: list | None = None) -> tuple:
    """Write `df` to the noop sink; return its fingerprint. With `keep`,
    collect the rows into it instead (same fingerprint, one pass)."""
    obs = Observation(f"fp{next(_obs_ids)}")
    h = F.xxhash64(*df.columns)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(h, F.lit(1 << 40))).alias("h1"),
        F.bit_xor(h).alias("h2"),
    )
    if keep is None:
        observed.write.format("noop").mode("overwrite").save()
    else:
        keep.extend(observed.collect())
    m = obs.get
    return (m["rows"], m["h1"], m["h2"])


def _timed(fn, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def _oracle(name: str, table_dir: str) -> list[tuple]:
    sql = contract.oracle_sql()[name].replace(contract.S01, table_dir)
    with duckdb.connect() as con:
        con.execute("SET threads TO 2")
        return con.sql(sql).fetchall()


def _project(rows, cols) -> list[tuple]:
    return [tuple(r[c] for c in cols) for r in rows]


def _same(engine: list[tuple], oracle: list[tuple]) -> bool:
    return sorted(engine, key=repr) == sorted(oracle, key=repr)


def _subset_docs(src: str, dst: str, ids) -> None:
    os.makedirs(os.path.join(dst, "documents_spans.parquet"))
    tbl = ds.dataset(os.path.join(src, "documents_spans.parquet")).to_table(
        filter=ds.field("doc_id").isin(ids)
    )
    pq.write_table(tbl, os.path.join(dst, "documents_spans.parquet", "part-0000.parquet"))


def _copy(src: str, dst: str, *names: str) -> None:
    for n in names:
        shutil.copyfile(os.path.join(src, n), os.path.join(dst, n))


def _subset_rows(src: str, dst: str, name: str, col: str, keep) -> None:
    tbl = ds.dataset(os.path.join(src, name)).to_table(filter=ds.field(col).isin(keep))
    pq.write_table(tbl, os.path.join(dst, name))


class Workload:
    name = ""
    sizes: dict = {}
    tiny: dict = {}

    def __init__(self, spark, table_dir: str, work_dir: str, seed: int, tiny: bool):
        self.spark = spark
        self.dir = table_dir
        self.work = work_dir
        self.seed = seed
        self.cfg = self.tiny if tiny else self.sizes
        self.extra: dict = {}
        # set for the first job, which collects its outputs into `kept` for
        # the oracle check instead of sending them to the noop sink
        self.collecting = False
        self.kept: dict[str, list] = {}

    def sink(self, name: str, df) -> tuple:
        return run_noop(df, self.kept.setdefault(name, []) if self.collecting else None)

    def read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.dir, f"{name}.parquet"))

    def reset(self) -> None:
        """Untimed preparation before each job."""

    def oracle_dir(self) -> str:
        d = os.path.join(self.work, "oracle")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d


class ZonalRaster(Workload):
    name = "zonal_raster"
    sizes = {"zones": 400, "raster": [288, 224]}
    tiny = {"zones": 30, "raster": [64, 64]}
    n_oracle_zones = 24

    def open(self) -> int:
        self.zones = self.read("zones")
        self.rasters = self.read("rasters")
        self.tiles = self.read("raster_tiles")
        shared, shifted = self.cfg["raster"]
        return 4 * shared * shared + shifted * shifted

    def job(self, span) -> tuple:
        with span("tile_assign.call"):
            win = ta.tile_assign(self.zones, self.rasters)
        with span("tile_assign.exec"):
            fp_w = self.sink("windows", win)
        with span("zonal.build"):
            stats, counts = zonal.zonal_statistics(
                self.spark, self.zones, self.rasters, self.tiles, hash_safe=True
            )
        with span("zonal.exec"):
            fp_s = self.sink("stats", stats)
        with span("util.release"):
            util.release(stats)
            util.release(counts)
        return fp_w + fp_s

    def check(self) -> bool:
        """The first job's windows and stats for a seeded zone subset (each
        zone's rows depend on that zone alone) against the oracle run on
        just those zones."""
        d = self.oracle_dir()
        rng = np.random.default_rng([self.seed, 98])
        n = self.cfg["zones"]
        keep = sorted(int(z) for z in rng.choice(n, size=min(self.n_oracle_zones, n), replace=False))
        _subset_rows(self.dir, d, "zones.parquet", "zone_id", keep)
        _subset_rows(self.dir, d, "zone_edges.parquet", "zone_id", keep)
        _copy(self.dir, d, "rasters.parquet", "raster_tiles.parquet")
        zs = set(keep)
        win = _project(
            (r for r in self.kept["windows"] if r["zone_id"] in zs),
            ("zone_id", "raster_id", "band", "win_ox", "win_oy", "res_x", "res_y", "off_x", "off_y"),
        )
        st = [tuple(r) for r in self.kept["stats"] if r["zone_id"] in zs]
        return _same(win, _oracle("tile_assignment", d)) and _same(st, _oracle("zonal_stats", d))

    def probe(self, span) -> dict:
        ring_cols = self.zones.select("zone_id", "rings4326")
        with span("util.broadcastable") as rec:
            bc_s = _timed(lambda: util.broadcastable(ring_cols, 500_000), reps=1)
        with span("zonal.window_tiles"):
            cand = zonal.window_tiles(self.zones, self.rasters, self.tiles, 32).drop("pixels")
            cpdf = cand.toPandas()
        zpdf = self.zones.select("zone_id", "rings4326").toPandas()
        rings = {int(z): geom.rings_from_cell(r) for z, r in zip(zpdf["zone_id"], zpdf["rings4326"])}
        rows = list(cpdf.itertuples(index=False))
        with span("zonal.row_tile_mask"):
            qcache: dict = {}
            t = time.perf_counter()
            for row in rows:
                zonal.row_tile_mask(row, rings[int(row.zone_id)], 32, qcache)
            mask_s = time.perf_counter() - t
        return {
            "util.broadcastable_s": bc_s,
            "util.broadcastable_jobs": rec["spark_jobs"],
            "zonal.candidate_tiles": len(rows),
            "zonal.mask_tiles_per_s": len(rows) / max(mask_s, 1e-9),
        }


class KnnRings(Workload):
    name = "knn_rings"
    sizes = {"points": 5_000}
    tiny = {"points": 300}
    k, res = 5, 7

    def open(self) -> int:
        self.points = self.read("near_points")
        return self.cfg["points"]

    def job(self, span) -> tuple:
        with span("knn.build"):
            out = knn_ops.knn(self.spark, self.points, k=self.k, res=self.res)
        with span("knn.exec"):
            fp = self.sink("knn", out)
        with span("util.release"):
            util.release(out)
        return fp

    def check(self) -> bool:
        """The first job's neighbours of every point against the oracle."""
        return _same([tuple(r) for r in self.kept["knn"]], _oracle("knn", self.dir))

    def probe(self, span) -> dict:
        """Recount the ring expansion knn() runs: round 1 searches the 3x3
        cell disk, unresolved points retry with rings 4 and 16, and what is
        left goes to the brute-force tail."""
        pdf = self.points.select("point_id", "x", "y").toPandas()
        ids = pdf["point_id"].to_numpy()
        x, y = pdf["x"].to_numpy(), pdf["y"].to_numpy()
        n = 1 << self.res
        w, h = 360.0 / n, 180.0 / n
        cx, cy = np.floor((x + 180.0) / w), np.floor((y + 90.0) / h)

        def resolve(q: np.ndarray, ring: int) -> tuple[np.ndarray, int]:
            ok = np.zeros(len(q), dtype=bool)
            pairs = 0
            for s in range(0, len(q), 256):
                qi = q[s:s + 256]
                near = (np.abs(cx[None, :] - cx[qi, None]) <= ring) & (np.abs(cy[None, :] - cy[qi, None]) <= ring)
                near &= ids[None, :] != ids[qi, None]
                d = np.where(near, np.hypot(x[None, :] - x[qi, None], y[None, :] - y[qi, None]), np.inf)
                cnt = near.sum(axis=1)
                pairs += int(cnt.sum())
                kth = np.partition(d, self.k - 1, axis=1)[:, self.k - 1] if d.shape[1] >= self.k else np.full(len(qi), np.inf)
                bound = np.minimum.reduce([
                    x[qi] - ((cx[qi] - ring) * w - 180.0),
                    ((cx[qi] + ring + 1) * w - 180.0) - x[qi],
                    y[qi] - ((cy[qi] - ring) * h - 90.0),
                    ((cy[qi] + ring + 1) * h - 90.0) - y[qi],
                ])
                ok[s:s + len(qi)] = (cnt >= self.k) & (kth <= bound)
            return q[~ok], pairs

        with span("knn.recount"):
            rest, first_pairs = resolve(np.arange(len(ids)), 1)
            rounds = 0
            for ring in (4, 16):
                if len(rest) == 0:
                    break
                rounds += 1
                rest, _ = resolve(rest, ring)
        return {
            "knn.ring_rounds": rounds,
            "knn.fallback_points": len(rest),
            "knn.candidates_per_point": first_pairs / max(len(ids), 1),
        }


class CheckpointResume(Workload):
    """The flagship point-in-polygon join (scan, point parse, broadcast cell
    join, Arrow PIP kernel) run as a resumable checkpointed stage: the first
    call processes half the buckets, a second call resumes the rest. The
    job therefore carries both the join's read path and the stage's write
    path (partitioned parquet writes, manifest commits, count jobs)."""

    name = "checkpoint_resume"
    sizes = {"docs": 60_000, "shards": 4, "zones": 400}
    tiny = {"docs": 2_000, "shards": 2, "zones": 50}
    n_buckets, first_buckets = 16, 8
    run_id, stage = "bench", "pip"
    n_oracle_docs = 3_000

    def open(self) -> int:
        self.docs = self.read("documents_spans")
        self.zones = self.read("zones")
        self.store_dir = os.path.join(self.work, "checkpoint")
        return self.cfg["docs"]

    def reset(self) -> None:
        shutil.rmtree(self.store_dir, ignore_errors=True)

    def _stage(self, store, span, max_buckets):
        def transform(df):
            with span("spatial_join.build"):
                return sj.spatial_join_points(self.spark, df, self.zones, strategy="auto")

        return ckpt.run_stage(
            self.spark, store, self.run_id, self.stage, self.docs, "doc_id", transform,
            n_buckets=self.n_buckets, max_buckets=max_buckets,
        )

    def job(self, span) -> tuple:
        store = ckpt.CheckpointStore(self.store_dir)
        with span("checkpoint.partial"):
            self._stage(store, span, self.first_buckets)
        with span("checkpoint.resume"):
            t = time.perf_counter()
            out = self._stage(store, span, None)
            self.extra["resume_s"] = time.perf_counter() - t
        with span("checkpoint.exec"):
            fp = self.sink("stage", out)
        with span("util.release"):
            util.release(out)
        return fp

    def check(self) -> bool:
        """The first job's partial run plus resume must equal an
        uninterrupted run row for row, and the join must match the oracle
        on a seeded doc subset."""
        base = os.path.join(self.work, "uninterrupted")
        shutil.rmtree(base, ignore_errors=True)
        cols = ["doc_id", "offset", "zone_id"]
        whole = [tuple(r) for r in self._stage(ckpt.CheckpointStore(base), null_span, None).select(*cols).collect()]
        resumed = _project(self.kept["stage"], cols)
        shutil.rmtree(base, ignore_errors=True)

        n = self.cfg["docs"]
        rng = np.random.default_rng([self.seed, 99])
        ids = [f"s{self.seed}-d{i:09d}" for i in sorted(rng.choice(n, size=min(self.n_oracle_docs, n), replace=False))]
        d = self.oracle_dir()
        _subset_docs(self.dir, d, ids)
        _copy(self.dir, d, "zones.parquet", "zone_edges.parquet")
        idset = set(ids)
        subset = [r for r in whole if r[0] in idset]
        return _same(resumed, whole) and _same(subset, _oracle("spatial_join_pip", d))

    def probe(self, span) -> dict:
        return {**self._join_probe(span), **self._checkpoint_probe(span)}

    def _join_probe(self, span) -> dict:
        """The join's layers over all docs, through its public pieces."""
        docs, zones, spark = self.docs, self.zones, self.spark
        with span("spatial_join.build"):
            out = sj.spatial_join_points(spark, docs, zones, strategy="auto")
        with span("spatial_join.exec"):
            t = time.perf_counter()
            hits = run_noop(out)[0]
            exec_s = time.perf_counter() - t
        util.release(out)
        with span("sources.scan"):
            scan_s = _timed(lambda: run_noop(sj.geo_spans(docs)))
        with span("spatial_join.geo_points"):
            gp_s = _timed(lambda: run_noop(sj.geo_points(docs)))
        ring_cols = zones.select("zone_id", "rings4326")
        with span("util.broadcastable") as rec:
            bc_s = _timed(lambda: util.broadcastable(ring_cols, 2_000_000), reps=1)
        # the resolution spatial_join_points picks, from the same public pieces
        rect = sj.rectified_zone_rings(zones.select("zone_id", "srid", "rings", "rings4326").toPandas())
        widths = np.asarray([geom.rings_bbox(r)[2] - geom.rings_bbox(r)[0] for r in rect.values()])
        res = cellk.pick_resolution(widths)
        with span("spatial_join.candidates"):
            pts = sj.geo_points(docs).withColumn("cell", sj.cell_expr(F.col("x"), F.col("y"), res))
            zc = sj.zone_cells(spark, zones, res, with_bbox=True)
            cpdf = sj.bbox_prefilter(pts.join(F.broadcast(zc), "cell")).select("x", "y", "zone_id").toPandas()
        edges = {z: geom.rings_to_edges(r) for z, r in rect.items()}
        zi = cpdf["zone_id"].to_numpy()
        xs, ys = cpdf["x"].to_numpy(), cpdf["y"].to_numpy()
        with span("geom.points_in_rings"):
            # zone runs, as the engine's PIP UDF batches them
            t = time.perf_counter()
            order = np.argsort(zi, kind="stable")
            zs = zi[order]
            starts = np.concatenate([[0], np.flatnonzero(np.diff(zs)) + 1, [len(zs)]])
            for s0, s1 in zip(starts[:-1], starts[1:]):
                idx = order[s0:s1]
                geom.points_in_rings(xs[idx], ys[idx], edges[int(zs[s0])])
            kernel_s = time.perf_counter() - t
        n_cand = len(cpdf)
        return {
            "spatial_join.exec_s": exec_s,
            "spatial_join.hits": hits,
            "sources.scan_s": scan_s,
            "spatial_join.geo_points_s": gp_s,
            "util.broadcastable_s": bc_s,
            "util.broadcastable_jobs": rec["spark_jobs"],
            "spatial_join.candidates": n_cand,
            "spatial_join.hit_ratio": hits / max(n_cand, 1),
            "geom.pip_pts_per_s": n_cand / max(kernel_s, 1e-9),
        }

    def _checkpoint_probe(self, span) -> dict:
        store = ckpt.CheckpointStore(self.store_dir)
        with span("checkpoint.committed"):
            committed_s = _timed(lambda: store.committed(self.run_id, self.stage))
        done = store.committed(self.run_id, self.stage)
        scratch = ckpt.CheckpointStore(os.path.join(self.work, "commit_probe"))
        rows = done.head(self.first_buckets).to_dict("records")
        with span("checkpoint.commit"):
            commit_s = _timed(lambda: scratch.commit(rows))
        data = os.path.join(self.store_dir, self.stage, "data")
        written = sum(
            os.path.getsize(os.path.join(p, f))
            for p, _, files in os.walk(data) for f in files if f.endswith(".parquet")
        )
        return {
            "checkpoint.committed_s": committed_s,
            "checkpoint.commit_s": commit_s,
            "checkpoint.bytes_written_per_doc": written / self.cfg["docs"],
            "checkpoint.recomputed_buckets": len(done) - done["partition_id"].nunique(),
        }


WORKLOADS = {w.name: w for w in (ZonalRaster, KnnRings, CheckpointResume)}
