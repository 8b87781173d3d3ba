"""Resumability: a partial run + resume yields identical output with no
recomputation of completed partitions (SURVEY §5.2 item 3d)."""

import os
import time
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from gdal_common_python_spark.operators import spatial_join as sj
from gdal_common_python_spark.streaming.checkpoint import CheckpointStore, run_stage


def _transform(df):
    return df.withColumn("n_spans", F.size("spans")).select("doc_id", "n_spans")


def _drop_odd(df):
    return _transform(df).filter(F.col("n_spans") % 2 == 0)


def _per_span(df):
    return df.select("doc_id", F.posexplode("spans").alias("pos", "span")).select(
        "doc_id", "pos", F.col("span.kind").alias("kind")
    )


def _recount(df, n_buckets):
    """{bucket: rows}, an exact groupBy over the run's bucket key."""
    b = F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int").alias("b")
    return {r.b: r["count"] for r in df.groupBy(b).count().collect()}


def _assert_lineage(lineage, inp, out, n_buckets):
    """Each committed bucket's counts equal an exact recount of the input and
    of the transform's output."""
    rin, rout = _recount(inp, n_buckets), _recount(out, n_buckets)
    for r in lineage.itertuples():
        assert r.input_rows == rin.get(r.partition_id, 0), r
        assert r.output_rows == rout.get(r.partition_id, 0), r


@contextmanager
def _jobs(spark, group):
    """Collects the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    ids = []
    try:
        yield ids
    finally:
        sc._jsc.clearJobGroup()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_partial_then_resume(spark, docs, tmp_path):
    base = str(tmp_path / "ckpt_run")
    store = CheckpointStore(base)

    # full expected output (stateless reference run)
    expected = {(r.doc_id, r.n_spans) for r in _transform(docs).collect()}

    # partial run: only 5 of 16 buckets
    part = run_stage(
        spark, store, "run1", "spanstats", docs, "doc_id", _transform,
        n_buckets=16, max_buckets=5,
    )
    lineage1 = store.committed("run1", "spanstats")
    assert len(lineage1) == 5
    assert set(lineage1.status) == {"done"}
    n_partial = part.count()
    assert 0 < n_partial < len(expected)

    # resume: completes the remaining buckets only
    full = run_stage(
        spark, store, "run1", "spanstats", docs, "doc_id", _transform, n_buckets=16
    )
    got = {(r.doc_id, r.n_spans) for r in full.collect()}
    assert got == expected

    lineage2 = store.committed("run1", "spanstats")
    assert len(lineage2) == 16
    # the 5 original bucket rows are untouched (no recomputation): identical
    # written_at timestamps survive the resume
    first = lineage1.set_index("partition_id")["written_at"]
    second = lineage2.set_index("partition_id")["written_at"]
    for b in first.index:
        assert second[b] == first[b]
    # lineage counts reconcile with the data, bucket by bucket
    assert int(lineage2.input_rows.sum()) == docs.count()
    assert int(lineage2.output_rows.sum()) == len(expected)
    _assert_lineage(lineage2, docs, _transform(docs), 16)

    # idempotent: a third invocation processes nothing new
    again = run_stage(
        spark, store, "run1", "spanstats", docs, "doc_id", _transform, n_buckets=16
    )
    assert again.count() == len(expected)
    assert len(store.committed("run1", "spanstats")) == 16


def test_crash_cleanup(spark, docs, tmp_path):
    """Uncommitted bucket data from a crashed run is wiped, not duplicated."""
    base = str(tmp_path / "ckpt_crash")
    store = CheckpointStore(base)
    data_dir = os.path.join(base, "st", "data")
    # simulate a crash: bucket dir exists but no manifest commit
    os.makedirs(os.path.join(data_dir, "__bucket=3"), exist_ok=True)
    _transform(docs).limit(1).withColumn("__bucket", F.lit(3)).write.mode(
        "append"
    ).partitionBy("__bucket").parquet(data_dir)
    out = run_stage(spark, store, "r", "st", docs, "doc_id", _transform, n_buckets=4)
    expected = {(r.doc_id, r.n_spans) for r in _transform(docs).collect()}
    assert {(r.doc_id, r.n_spans) for r in out.collect()} == expected


def test_mid_join_resume(spark, docs, zones, tmp_path):
    """The north-rule form: the checkpointed stage IS the flagship spatial
    join (bucket-local per doc_id — the zone side broadcasts), so a run
    killed mid-join resumes without recomputing completed buckets and
    reproduces the stateless join exactly."""
    base = str(tmp_path / "ckpt_join")
    store = CheckpointStore(base)

    def join_t(df):
        return sj.spatial_join_points(spark, df, zones)

    expected = {
        (r.doc_id, r.offset, r.zone_id) for r in join_t(docs).collect()
    }

    part = run_stage(
        spark, store, "runj", "pipjoin", docs, "doc_id", join_t,
        n_buckets=8, max_buckets=3,
    )
    assert 0 < part.count() < len(expected)
    lineage1 = store.committed("runj", "pipjoin")
    assert len(lineage1) == 3

    full = run_stage(
        spark, store, "runj", "pipjoin", docs, "doc_id", join_t, n_buckets=8
    )
    got = {(r.doc_id, r.offset, r.zone_id) for r in full.collect()}
    assert got == expected
    lineage2 = store.committed("runj", "pipjoin")
    assert len(lineage2) == 8
    first = lineage1.set_index("partition_id")["written_at"]
    second = lineage2.set_index("partition_id")["written_at"]
    for b in first.index:
        assert second[b] == first[b]  # completed buckets never recomputed
    assert int(lineage2.input_rows.sum()) == docs.count()
    assert int(lineage2.output_rows.sum()) == len(expected)
    _assert_lineage(lineage2, docs, join_t(docs), 8)


@pytest.mark.parametrize("transform", [_drop_odd, _per_span], ids=["drop", "per_span"])
def test_lineage_matches_recount(spark, docs, tmp_path, transform):
    """Per-bucket input/output rows equal an exact recount for a transform
    that drops rows and one that emits several rows per doc, after a partial
    run and after its resume."""
    name = transform.__name__
    store = CheckpointStore(str(tmp_path / "ckpt"))
    run_stage(spark, store, "r", name, docs, "doc_id", transform, n_buckets=8, max_buckets=3)
    lineage = store.committed("r", name)
    assert len(lineage) == 3
    _assert_lineage(lineage, docs, transform(docs), 8)
    run_stage(spark, store, "r", name, docs, "doc_id", transform, n_buckets=8)
    lineage = store.committed("r", name)
    assert sorted(lineage.partition_id) == list(range(8))
    _assert_lineage(lineage, docs, transform(docs), 8)


def test_one_job_per_call(spark, docs, tmp_path):
    """A call that processes buckets runs exactly one Spark job (the write):
    its lineage is observed on that write and the returned frame is read
    with the written schema, so neither counts nor schema inference add a
    job. Each bucket's wall_ms is the wall of the call that processed it."""
    store = CheckpointStore(str(tmp_path / "ckpt_jobs"))
    for i, max_buckets in enumerate((5, None)):
        t = time.monotonic()
        with _jobs(spark, f"ckpt-jobs-{i}") as ids:
            run_stage(spark, store, "r", "s", docs, "doc_id", _transform,
                      n_buckets=16, max_buckets=max_buckets)
        call_ms = (time.monotonic() - t) * 1000.0
        assert len(ids) == 1, f"call {i} ran {len(ids)} Spark jobs"
        newest = store.committed("r", "s")
        newest = newest[newest.written_at == newest.written_at.max()]
        assert newest.wall_ms.nunique() == 1
        assert call_ms / 2 < newest.wall_ms.iloc[0] <= call_ms


def test_commit_crash_resumes(spark, docs, tmp_path, monkeypatch):
    """A crash between the data write and the manifest commit: the next call
    wipes and reruns those buckets, and the result equals an uninterrupted
    run row for row (no duplicates) with exact lineage."""
    cols = ["doc_id", "pos", "kind"]
    whole = run_stage(
        spark, CheckpointStore(str(tmp_path / "whole")), "r", "s", docs, "doc_id",
        _per_span, n_buckets=8,
    )
    expected = sorted(tuple(r) for r in whole.select(*cols).collect())

    store = CheckpointStore(str(tmp_path / "crash"))
    commit = CheckpointStore.commit
    calls = []

    def commit_once_fails(self, rows):
        calls.append(rows)
        if len(calls) == 1:
            raise OSError("injected crash before the manifest commit")
        return commit(self, rows)

    monkeypatch.setattr(CheckpointStore, "commit", commit_once_fails)
    with pytest.raises(OSError, match="injected crash"):
        run_stage(spark, store, "r", "s", docs, "doc_id", _per_span, n_buckets=8, max_buckets=3)
    assert store.committed("r", "s").empty
    assert os.listdir(os.path.join(str(tmp_path / "crash"), "s", "data"))  # data was written

    out = run_stage(spark, store, "r", "s", docs, "doc_id", _per_span, n_buckets=8)
    assert [r["partition_id"] for r in calls[1]] == list(range(8))  # crashed buckets rerun
    assert sorted(tuple(r) for r in out.select(*cols).collect()) == expected
    lineage = store.committed("r", "s")
    assert sorted(lineage.partition_id) == list(range(8))
    _assert_lineage(lineage, docs, _per_span(docs), 8)
