"""Checkpoint table + resumable stage runner (SURVEY §1.2 table 4, §3.2).

Design (no Iceberg jars in this sandbox — SURVEY §7 hard-part 3, so the
commit protocol is Iceberg-flavored on plain parquet):

- A *stage run* partitions its input by a deterministic bucket key
  ``pmod(xxhash64(key), n_buckets)`` — reproducible across runs, so resume
  keys are stable (SURVEY §4 custom decision 4).
- Output lands under ``<base>/<stage>/data/bucket=<b>/`` (parquet,
  partitioned write). The checkpoint table gets one row PER BUCKET:
  (run_id, stage, partition_id, input_rows, output_rows, status, wall_ms,
  written_at) — the per-partition lineage + metrics the north rule requires.
  The row counts are observed on the one write that processes the buckets
  (no count job of their own); ``wall_ms`` is the wall of the call that
  processed the bucket, shared by every bucket of that call.
- Commits are atomic: checkpoint rows are written to a temp file then
  os.rename'd into the manifest directory; a crashed run leaves no partial
  manifest entry, so its buckets re-run on resume.
- Resume = read committed bucket ids, anti-join (filter) the input down to
  incomplete buckets, process ONLY those, append their rows. Completed
  buckets are never recomputed (verified by the lineage counts in tests).

The transform must be bucket-local w.r.t. the chosen key (true for all
per-document pipelines: the key is doc_id).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from datetime import datetime, timezone

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

BUCKET_COL = "__bucket"


class CheckpointStore:
    """Manifest-committed parquet checkpoint table (Iceberg-ish commits)."""

    def __init__(self, base_dir: str):
        self.base = base_dir
        self.meta_dir = os.path.join(base_dir, "_checkpoint")
        os.makedirs(self.meta_dir, exist_ok=True)

    def committed(self, run_id: str, stage: str) -> pd.DataFrame:
        frames = []
        for f in sorted(os.listdir(self.meta_dir)):
            if f.endswith(".parquet"):
                frames.append(pq.read_table(os.path.join(self.meta_dir, f)).to_pandas())
        if not frames:
            return pd.DataFrame(
                columns=[
                    "run_id",
                    "stage",
                    "partition_id",
                    "input_rows",
                    "output_rows",
                    "status",
                    "wall_ms",
                    "written_at",
                ]
            )
        allr = pd.concat(frames, ignore_index=True)
        return allr[(allr.run_id == run_id) & (allr.stage == stage) & (allr.status == "done")]

    def commit(self, rows: list[dict]) -> None:
        if not rows:
            return
        tbl = pa.Table.from_pylist(rows)
        tmp = os.path.join(self.meta_dir, f".tmp-{uuid.uuid4().hex}")
        final = os.path.join(self.meta_dir, f"commit-{int(time.time()*1000)}-{uuid.uuid4().hex[:6]}.parquet")
        pq.write_table(tbl, tmp)
        os.rename(tmp, final)  # atomic publish

    def lineage(self, spark: SparkSession) -> DataFrame:
        files = [
            os.path.join(self.meta_dir, f)
            for f in os.listdir(self.meta_dir)
            if f.endswith(".parquet")
        ]
        if not files:
            raise FileNotFoundError("no checkpoint commits yet")
        return spark.read.parquet(*files)


def _todo_rows(df: DataFrame, bucket: Column, todo: list[int]) -> tuple[DataFrame, Observation]:
    """The rows of `df` in the `todo` buckets, tagged with their bucket, and
    an ``Observation`` of each bucket's row count that the first action
    running the returned frame fills in."""
    seen = Observation()
    counts = [F.count_if(F.col(BUCKET_COL) == b).alias(str(b)) for b in todo]
    df = df.withColumn(BUCKET_COL, bucket).filter(F.col(BUCKET_COL).isin(todo))
    return df.observe(seen, *counts), seen


def run_stage(
    spark: SparkSession,
    store: CheckpointStore,
    run_id: str,
    stage: str,
    input_df: DataFrame,
    key_col: str,
    transform,
    n_buckets: int = 32,
    max_buckets: int | None = None,
) -> DataFrame:
    """Run `transform` over the input resumably; returns the full stage
    output (all committed buckets). `max_buckets` caps how many incomplete
    buckets this invocation processes (used to exercise partial runs).

    The buckets of one call are written by ONE Spark action; their
    ``input_rows``/``output_rows`` are observed on that write (an
    ``Observation`` on the bucketed input and one on the written frame), so
    the lineage costs no job of its own. The counts are exact when the
    write reads each input row once:

    - the transform's result must be computed from its input: a write that
      never reads the input leaves the input observation empty, and the
      call blocks waiting for it;
    - the transform must not run its own action over its input first (the
      input observation fills in on the FIRST action that reads it);
    - a ``limit`` inside the transform stops the input scan early, so
      ``input_rows`` under-counts (a probe counted 40 of 1,000 rows);
    - input rows observed inside a shuffle-map stage can over-count if
      Spark retries that stage.
    """
    data_dir = os.path.join(store.base, stage, "data")
    if key_col not in input_df.columns:
        raise ValueError(f"key column {key_col!r} not in input")
    bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
    done = set(store.committed(run_id, stage)["partition_id"].tolist())
    todo = sorted(set(range(n_buckets)) - done)
    if max_buckets is not None:
        todo = todo[:max_buckets]

    schema = None
    if todo:
        # a crashed run may have written data for buckets that never reached
        # the manifest commit — wipe those so re-processing stays idempotent
        for b in todo:
            shutil.rmtree(os.path.join(data_dir, f"{BUCKET_COL}={b}"), ignore_errors=True)
        t0 = time.monotonic()
        part, seen_in = _todo_rows(input_df, bucket, todo)
        transformed = transform(part.drop(BUCKET_COL))
        if key_col not in transformed.columns:
            raise ValueError(
                f"transform must preserve the bucket key column {key_col!r} "
                "(resume identity depends on it)"
            )
        out, seen_out = _todo_rows(transformed, bucket, todo)
        out.write.mode("append").partitionBy(BUCKET_COL).parquet(data_dir)
        in_counts, out_counts = seen_in.get, seen_out.get
        wall = (time.monotonic() - t0) * 1000.0
        schema = out.schema
        now = datetime.now(timezone.utc)
        store.commit(
            [
                dict(
                    run_id=run_id,
                    stage=stage,
                    partition_id=int(b),
                    input_rows=int(in_counts[str(b)]),
                    output_rows=int(out_counts[str(b)]),
                    status="done",
                    wall_ms=wall,
                    written_at=now,
                )
                for b in todo
            ]
        )

    done_now = set(store.committed(run_id, stage)["partition_id"].tolist())
    if not done_now:
        return spark.createDataFrame([], input_df.schema)
    reader = spark.read if schema is None else spark.read.schema(schema)
    result = reader.parquet(data_dir)
    return result.filter(F.col(BUCKET_COL).isin(sorted(done_now))).drop(BUCKET_COL)
