"""Structured Streaming ingest edge (SURVEY §2.10).

The reference has zero streaming surface and parity scope needs none; this
is the optional ingest path for a continuously-arriving document corpus:
a file-source stream of spans-shaped parquet, watermarked event-time
windowed counts of geo spans per cell, written as an append stream.

Demonstrates: readStream with explicit schema (never inferred), watermark +
tumbling window, and the same native cell-index expression the batch join
uses — the streaming and batch paths share one logical encoding.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import DOCUMENTS
from ..operators.cells import cell_id
from ..operators.spatial_join import POINT_RX


def stream_documents(spark: SparkSession, input_dir: str, files_per_trigger: int = 8) -> DataFrame:
    """File-source stream over a directory of spans parquet files."""
    return (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(input_dir)
    )


def geo_span_cell_counts(
    docs_stream: DataFrame,
    res: int = 7,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    ts_col=None,
) -> DataFrame:
    """Windowed per-cell geo-span counts with late-data watermarking.

    Event time defaults to arrival (processing time) because the spans
    schema carries no timestamp — a real corpus would pass its ingest
    timestamp column as ``ts_col``. The replay gate passes a
    DETERMINISTIC event time derived from the doc id so the windows
    become a pure function of the data (oracle-checkable)."""
    ts = F.current_timestamp() if ts_col is None else ts_col
    pts = (
        docs_stream.select("doc_id", F.explode("spans").alias("s"))
        .filter((F.col("s.kind") == "geo") & F.col("s.text").startswith("POINT"))
        .select(
            "doc_id",
            F.regexp_extract("s.text", POINT_RX, 1).try_cast("double").alias("x"),
            F.regexp_extract("s.text", POINT_RX, 2).try_cast("double").alias("y"),
            ts.alias("ts"),
        )
        .withColumn("cell", cell_id(F.col("x"), F.col("y"), res))
    )
    return (
        pts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "cell")
        .agg(F.count("*").alias("n_spans"), F.approx_count_distinct("doc_id").alias("n_docs"))
    )


def stream_spatial_join(spark: SparkSession, docs_stream: DataFrame, zones: DataFrame) -> DataFrame:
    """Continuous flagship: the BATCH spatial-join operator applied verbatim
    to a streaming documents frame — every stage (explode, parse barrier,
    cell encode, broadcast zone join with bbox residual, Arrow PIP refine)
    is stateless or static-side, so the identical plan serves batch and
    stream; one logical encoding, two execution modes."""
    from ..operators.spatial_join import spatial_join_points

    return spatial_join_points(spark, docs_stream, zones, strategy="broadcast")


def _replay(spark, docs: DataFrame, n_batches: int, build_stream_df, mode: str):
    """Shared replay scaffolding: stage deterministic micro-batches, run
    `build_stream_df(stream)` to a memory sink in `mode`, drain, and pin
    the result to a plain local-relation DataFrame."""
    import shutil
    import tempfile
    import uuid

    from .replay import stage_micro_batches

    work = tempfile.mkdtemp(prefix="gcp-stream-replay-")
    qname = f"stream_replay_{uuid.uuid4().hex[:12]}"
    try:
        stream_dir = os.path.join(work, "in")
        staged = docs.select("doc_id", "spans")
        stage_micro_batches(staged, stream_dir, n_batches)
        stream = (
            spark.readStream.schema(staged.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        out = build_stream_df(stream)
        q = (
            out.writeStream.outputMode(mode)
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        rows = spark.table(qname).collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        try:
            spark.catalog.dropTempView(qname)
        except Exception:
            pass
        shutil.rmtree(work, ignore_errors=True)


def deterministic_event_time(id_col: str = "doc_id", span_seconds: int = 180):
    """Pure event-time synthesis for replay gates: epoch seconds =
    1_600_000_000 + (md5 hex digits 9..16 of the doc id, mod `span_seconds`)
    — every span of a doc shares its doc's timestamp, the corpus spreads
    across `span_seconds`/60 one-minute windows, and the oracle reproduces
    the draw with the same substr(md5(...), 9, 8) arithmetic."""
    epoch = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 9, 8), 16, 10)
        .cast("long")
        % span_seconds
        + F.lit(1_600_000_000)
    )
    return F.timestamp_seconds(epoch)


def replay_cell_counts(
    spark: SparkSession, docs: DataFrame, n_batches: int = 3, res: int = 7
) -> DataFrame:
    """Deterministic replay of the watermarked windowed cell-count stream
    -> (win_start, cell, n_spans) as a batch DataFrame. outputMode
    'complete' so the memory sink holds the FINAL window table (update
    mode would accumulate stale partials per trigger). The
    approx_count_distinct(doc_id) column is intentionally excluded from
    the gate output — HLL sketches are approximate and engine-specific;
    the exact n_spans count is the oracle-checkable surface."""
    cc = lambda stream: geo_span_cell_counts(  # noqa: E731
        stream, res=res, ts_col=deterministic_event_time()
    ).select(
        F.col("w.start").cast("long").alias("win_start"),
        "cell",
        F.col("n_spans").cast("long").alias("n_spans"),
    )
    return _replay(spark, docs, n_batches, cc, "complete")


def replay_stream_spatial_join(
    spark: SparkSession, docs: DataFrame, zones, n_batches: int = 3
) -> DataFrame:
    """Deterministic replay of the CONTINUOUS flagship (the batch spatial
    join operator applied verbatim to a file-source stream): the appended
    union across micro-batches must equal the batch join on the same docs
    — same oracle as the batch PIP gate. The join is stateless
    (static-broadcast zone side), so exactly-once file-source semantics
    make the replay's output a pure function of the input table."""
    return _replay(
        spark,
        docs,
        n_batches,
        lambda stream: stream_spatial_join(spark, stream, zones),
        "append",
    )


def run_to_memory(spark: SparkSession, input_dir: str, query_name: str = "cell_counts"):
    """Start the pipeline against a memory sink (tests / demos); returns the
    StreamingQuery — caller awaits/stops it."""
    counts = geo_span_cell_counts(stream_documents(spark, input_dir))
    return (
        counts.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )
