"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship spatial join at sf0.001.
``queries()`` exposes one callable per implemented operator (SURVEY.md §2 +
the training-data pipeline suite); ``oracle_sql()`` gives the DuckDB SQL the
driver compares against at sf0.01.

Geospatial queries run over the engine-synthesized spans-shaped tables
(BASELINE.json input_hint — the driver testdata documents table is flat);
the oracle SQL reads the same parquet via read_parquet() with ABSOLUTE
sf0.01 paths. Training-data queries run over the driver's pre-registered
views (documents, embeddings, events, lineitem, orders, customer).

Determinism policy for hash compares: gate outputs contain only values both
engines compute bit-identically — integers, strings, md5 hashes, and floats
produced by identical IEEE expression trees (+,-,*,/,sqrt on identical
inputs). Unordered float SUMs never reach a gate column (stats use exact
integer moments; rank queries order with explicit tie-breakers).
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from gdal_common_python_spark import synth
from gdal_common_python_spark.functions import dates as D
from gdal_common_python_spark.kernels.cells import IX_SHIFT, RES_SHIFT
from gdal_common_python_spark.operators import (
    cells,
    dedup,
    equi_join,
    knn as knn_ops,
    mosaic as mosaic_ops,
    multimodal,
    similarity,
    spatial_join as sj,
    temporal,
    text as text_ops,
    tile_assign as ta,
    zonal as zonal_ops,
)

# ---------------------------------------------------------------- helpers

S01 = synth.sf_dir("sf0.01")  # absolute path used inside oracle SQL
_TESTDATA01 = "/root/testdata/sf0.01"  # driver testdata the ANN oracle samples


def _sf_label(sf_dir: str) -> str:
    base = os.path.basename(sf_dir.rstrip("/"))
    return base if base in synth.SCALES else "sf0.01"


def _synth(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    d = synth.ensure(_sf_label(sf_dir))
    return spark.read.parquet(os.path.join(d, f"{table}.parquet"))


# tables whose consumers are map-compute-heavy (text/vector pipelines):
# a single-row-group parquet arrives as ONE scan split and serializes the
# whole map stage onto one core, so spread them (no-op when the source
# already carries >= cores splits — the corpus-scale case).
# lineitem/orders/events are left on their native splits: their consumers
# are scan+partial-agg or key-shuffle shapes where an up-front shuffle of
# the fact table costs more than the parallelism buys (measured:
# event_sessions 0.84 s -> 1.41 s with events spread here); the one
# map-heavy events consumer (interval_join's bucketing fan-out) spreads
# its own inputs inside the operator.
_SPREAD_TABLES = {"documents", "embeddings"}


def _t(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
    if table in _SPREAD_TABLES:
        from gdal_common_python_spark.operators.util import _spread

        df = _spread(df)
    return df


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: point-in-polygon spatial join of geo spans vs zones."""
    d = synth.ensure("sf0.001")
    docs = spark.read.parquet(os.path.join(d, "documents_spans.parquet"))
    zones = spark.read.parquet(os.path.join(d, "zones.parquet"))
    return sj.spatial_join_points(spark, docs, zones)


# ---------------------------------------------------------------- queries

def q_spatial_join_pip(spark, sf_dir):
    return sj.spatial_join_points(
        spark, _synth(spark, sf_dir, "documents_spans"), _synth(spark, sf_dir, "zones")
    )


def q_zone_corpus_profile(spark, sf_dir):
    """Per-zone corpus rollup ("training data by region"): distinct docs,
    geo points, text chars and geotagged media spans per zone — all-integer
    aggregates over the PIP join + media geotag, two shuffles total."""
    return sj.zone_corpus_profile(
        spark, _synth(spark, sf_dir, "documents_spans"), _synth(spark, sf_dir, "zones")
    )


def q_envelope(spark, sf_dir):
    """P11 per-feature envelope derived from rings — pure codegen (flatten
    + transform + array_min/max, no Arrow round trip); min/max are
    accumulation-order-free so the DuckDB list oracle hash-matches."""
    from gdal_common_python_spark import api

    z = _synth(spark, sf_dir, "zones").select(
        "zone_id", F.col("rings4326").alias("rings")
    )
    out = api.get_extent(z.drop("bbox")) if "bbox" in z.columns else api.get_extent(z)
    return out.select(
        "zone_id",
        F.col("bbox.xmin").alias("xmin"), F.col("bbox.ymin").alias("ymin"),
        F.col("bbox.xmax").alias("xmax"), F.col("bbox.ymax").alias("ymax"),
    )


def q_layer_extent(spark, sf_dir):
    """A7 layer extent: one map-side-combined min/max aggregate over the
    native per-feature envelopes."""
    from gdal_common_python_spark import api

    z = _synth(spark, sf_dir, "zones").select(
        "zone_id", F.col("rings4326").alias("rings")
    )
    return api.get_layer_extent(z)


def q_pack_interleaved(spark, sf_dir):
    """Multimodal concat-then-chop packing on the interleaved spans shape:
    span costs + kind sequence evaluate natively inside each doc's row;
    the only shuffle carries (doc_id, shard, cost) triples."""
    from gdal_common_python_spark.operators.curation import pack_interleaved

    return pack_interleaved(
        _synth(spark, sf_dir, "documents_spans"), capacity=256, media_budget=32
    )


def q_curated_packs(spark, sf_dir):
    """END-TO-END interleaved curation: content-identity dedup (text +
    kind seq + media refs) -> quality gate on concatenated text spans ->
    pack_interleaved. One lazy plan, two shuffles (dedup window + pack
    cost triples); span text never shuffles."""
    from gdal_common_python_spark.pipelines import curate_interleaved

    return curate_interleaved(_synth(spark, sf_dir, "documents_spans"))


def q_media_dedup(spark, sf_dir):
    """Cross-document media dedup over the interleaved spans shape: one
    map-side-combined groupBy(media_ref).min(struct) canonical table +
    an AQE-skew-safe equi-join back; text spans never move."""
    from gdal_common_python_spark.operators.multimodal import media_dedup

    return media_dedup(_synth(spark, sf_dir, "documents_spans"))


def q_caption_pairs(spark, sf_dir):
    """Captioning-pair extraction on the interleaved spans shape: each
    media span pairs with its nearest text span (ties to the preceding
    one) via a per-document HOF fold — ZERO shuffle, pure codegen."""
    from gdal_common_python_spark.operators.multimodal import caption_pairs

    return caption_pairs(_synth(spark, sf_dir, "documents_spans"))


def q_rewrite_dedup_media(spark, sf_dir):
    """Order-preserving doc rewrite after media dedup: non-canonical media
    spans struck, survivors re-bound to dense offsets; strike table is
    media-only (text never moves) and broadcast when small."""
    from gdal_common_python_spark.operators.multimodal import rewrite_dedup_media

    return rewrite_dedup_media(_synth(spark, sf_dir, "documents_spans"))


def q_span_kind_transitions(spark, sf_dir):
    """Interleaving-structure Markov profile: adjacent span-kind pair
    counts (+ BOS row per doc) — zip-shifted HOF pairs inside the scan,
    ZERO shuffle before one tiny map-side-combined groupBy."""
    from gdal_common_python_spark.operators.multimodal import span_kind_transitions

    return span_kind_transitions(_synth(spark, sf_dir, "documents_spans"))


def q_render_interleaved(spark, sf_dir):
    """Serialize-for-the-trainer: each interleaved doc flattens to one
    training string (text verbatim, media -> sentinel placeholder, geo
    dropped) plus span/char counts — ZERO shuffle, one projection with
    array HOF folds inside the scan."""
    from gdal_common_python_spark.operators.multimodal import render_interleaved

    return render_interleaved(_synth(spark, sf_dir, "documents_spans"))


def q_strip_boilerplate(spark, sf_dir):
    """Corpus-frequency boilerplate strip on the interleaved spans shape:
    text spans repeated in >= 3 distinct docs struck everywhere, survivors
    re-bound to dense offsets; doc-frequency shuffles md5(text) only and
    the boilerplate set joins back broadcast."""
    from gdal_common_python_spark.operators.curation import strip_boilerplate

    return strip_boilerplate(_synth(spark, sf_dir, "documents_spans"), min_doc_freq=3)


def q_scrub_contaminated(spark, sf_dir):
    """Span-level decontamination on the interleaved shape: text spans
    sharing any word 3-gram with the benchmark slice (md5(doc_id) first
    hex digit '0') struck from the corpus complement, survivors re-bound
    dense — removal, not flagging."""
    from gdal_common_python_spark.operators.curation import scrub_contaminated

    docs = _synth(spark, sf_dir, "documents_spans")
    is_bench = F.substring(F.md5(F.col("doc_id")), 1, 1) == "0"
    bench_txt = (
        docs.filter(is_bench)
        .select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "text")
        .select(F.col("s.text").alias("text"))
    )
    return scrub_contaminated(docs.filter(~is_bench), bench_txt, n=3)


def q_media_geotag(spark, sf_dir):
    """Interleaved-payload composition: media spans inherit the zone of the
    nearest preceding geo span in the same document — PIP join for the geo
    spans, then a join-free backward as-of keyed on doc_id (one hash
    shuffle + per-doc sort; no pairwise explosion). DuckDB mirror is an
    ASOF LEFT JOIN over the same grouped PIP subquery."""
    return sj.media_geotag(
        spark, _synth(spark, sf_dir, "documents_spans"), _synth(spark, sf_dir, "zones")
    )


def q_spatial_join_pip_salted(spark, sf_dir):
    """Same join, forced sort-merge + hot-cell salting physical path — must
    produce byte-identical rows (same oracle as spatial_join_pip)."""
    return sj.spatial_join_points(
        spark,
        _synth(spark, sf_dir, "documents_spans"),
        _synth(spark, sf_dir, "zones"),
        strategy="sortmerge",
        salt_threshold=500,
        n_salt=8,
    )


def q_spatial_join_pip_distributed(spark, sf_dir):
    """Same join, zero driver-side zone materialization (edge-join refine)
    — the plan for zone sides too large to collect/broadcast; must produce
    byte-identical rows (same oracle as spatial_join_pip)."""
    return sj.spatial_join_points_distributed(
        spark,
        _synth(spark, sf_dir, "documents_spans"),
        _synth(spark, sf_dir, "zones"),
        _synth(spark, sf_dir, "zone_edges"),
    )


def q_spatial_anti_join(spark, sf_dir):
    """Coverage-gap report: geo POINT spans in NO zone — the PIP join's
    matched (doc_id, offset) keys distinct-reduced feed a LEFT ANTI join
    against the point stream; shuffle carries keys + 2 doubles, never
    span text. DuckDB mirror: NOT EXISTS over the same ray-cast PIP
    subquery."""
    return sj.spatial_anti_join(
        spark, _synth(spark, sf_dir, "documents_spans"), _synth(spark, sf_dir, "zones")
    )


def q_track_profile(spark, sf_dir):
    """Terrain-under-trajectory report: every geo point sampled against
    every raster band (shared R1 trunc rule + tile-key equi-join), then
    per-(track, band) gain/loss in floor-quantized micro-units (order-free
    integer sums) with order-free min/max — hash-exact."""
    from gdal_common_python_spark.operators.sample import track_profile

    return track_profile(
        _synth(spark, sf_dir, "documents_spans"),
        _synth(spark, sf_dir, "raster_tiles"),
        tile_size=32,
    )


def q_route_zone_sequence(spark, sf_dir):
    """Itinerary extraction: ordered zone sequence per document track
    (consecutive repeats collapsed, dense re-rank) — after the PIP join
    everything is three window passes in ONE doc_id hash partition."""
    return sj.route_zone_sequence(
        spark, _synth(spark, sf_dir, "documents_spans"), _synth(spark, sf_dir, "zones")
    )


def q_zone_keywords(spark, sf_dir):
    """Regional vocabulary (geo x text composition): top-5 tokens per zone
    over PIP-geotagged docs — doc->zone memberships distinct-reduce before
    text is touched, (zone, token) counts map-side combine, the ranking
    window runs over the aggregated table only."""
    return sj.zone_keywords(
        spark,
        _synth(spark, sf_dir, "documents_spans"),
        _synth(spark, sf_dir, "zones"),
        top_k=5,
    )


def q_zone_stratified_sample(spark, sf_dir):
    """Geo-stratified sampling: the 25 docs per zone with the smallest
    deterministic md5 draw (resume-stable pure row function) — regionally
    balanced subset selection; per-zone top-N runs as a WindowGroupLimit
    over slim (doc_id, zone_id) rows."""
    return sj.zone_stratified_sample(
        spark,
        _synth(spark, sf_dir, "documents_spans"),
        _synth(spark, sf_dir, "zones"),
        per_zone=25,
    )


def q_zone_dedup_profile(spark, sf_dir):
    """Regional duplication report (dedup x geo composition): per zone,
    the geotagged docs whose span fingerprint repeats anywhere in the
    corpus, as integer counts + ppm — fingerprints fold inside the scan
    (32 bytes/doc, never text), groups map-side combine."""
    return sj.zone_dedup_profile(
        spark, _synth(spark, sf_dir, "documents_spans"), _synth(spark, sf_dir, "zones")
    )


def q_zone_mean_center(spark, sf_dir):
    """Per-zone mean center + max-radius dispersion of the corpus geo
    points: micro-unit integer sums (order-free exact), one fixed double
    division per coordinate, order-free integer max — hash-exact; centers
    are zone-dimension-sized and broadcast back for the dispersion pass."""
    return sj.zone_mean_center(
        spark, _synth(spark, sf_dir, "documents_spans"), _synth(spark, sf_dir, "zones")
    )


def q_nearest_zone_distance(spark, sf_dir):
    """Re-geocode helper: every uncovered geo point snapped to its nearest
    zone boundary (clamped-projection segment distance, floor-quantized;
    (dist, zone) struct-min ties to the smallest zone) — the uncovered
    residue is small by construction and the edge table broadcasts."""
    return sj.nearest_zone_distance(
        spark,
        _synth(spark, sf_dir, "documents_spans"),
        _synth(spark, sf_dir, "zones"),
        _synth(spark, sf_dir, "zone_edges"),
    )


def q_nearest_zone_distance_distributed(spark, sf_dir):
    """Same snap, zero edge broadcast (cell-bucketed candidate search with
    ring-disk bounds — the plan for boundary tables too large to
    broadcast); must produce byte-identical rows (same oracle as
    nearest_zone_distance) — round-5 verdict ask #1."""
    return sj.nearest_zone_distance(
        spark,
        _synth(spark, sf_dir, "documents_spans"),
        _synth(spark, sf_dir, "zones"),
        _synth(spark, sf_dir, "zone_edges"),
        strategy="bucketed",
    )


def q_edge_intersections(spark, sf_dir):
    """Topology QA: proper crossings between boundary edges of different
    zones via a cell-bucketed edge join (shuffle ∝ edges x covered cells,
    never all-pairs) + one 2x2-determinant IEEE refine — hash-exact vs
    the oracle's O(n^2) cross join."""
    return sj.edge_intersections(spark, _synth(spark, sf_dir, "zone_edges"))


def q_spatial_join_polygons(spark, sf_dir):
    return sj.spatial_join_geoms(
        spark,
        _synth(spark, sf_dir, "documents_spans"),
        _synth(spark, sf_dir, "zones"),
        wkt_prefix="POLYGON",
    )


def q_spatial_join_polygons_distributed(spark, sf_dir):
    """Same general intersect join FORCED onto the collect-free path
    (rings_mode='join': zone rings ship as a joined column into the Arrow
    refinement — zero driver-side zone materialization, the plan for zone
    sides too large to collect). Output identical to the broadcast form,
    gated by the same oracle."""
    return sj.spatial_join_geoms(
        spark,
        _synth(spark, sf_dir, "documents_spans"),
        _synth(spark, sf_dir, "zones"),
        wkt_prefix="POLYGON",
        rings_mode="join",
    )


def q_tile_assignment(spark, sf_dir):
    out = ta.tile_assign(
        _synth(spark, sf_dir, "zones"), _synth(spark, sf_dir, "rasters")
    )
    return out.select(
        "zone_id", "raster_id", "band", "win_ox", "win_oy", "res_x", "res_y", "off_x", "off_y"
    )


def q_zonal_counts(spark, sf_dir):
    _, counts = zonal_ops.zonal_statistics(
        spark,
        _synth(spark, sf_dir, "zones"),
        _synth(spark, sf_dir, "rasters"),
        _synth(spark, sf_dir, "raster_tiles"),
        hash_safe=True,
    )
    return counts


def q_zonal_stats(spark, sf_dir):
    stats, _ = zonal_ops.zonal_statistics(
        spark,
        _synth(spark, sf_dir, "zones"),
        _synth(spark, sf_dir, "rasters"),
        _synth(spark, sf_dir, "raster_tiles"),
        hash_safe=True,
    )
    return stats.select(
        "zone_id",
        "count_total",
        F.col("min").alias("vmin"),
        F.col("max").alias("vmax"),
        F.col("mean").alias("vmean"),
        F.col("median").alias("vmedian"),
        F.col("var").alias("vvar"),
        F.col("stdev").alias("vstdev"),
        F.col("perc90").alias("vperc90"),
    )


def q_zonal_counts_wide(spark, sf_dir):
    """Reference-shaped wide counts: count_total + count_1..count_N ordered
    by (input_rank, band) like the rasters argument order
    (lib/zonal.py:156-157)."""
    _, counts = zonal_ops.zonal_statistics(
        spark,
        _synth(spark, sf_dir, "zones"),
        _synth(spark, sf_dir, "rasters"),
        _synth(spark, sf_dir, "raster_tiles"),
        hash_safe=True,
    )
    return zonal_ops.counts_wide(counts, _synth(spark, sf_dir, "rasters"))


def q_knn(spark, sf_dir):
    return knn_ops.knn(spark, _synth(spark, sf_dir, "near_points"), k=5)


def q_near_table(spark, sf_dir):
    return knn_ops.near_table(_synth(spark, sf_dir, "near_points"), radius=1.0)


def q_dissolve_category(spark, sf_dir):
    from gdal_common_python_spark.operators.dissolve import dissolve

    out = dissolve(_synth(spark, sf_dir, "zones"), on_fields=["category"])
    return out.select(F.col("group_key").alias("category"), "feat_count")


def q_dissolve_components(spark, sf_dir):
    from gdal_common_python_spark.operators.dissolve import dissolve

    # rectified view (ingest-time 4326 geometry) — the V2 rule's effect
    zones = _synth(spark, sf_dir, "zones").select(
        "zone_id", "category", F.lit(4326).alias("srid"), F.col("rings4326").alias("rings")
    )
    out = dissolve(zones, on_fields=["category"], single_part=True)
    return out.groupBy(F.col("group_key").alias("category")).agg(
        F.count("*").alias("n_components"), F.sum("feat_count").alias("feat_count")
    )


def q_dissolve_components_scalable(spark, sf_dir):
    """Same A3 result via the scale path: J2 self-join pair table +
    iterative min-label propagation (no per-group quadratic kernel).
    Shares the recursive-CTE oracle with dissolve_components."""
    from gdal_common_python_spark.operators.dissolve import connected_components

    zones = _synth(spark, sf_dir, "zones").select(
        "zone_id", "category", F.col("rings4326").alias("rings"), "bbox4326"
    ).withColumn("bbox", F.col("bbox4326")).drop("bbox4326")
    comp = connected_components(spark, zones, group_col="category")
    # dissolve groups by category first: relabel components per category by
    # joining category back and counting distinct (category, component)
    withcat = comp.join(_synth(spark, sf_dir, "zones").select("zone_id", "category"), "zone_id")
    return withcat.groupBy("category").agg(
        F.countDistinct("component").alias("n_components"),
        F.count("*").alias("feat_count"),
    )


def q_overlay_identity(spark, sf_dir):
    """G4 gate: intersection pieces carry (l_id, r_id); the un-overlapped
    remainder keeps l_id with null r_id — pixel-membership gated."""
    from gdal_common_python_spark.operators import overlay

    left, right = _zones_split(spark, sf_dir)
    out = overlay.identity(spark, left, right)
    npix = _grid_npix_udf()
    # npix>0 both sides: "has geometry" is area-level, which the pixel
    # oracle cannot decide — gate on pieces with at least one interior center
    return out.select("l_id", "r_id", npix("rings").alias("npix")).filter(F.col("npix") > 0)


def q_overlay_symdiff(spark, sf_dir):
    """G6 gate: erase both directions; side labels which layer a piece
    came from — pixel-membership gated."""
    from gdal_common_python_spark.operators import overlay

    left, right = _zones_split(spark, sf_dir)
    out = overlay.symmetric_difference(spark, left, right)
    npix = _grid_npix_udf()
    return out.select("l_id", "side", npix("rings").alias("npix")).filter(F.col("npix") > 0)


def q_overlay_update(spark, sf_dir):
    """G8 gate: erase(base, update) ∪ update features — base pieces keep
    only un-updated area, update zones pass through whole. Pixel-gated,
    npix>0 (same decidability reason as identity)."""
    from gdal_common_python_spark.operators import overlay

    left, right = _zones_split(spark, sf_dir)
    out = overlay.update(spark, left, right)
    npix = _grid_npix_udf()
    return out.select("l_id", npix("rings").alias("npix")).filter(F.col("npix") > 0)


def q_dissolve_union(spark, sf_dir):
    """A2/A4 union-geometry gate: per category, the dissolved geometry is
    the TRUE member union (overlaps removed). Gated by pixel membership of
    the OUTPUT piece collection vs the oracle's centers-in-any-member-zone
    count — overlap double-count would fail it."""
    from gdal_common_python_spark.operators.dissolve import dissolve

    zones = _synth(spark, sf_dir, "zones").select(
        "zone_id", "category", F.col("rings4326").alias("rings")
    )
    out = dissolve(zones, on_fields=["category"])
    npix = _grid_npix_udf()
    return out.select(
        F.col("group_key").alias("category"), "feat_count", npix("rings").alias("npix")
    )


def q_dissolve_union_scalable(spark, sf_dir):
    """Same A2/A4 union result via the partial-per-partition + final-merge
    path (no one-task-per-group bottleneck) — union associativity means the
    region is identical, so it shares the dissolve_union oracle."""
    from gdal_common_python_spark.operators.dissolve import dissolve_two_level

    zones = _synth(spark, sf_dir, "zones").select(
        "zone_id", "category", F.col("rings4326").alias("rings")
    )
    out = dissolve_two_level(zones, on_fields=["category"])
    npix = _grid_npix_udf()
    return out.select(
        F.col("group_key").alias("category"), "feat_count", npix("rings").alias("npix")
    )


def q_mosaic(spark, sf_dir):
    tiles = _synth(spark, sf_dir, "raster_tiles")
    m = mosaic_ops.mosaic(tiles, raster_ids=["r0", "r1", "r2"], band=1)
    return m.select(
        "tile_x", "tile_y", F.posexplode("pixels").alias("idx0", "value")
    ).select("tile_x", "tile_y", (F.col("idx0") + 1).alias("idx"), "value")


def q_mosaic_mixed_grid(spark, sf_dir):
    """R8+R7 composition gate: gdal_merge-style mosaic of r0 (0.25-deg grid)
    and r3 (shifted 0.2-deg grid) onto r0's grid — r3 nearest-resamples,
    later rank wins except nodata."""
    tiles = _synth(spark, sf_dir, "raster_tiles")
    m = mosaic_ops.mosaic_merge(spark, tiles, raster_ids=["r0", "r3"], band=1)
    return m.select(
        "tile_x", "tile_y", F.posexplode("pixels").alias("idx0", "value")
    ).select("tile_x", "tile_y", (F.col("idx0") + 1).alias("idx"), "value")


_WARP_TARGET = dict(
    origin_x=-13400000.0, origin_y=5650000.0, px_x=28000.0, px_y=-32000.0,
    width=128, height=128,
)


def q_raster_warp(spark, sf_dir):
    """gdalwarp analog: nearest inverse-mapping warp of r0 (4326) onto a
    Web-Mercator grid; 1e-9-degree quantized index rule pins bit-equality
    across libm implementations (operators/warp.py header)."""
    from gdal_common_python_spark.operators import warp as warp_ops

    tiles = _synth(spark, sf_dir, "raster_tiles")
    w = warp_ops.warp_raster(spark, tiles, "r0", 1, _WARP_TARGET, dst_srid=3857)
    return w.select(
        "tile_x", "tile_y", F.posexplode("pixels").alias("idx0", "value")
    ).select("tile_x", "tile_y", (F.col("idx0") + 1).alias("idx"), "value")


_WARP_AVG_TARGET = dict(
    origin_x=-13400000.0, origin_y=5650000.0, px_x=56000.0, px_y=-64000.0,
    width=64, height=64,
)


def q_warp_average(spark, sf_dir):
    """gdalwarp -r average analog: forward-scatter downsampling warp of r0
    (4326) onto a 2x-coarser Web-Mercator grid — 100% native codegen, the
    exchange carries one row per (partition, target pixel); 1e-6 value
    quantization keeps the per-pixel average order-free bit-exact."""
    from gdal_common_python_spark.operators import warp as warp_ops

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return warp_ops.warp_average(
        spark, tiles, "r0", 1, _WARP_AVG_TARGET, dst_srid=3857
    )


_GRID_TARGET = dict(
    origin_x=-120.0, origin_y=45.0, px_x=0.25, px_y=-0.25, width=128, height=128,
)


def q_grid_points(spark, sf_dir):
    """gdal_grid analog (average:radius): scattered points -> r0's grid,
    pure codegen fan-out + one map-side-combined pixel groupBy; order-free
    quantized averages (operators/grid.py header)."""
    from gdal_common_python_spark.operators import grid as grid_ops

    pts = _synth(spark, sf_dir, "near_points").withColumn(
        "v", F.pmod(F.col("point_id"), F.lit(97)).cast("double")
    )
    return grid_ops.grid_average(pts, _GRID_TARGET, radius=0.6)


def q_spans_text_profile(spark, sf_dir):
    """The LLM text suite running DIRECTLY on the north-rule interleaved
    spans table: text spans concatenated in span order (array order IS
    offset order — preserved by filter/transform HOFs), then the standard
    text_profile. Zero shuffle before the profile exprs."""
    docs = _synth(spark, sf_dir, "documents_spans")
    txt = F.array_join(
        F.transform(
            F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text")),
            lambda s: s["text"],
        ),
        " ",
    )
    return text_ops.text_profile(docs.select("doc_id", txt.alias("text")))


_VIEWSHED_OBS = [(20, 20), (64, 64), (100, 40), (40, 100), (90, 90)]


def q_viewshed(spark, sf_dir):
    """gdal_viewshed analog (-md bounded): integer DDA sight lines with
    cross-multiplied angle tests — float-free blocking decisions; one
    halo-exchange pass (operators/viewshed.py header)."""
    from gdal_common_python_spark.operators import viewshed as vs_ops

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return vs_ops.viewshed(tiles, "r0", 1, _VIEWSHED_OBS, maxdist=12)


def q_tile_stats(spark, sf_dir):
    """Per-tile min/max skipping index (the raster analog of parquet
    row-group stats): zero shuffle, zero UDF — one aggregate HOF/tile."""
    from gdal_common_python_spark.operators import rasterinfo as ri_ops

    return ri_ops.tile_stats(_synth(spark, sf_dir, "raster_tiles"))


def q_raster_xyz(spark, sf_dir):
    """gdal2xyz analog: shuffle-free pixel -> (gx, gy, world x/y, value)
    export, nodata skipped."""
    from gdal_common_python_spark.operators import rasterinfo as ri_ops

    return ri_ops.raster_to_xyz(_synth(spark, sf_dir, "raster_tiles"), "r3", 1)


def q_slippy_tiles(spark, sf_dir):
    """gdal2tiles analog (tile-scheme step): XYZ/slippy tile ranges per
    raster at zoom 6 — standard Web-Mercator scheme, pure codegen."""
    from gdal_common_python_spark.operators import rasterinfo as ri_ops

    return ri_ops.slippy_tiles(_synth(spark, sf_dir, "rasters"), 6)


def q_explode_collections(spark, sf_dir):
    """ogr2ogr -explodecollections analog: multipart split by pure ring
    algebra (quantized shoelace signs + one running-count window)."""
    from gdal_common_python_spark.operators import collections as coll_ops

    return coll_ops.explode_collections(_synth(spark, sf_dir, "zones"))


def q_raster_compare(spark, sf_dir):
    """gdalcompare analog: pixel-exact comparison of two same-grid rasters
    in one tile-key join + per-tile HOF fold."""
    from gdal_common_python_spark.operators import rasterinfo as ri_ops

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return ri_ops.compare_rasters(tiles, ("r0", 1), ("r2", 1))


def q_zonal_percentiles(spark, sf_dir):
    """Exact zonal percentiles (nearest-rank, the lib/zonal.py:237 rule
    generalized) from the per-(zone, tile) value-count histogram — count
    arithmetic + value selection only, hash-exact by construction."""
    from gdal_common_python_spark.operators import rasterize as rast_ops

    zones = _synth(spark, sf_dir, "zones")
    rasters = _synth(spark, sf_dir, "rasters")
    tiles = _synth(spark, sf_dir, "raster_tiles")
    return rast_ops.zonal_percentiles(
        spark, zones, rasters, tiles, "r0", 1, ps=(0.25, 0.5, 0.75)
    )


def q_zonal_majority(spark, sf_dir):
    """MODE-family zonal statistics (majority/minority/variety — the
    gdal/QGIS zonal set beyond the reference's moment stats); ties break
    to the smallest value, order-free by construction."""
    from gdal_common_python_spark.operators import rasterize as rast_ops

    zones = _synth(spark, sf_dir, "zones")
    rasters = _synth(spark, sf_dir, "rasters")
    tiles = _synth(spark, sf_dir, "raster_tiles")
    return rast_ops.zonal_majority(spark, zones, rasters, tiles, "r0", 1)


def q_grid_idw(spark, sf_dir):
    """gdal_grid invdist analog: quantized-weight IDW (order-free integer
    sums; gdal's own smoothing parameter bounds the near field)."""
    from gdal_common_python_spark.operators import grid as grid_ops

    pts = _synth(spark, sf_dir, "near_points").withColumn(
        "v", F.pmod(F.col("point_id"), F.lit(97)).cast("double")
    )
    return grid_ops.grid_idw(pts, _GRID_TARGET, radius=0.6)


def q_grid_nearest(spark, sf_dir):
    """gdal_grid nearest analog: per-pixel arg-min over the same codegen
    fan-out; (d2, x, y, value)-lexicographic tie break is deterministic
    under any partitioning."""
    from gdal_common_python_spark.operators import grid as grid_ops

    pts = _synth(spark, sf_dir, "near_points").withColumn(
        "v", F.pmod(F.col("point_id"), F.lit(97)).cast("double")
    )
    return grid_ops.grid_nearest(pts, _GRID_TARGET, radius=0.6)


def q_grid_metrics(spark, sf_dir):
    """gdal_grid data-metrics analog (count/min/max/range + avg distance):
    same codegen fan-out, ONE map-side-combined pixel groupBy; min/max are
    order-free, avg_dist uses the quantize-sum-divide discipline."""
    from gdal_common_python_spark.operators import grid as grid_ops

    pts = _synth(spark, sf_dir, "near_points").withColumn(
        "v", F.pmod(F.col("point_id"), F.lit(97)).cast("double")
    )
    return grid_ops.grid_metrics(pts, _GRID_TARGET, radius=0.6)


def q_rasterize(spark, sf_dir):
    """gdal_rasterize analog: burn zones into r0's grid (pixel-center
    even-odd, R1-quantized vertices — the zonal kernel as a burn op);
    overlaps resolve by max(zone_id). Sparse covered-pixel rows."""
    from gdal_common_python_spark.operators import rasterize as rast_ops

    zones = _synth(spark, sf_dir, "zones")
    rasters = _synth(spark, sf_dir, "rasters")
    tiles = _synth(spark, sf_dir, "raster_tiles")
    return rast_ops.rasterize_burn(spark, zones, rasters, tiles, "r0", 1)


def q_cutline(spark, sf_dir):
    """gdalwarp -cutline analog: r0/1 cropped to the zone-polygon union —
    the zonal membership kernel emitting sparse (gc, gr, value) pixels,
    deduped across overlapping zones by one map-side-combined groupBy."""
    from gdal_common_python_spark.operators import rasterize as rast_ops

    zones = _synth(spark, sf_dir, "zones")
    rasters = _synth(spark, sf_dir, "rasters")
    tiles = _synth(spark, sf_dir, "raster_tiles")
    return rast_ops.cutline_extract(spark, zones, rasters, tiles, "r0", 1)


_TR_SRCWIN = (20, 12, 80, 60)
_TR_SCALE = (0.0, 255.0, 0.0, 100.0)


def q_tile_index(spark, sf_dir):
    """gdaltindex analog: footprint extents per catalog entry — a pure
    projection over the raster manifest (zero shuffle, zero UDF)."""
    from gdal_common_python_spark.operators import rasterinfo as ri_ops

    return ri_ops.tile_index(_synth(spark, sf_dir, "rasters"))


def q_footprint(spark, sf_dir):
    """gdal_footprint analog: exact valid-data footprint summary (count,
    bbox, boundary pixels, exact perimeter = 4n - 2*pairs) — one
    halo-exchange pass, all-integer partials, immune to giant regions."""
    from gdal_common_python_spark.operators import rasterinfo as ri_ops

    return ri_ops.footprint(_synth(spark, sf_dir, "raster_tiles"))


def q_compact_cells(spark, sf_dir):
    """H3 compact analog on the quadtree covering: zones' bbox covers at
    res 9 (native codegen polyfill) -> distinct cells -> complete
    4-sibling groups promoted level-by-level down to res 5. All integer
    shift/mod codegen; work shrinks 4x per level."""
    from gdal_common_python_spark.operators import layout as layout_ops

    z = _synth(spark, sf_dir, "zones").select(
        F.col("bbox4326.xmin").alias("xmin"), F.col("bbox4326.ymin").alias("ymin"),
        F.col("bbox4326.xmax").alias("xmax"), F.col("bbox4326.ymax").alias("ymax"),
    )
    cov = layout_ops.cover_bbox_cells(z, res=9)
    comp = layout_ops.compact_cells(cov, from_res=9, to_res=5)
    return comp.select(cells.unpack(F.col("cell"))[0].alias("res"), "cell")


def q_uncompact_cells(spark, sf_dir):
    """uncompact ∘ compact == identity on a uniform-res covering: the
    round-trip re-expands the compacted mixed-res set back to res 9 and
    must equal the RAW covering — the oracle is the plain cover SQL, so
    any asymmetry in either direction hash-fails."""
    from gdal_common_python_spark.operators import layout as layout_ops

    z = _synth(spark, sf_dir, "zones").select(
        F.col("bbox4326.xmin").alias("xmin"), F.col("bbox4326.ymin").alias("ymin"),
        F.col("bbox4326.xmax").alias("xmax"), F.col("bbox4326.ymax").alias("ymax"),
    )
    cov = layout_ops.cover_bbox_cells(z, res=9)
    comp = layout_ops.compact_cells(cov, from_res=9, to_res=5)
    return layout_ops.uncompact_cells(comp, res=9)


def q_vector_info(spark, sf_dir):
    """ogrinfo -so analog: one-row layer summary (feature/ring/vertex
    counts + layer extent) from a single map-side-combined wide
    aggregate over native HOFs."""
    from gdal_common_python_spark import api

    return api.layer_info(
        _synth(spark, sf_dir, "zones").select("zone_id", "rings4326"),
        rings_col="rings4326",
    )


def q_raster_minmax(spark, sf_dir):
    """gdalinfo -mm + locations: struct-ordered min/max with pinned ties
    (min -> first row-major occurrence, max -> last); partial struct
    min/max collapse map-side, shuffle ∝ partitions x bands."""
    from gdal_common_python_spark.operators import rasterinfo as ri_ops

    return ri_ops.raster_minmax(_synth(spark, sf_dir, "raster_tiles"))


def q_raster_info(spark, sf_dir):
    """gdalinfo -stats analog: per-band global stats; one aggregate HOF
    per tile before the shuffle (exchange carries one row per tile)."""
    from gdal_common_python_spark.operators import rasterinfo as ri_ops

    return ri_ops.raster_info(_synth(spark, sf_dir, "raster_tiles"))


def q_overviews(spark, sf_dir):
    """gdaladdo analog: factor-2 average overview level — ZERO shuffle
    (2x2 blocks never cross tiles), pure codegen, order-free quantized
    averages."""
    from gdal_common_python_spark.operators import overviews as ov_ops

    return ov_ops.overview_level(_synth(spark, sf_dir, "raster_tiles"))


def q_translate(spark, sf_dir):
    """gdal_translate analog: -srcwin subset + -scale affine rescale as
    pure codegen (native transform/element_at gathers; zero UDF)."""
    from gdal_common_python_spark.operators import translate as tr_ops

    tiles = _synth(spark, sf_dir, "raster_tiles")
    t = tr_ops.translate_window(tiles, "r0", 1, _TR_SRCWIN, scale=_TR_SCALE)
    return t.select(
        "tile_x", "tile_y", F.posexplode("pixels").alias("idx0", "value")
    ).select("tile_x", "tile_y", (F.col("idx0") + 1).alias("idx"), "value")


# resample target: coarser grid, offset from r0's origin, extending past
# the source's east/south edges (exercises the out-of-bounds nodata path)
_RS_TARGET = dict(
    origin_x=-119.9, origin_y=44.9, px_x=0.4, px_y=-0.4, width=82, height=64
)


def q_resample(spark, sf_dir):
    """R7 nearest-neighbour resample as an oracle gate (was pytest-only):
    target pixel centers map into the source grid by the R1 trunc rule;
    out-of-bounds targets get nodata. The mapping is mul/div/trunc of
    driver literals — identical expression shape in DuckDB."""
    from gdal_common_python_spark.operators import resample as rs_ops

    tiles = _synth(spark, sf_dir, "raster_tiles")
    t = rs_ops.resample_nearest(spark, tiles, "r0", 1, _RS_TARGET)
    return t.select(
        "tile_x", "tile_y", F.posexplode("pixels").alias("idx0", "value")
    ).select("tile_x", "tile_y", (F.col("idx0") + 1).alias("idx"), "value")


def q_retile(spark, sf_dir):
    """gdal_retile analog: pixel-preserving re-grid of r0 from 32- to
    48-pixel tiles (full extent; bounded source-to-output fan + first-non-
    null fold, pure codegen)."""
    from gdal_common_python_spark.operators import translate as tr_ops

    tiles = _synth(spark, sf_dir, "raster_tiles")
    t = tr_ops.retile(tiles, "r0", 1, out_tile_size=48)
    return t.select(
        "tile_x", "tile_y", F.posexplode("pixels").alias("idx0", "value")
    ).select("tile_x", "tile_y", (F.col("idx0") + 1).alias("idx"), "value")


def q_chunk_interleaved(spark, sf_dir):
    """Multimodal context-window chunking DIRECTLY on the north-rule
    interleaved spans shape: text/geo spans cost whitespace tokens, media
    spans a fixed budget; prefix-sum chunk boundaries never split a span.
    One narrow projection (nested HOFs) + posexplode — zero shuffle."""
    from gdal_common_python_spark.operators.curation import chunk_interleaved

    docs = _synth(spark, sf_dir, "documents_spans")
    return chunk_interleaved(docs, max_tokens=64, media_budget=32)


def q_pansharpen(spark, sf_dir):
    """gdal_pansharpen analog: weighted-Brovey pansharpen of r1/1 (pan grid)
    and r3/1 (shifted 0.2-deg grid, nearest-resampled via the R7 kernel)
    against the r0/1 pan band. The combine is pure codegen (arrays_zip +
    transform); nodata/out-of-raster/zero-pseudo-pan pixels go nodata in
    every output band."""
    from gdal_common_python_spark.operators import pansharpen as ps_ops

    tiles = _synth(spark, sf_dir, "raster_tiles")
    out = ps_ops.pansharpen(
        spark, tiles, pan=("r0", 1), ms=[("r1", 1), ("r3", 1)], weights=[0.6, 0.4]
    )
    return out.select(
        "out_band", "tile_x", "tile_y", F.posexplode("pixels").alias("idx0", "value")
    ).select("out_band", "tile_x", "tile_y", (F.col("idx0") + 1).alias("idx"), "value")


def q_fillnodata(spark, sf_dir):
    """gdal_fillnodata analog: nearest-valid fill with exact tie-averaging
    (order-free integer sums) over one halo-exchange pass."""
    from gdal_common_python_spark.operators import fillnodata as fill_ops

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return fill_ops.fillnodata_pixels(tiles, maxdist=4.0)


def q_media_metadata(spark, sf_dir):
    out = multimodal.extract_media_features(_synth(spark, sf_dir, "documents_spans"))
    return out.select("doc_id", "offset", "raster_id", "band", "width", "height")


def q_media_resize(spark, sf_dir):
    """Aspect-preserving resize plumbing (stub codec): target 224x224."""
    out = multimodal.resize_media(_synth(spark, sf_dir, "documents_spans"), 224, 224)
    return out.select("doc_id", "offset", "src_width", "src_height", "width", "height")


def q_media_frames(spark, sf_dir):
    """Video-style frame sampling: one row per sampled frame (fan-out)."""
    out = multimodal.frame_sample(_synth(spark, sf_dir, "documents_spans"), every_n=10)
    return out.select("doc_id", "offset", "media_ref", "frame_idx", "n_frames")


def q_span_invariant(spark, sf_dir):
    """Span-sequence preservation check as a query: reconstruct the
    (kind, text, media_ref, order) sequence fingerprint per doc AFTER a
    posexplode/re-assemble round trip; the oracle computes it from the raw
    table. Equality proves the pipeline preserves span sequences."""
    docs = _synth(spark, sf_dir, "documents_spans")
    exploded = docs.select("doc_id", F.posexplode("spans").alias("pos", "s"))
    reassembled = (
        exploded.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("s.offset").alias("offset"),
                        F.col("s.kind").alias("kind"),
                        F.col("s.text").alias("text"),
                        F.col("s.media_ref").alias("media_ref"),
                    )
                )
            ).alias("spans_sorted")
        )
    )
    fp = F.md5(
        F.concat_ws(
            "\x1f",
            F.transform(
                F.col("spans_sorted"),
                lambda s: F.concat_ws(
                    "\x1e",
                    s["kind"],
                    F.coalesce(s["text"], F.lit("")),
                    F.coalesce(s["media_ref"], F.lit("")),
                    s["offset"].cast("string"),
                ),
            ),
        )
    )
    return reassembled.select("doc_id", fp.alias("span_fp"))


# fixed gate grid over the synth zone domain [-120,-80]x[30,45]: exact
# binary steps (40/256, 15/128) so center coordinates are bit-identical
# between numpy and the oracle's  x0 + (i+0.5)*dx  arithmetic
_GRID = (-120.0, 30.0, 0.15625, 0.1171875, 256, 128)


def _grid_npix_udf():
    from gdal_common_python_spark.kernels import geom as G

    x0, y0, dx, dy, nx, ny = _GRID
    gx = x0 + (np.arange(nx) + 0.5) * dx
    gy = y0 + (np.arange(ny) + 0.5) * dy

    @F.pandas_udf(T.LongType())
    def npix(rings: pd.Series) -> pd.Series:
        out = []
        for cell in rings:
            rr = G.rings_from_cell(cell)
            if not rr:
                out.append(0)
                continue
            xmin, ymin, xmax, ymax = G.rings_bbox(rr)
            xs = gx[(gx >= xmin) & (gx <= xmax)]
            ys = gy[(gy >= ymin) & (gy <= ymax)]
            if len(xs) == 0 or len(ys) == 0:
                out.append(0)
                continue
            mx, my = np.meshgrid(xs, ys)
            inside = G.points_in_rings(mx.ravel(), my.ravel(), G.rings_to_edges(rr))
            out.append(int(inside.sum()))
        return pd.Series(out, dtype="int64")

    return npix


def _zones_split(spark, sf_dir):
    """Rectified zones split into a left (even ids) and clip/erase layer
    (odd ids) — the two-layer overlay surface over one synth table."""
    zones = _synth(spark, sf_dir, "zones").select(
        "zone_id", F.col("rings4326").alias("rings"), F.col("bbox4326").alias("bbox")
    )
    return zones.filter(F.col("zone_id") % 2 == 0), zones.filter(F.col("zone_id") % 2 == 1)


def q_union_layers(spark, sf_dir):
    """G7 relational union (no intersection splits, lib/analysis.py:192):
    unionByName over the shared columns — gated on per-feature structure
    (ring count + total vertex count), which any geometry mutation would
    break."""
    from gdal_common_python_spark.operators import overlay

    left, right = _zones_split(spark, sf_dir)
    out = overlay.union_layers(left.drop("bbox"), right.drop("bbox"))
    return out.select(
        "zone_id",
        F.size("rings").alias("n_rings"),
        F.size(F.flatten("rings")).alias("n_vertices"),
    )


def q_overlay_clip(spark, sf_dir):
    """G2/G5 general clip gate: pieces of left∩right (holes, multiparts and
    concave handled by the kernel); gated on the intersecting pair set plus
    a pixel-membership count of the OUTPUT geometry — a center is inside
    the clipped pieces iff it is inside both zones, which the oracle can
    test with the original edge tables."""
    from gdal_common_python_spark.operators import overlay

    left, right = _zones_split(spark, sf_dir)
    out = overlay.clip(spark, left, right)
    npix = _grid_npix_udf()
    return out.select("l_id", "r_id", npix("rings").alias("npix"))


def q_overlay_erase(spark, sf_dir):
    """G3 general erase gate: one row per left zone with the pixel count of
    its post-erase geometry (0 when fully erased — the oracle's
    in-A-and-in-no-B count is 0 there too)."""
    from gdal_common_python_spark.operators import overlay

    left, right = _zones_split(spark, sf_dir)
    out = overlay.erase(spark, left, right)
    npix = _grid_npix_udf()
    counts = out.select("l_id", npix("rings").alias("np_"))
    allleft = left.select(F.col("zone_id").alias("l_id"))
    return allleft.join(counts, "l_id", "left").select(
        "l_id", F.coalesce("np_", F.lit(0)).alias("npix")
    )


def q_buffer_negative(spark, sf_dir):
    """G1 negative-distance gate (geom.Buffer with d<0, lib/analysis.py:39):
    every zone shrinks inward by 0.1 deg — holes grow, small zones collapse
    to empty geometry (npix=0). Gated on pixel membership of the OUTPUT
    piece collection vs the oracle's in-zone-and-outside-boundary-band test
    on the INPUT edge/vertex tables: the morphological identity
    P ⊖ d = P \\ (∂P ⊕ d) makes the two sets equal in real arithmetic."""
    from gdal_common_python_spark.operators.overlay import buffer_layer

    zones = _synth(spark, sf_dir, "zones").select(
        "zone_id", F.col("rings4326").alias("rings")
    )
    out = buffer_layer(zones, dist=-0.1, n=16)
    npix = _grid_npix_udf()
    return out.select("zone_id", npix("rings").alias("npix"))


def q_make_valid(spark, sf_dir):
    """P10 gate (features.py:204-223): a self-crossing bowtie built from
    each zone's bbox (LL->UR->LR->UL) runs through api.make_valid; gated on
    pixel membership of the repaired simple pieces vs the oracle's even-odd
    crossing parity over the RAW ring's four edges — identical regions for
    bowtie-class rings under both the winding and even-odd rules (the
    pentagram-class winding difference is pytest-pinned)."""
    from gdal_common_python_spark import api

    z = _synth(spark, sf_dir, "zones").select(
        "zone_id",
        F.array(
            F.array(
                F.array(F.col("bbox4326.xmin"), F.col("bbox4326.ymin")),
                F.array(F.col("bbox4326.xmax"), F.col("bbox4326.ymax")),
                F.array(F.col("bbox4326.xmax"), F.col("bbox4326.ymin")),
                F.array(F.col("bbox4326.xmin"), F.col("bbox4326.ymax")),
            )
        ).alias("rings"),
    )
    out = api.make_valid(z)
    npix = _grid_npix_udf()
    return out.select("zone_id", npix("rings").alias("npix"))


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents"), min_count=1)


def q_stream_cell_counts_replay(spark, sf_dir):
    """Watermarked windowed-aggregation stream made oracle-checkable:
    deterministic md5-derived event time (3 one-minute windows),
    deterministic micro-batch replay through the REAL file-source stream,
    outputMode complete — final (win_start, cell, n_spans) table equals a
    batch groupBy the oracle reproduces with the same md5 arithmetic."""
    from gdal_common_python_spark.streaming.ingest import replay_cell_counts

    return replay_cell_counts(
        spark, _synth(spark, sf_dir, "documents_spans"), n_batches=3
    )


def q_stream_spatial_join_replay(spark, sf_dir):
    """The CONTINUOUS flagship: the batch spatial-join operator applied
    verbatim to a micro-batched stream; the appended union across
    triggers must hash-match the batch PIP oracle on the same docs."""
    from gdal_common_python_spark.streaming.ingest import replay_stream_spatial_join

    return replay_stream_spatial_join(
        spark,
        _synth(spark, sf_dir, "documents_spans"),
        _synth(spark, sf_dir, "zones"),
        n_batches=3,
    )


def q_csv_wkt_roundtrip(spark, sf_dir):
    """CSV+WKT source gate: near_points serialized to an on-disk CSV with
    repr-double POINT WKT, re-opened through the distributed CSV scan +
    codegen POINT parse — the oracle reads the ORIGINAL parquet, so a
    hash match proves the source is lossless end-to-end."""
    from gdal_common_python_spark.sources.csv_wkt import round_trip_points_csv

    label = _sf_label(sf_dir)
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "data", "tmp", f"csv_wkt_gate_{label}.csv",
    )
    return round_trip_points_csv(spark, _synth(spark, sf_dir, "near_points"), path)


def q_stream_dedup_replay(spark, sf_dir):
    """Deterministic replay of the STATEFUL streaming first-seen dedup
    (applyInPandasWithState over a real file-source stream, one file per
    micro-batch): docs split into 4 md5-bucket batches with pinned order;
    the survivor per span-fingerprint is argmin (batch_ix, doc_id), which
    the oracle reproduces with a QUALIFY over the same md5 bucket draw."""
    from gdal_common_python_spark.streaming.dedup import replay_first_seen

    return replay_first_seen(
        spark, _synth(spark, sf_dir, "documents_spans"), n_batches=4
    )


def q_dedup_minhash_lsh(spark, sf_dir):
    signed = dedup.minhash_docs(_t(spark, sf_dir, "documents"), k=16, n=3)
    return dedup.lsh_candidate_pairs(signed, bands=4, rows=4)


def q_dedup_clusters(spark, sf_dir):
    """Near-duplicate CLUSTERING: transitive closure over the LSH pair
    graph (minhash est >= 0.5), one canonical doc per cluster — the
    keep/drop decision step of a corpus dedup pipeline. Oracle reproduces
    the closure with a recursive CTE over the same bit-exact signatures."""
    return dedup.near_dup_clusters(
        _t(spark, sf_dir, "documents"), threshold=0.5, k=16, n=3, bands=4, rows=4
    )


def q_corpus_overlap(spark, sf_dir):
    """Cross-corpus near-match join (train/eval fuzzy overlap): LSH band
    join between the two halves of the corpus (odd ids vs even ids — a
    split near-dup pairs actually cross), minhash-estimated Jaccard
    >= 0.25 (exact 4/16 — float-safe in both engines)."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 != 0)
    bench = docs.filter(F.col("doc_id") % 2 == 0)
    return dedup.minhash_similarity_join(corpus, bench, threshold=0.25)


def q_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    signed = dedup.minhash_docs(docs, k=16, n=3)
    pairs = dedup.lsh_candidate_pairs(signed, bands=4, rows=4).select("a_id", "b_id")
    return dedup.ngram_jaccard_pairs(docs, pairs, n=3)


def q_simhash(spark, sf_dir):
    # single-pass profile: no self-join downstream, so the spread shuffle
    # would only add wall (dedup.simhash_docs docstring)
    return dedup.simhash_docs(_t(spark, sf_dir, "documents"), bits=32, spread=False)


def q_simhash_near_dup(spark, sf_dir):
    """Banded SimHash near-dup candidates with exact popcount verify —
    max_hamming=3 < bands=4 gives the pigeonhole completeness guarantee."""
    signed = dedup.simhash_docs(_t(spark, sf_dir, "documents"), bits=32)
    return dedup.simhash_candidate_pairs(signed, bits=32, bands=4, max_hamming=3)


def q_embedding_topk(spark, sf_dir):
    return similarity.cosine_topk(_t(spark, sf_dir, "embeddings"), k=5)


def q_quantize_int8(spark, sf_dir):
    """Symmetric int8 embedding quantization — native HOFs only, zero
    shuffle; floor(x+0.5) + identical float->double casts keep it
    hash-exact."""
    return similarity.quantize_int8(_t(spark, sf_dir, "embeddings"))


def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup over the synthesized planted-cluster table
    (driver embeddings are uniform-random: max pairwise cos ~0.51, so a
    threshold query there is vacuously empty)."""
    label = _sf_label(sf_dir)
    path = synth.ensure_embeddings(label)
    return similarity.cosine_near_dup(spark.read.parquet(path), threshold=0.9)


def q_embedding_ann_lsh(spark, sf_dir):
    """Scale-path ANN (bucketed LSH + exact re-rank) — rows-only check;
    recall vs brute force is pinned in tests."""
    return similarity.lsh_topk(_t(spark, sf_dir, "embeddings"), k=5, n_planes=6)


def q_embedding_ann_ivf(spark, sf_dir):
    """Scale-path ANN (IVF coarse quantizer + probe re-rank) — rows-only
    check; recall vs brute force is pinned in tests."""
    return similarity.ivf_topk(_t(spark, sf_dir, "embeddings"), k=5, n_centroids=16, n_probe=3)


def q_text_profile(spark, sf_dir):
    return text_ops.text_profile(_t(spark, sf_dir, "documents"))


def q_scrub_pii(spark, sf_dir):
    """PII redaction pass: plant deterministic PII-shaped spans (email, ip,
    ssn, card) into 2/3 of the docs, then scrub — per-category counts on the
    original text, sequential category replacement. The oracle mirrors the
    plant expression and the exact regexes (Java-regex/RE2-common syntax)."""
    docs = _t(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.org from 10."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".3.7 ssn 123-45-6789 card 4111111111111111"),
            ),
        ).otherwise(F.col("text")),
    )
    return text_ops.scrub_pii(planted)


def q_repetition_profile(spark, sf_dir):
    """Gopher-style repetition signals (dup n-gram fractions, top-token
    share, threshold flag) — narrow HOF arithmetic + one uniform-key agg."""
    return text_ops.repetition_profile(_t(spark, sf_dir, "documents"))


def q_decontaminate(spark, sf_dir):
    """Training-set decontamination: corpus docs sharing any word 3-gram
    with the benchmark slice (doc_id % 97 == 0) — per-doc distinct-shingle
    hit counts via a size-gated broadcast semi join on md5(shingle)."""
    from gdal_common_python_spark.operators import curation

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    out = curation.decontaminate(corpus, bench, n=3)
    return out.select(
        "doc_id", "n_hits", F.col("n_shingles").cast("long").alias("n_shingles"), "hit_frac"
    )


def q_chunk_documents(spark, sf_dir):
    """Token-window chunking (32-token windows, 8 overlap) — narrow
    HOF-only plan, no shuffle; chunks keep original token case."""
    from gdal_common_python_spark.operators import curation

    docs = _t(spark, sf_dir, "documents")
    return curation.chunk_documents(docs, max_tokens=32, overlap=8)


def q_quota_sample(spark, sf_dir):
    """Deterministic per-language mixing sample: keep iff the md5-derived
    uniform draw falls under the language's quota (zh rate 0 -> dropped).
    Pure narrow filter — stable under repartitioning and resume."""
    from gdal_common_python_spark.operators import curation

    docs = _t(spark, sf_dir, "documents")
    rates = {"en": 0.5, "de": 0.25, "fr": 0.125, "es": 0.125}
    return curation.quota_sample(docs, rates, group_col="lang").select(
        "doc_id", "lang", "source"
    )


def q_events_dates(spark, sf_dir):
    # the driver owns the session; timestamp semantics must not depend on
    # its timezone — force UTC (runtime-settable) like the oracle's naive ts
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events")
    ts = F.col("ts")
    return ev.select(
        "event_id",
        D.day_of_year(ts).alias("doy"),
        D.day_of_year(D.add_days(ts, 28)).alias("doy_plus28"),
        D.days_in_month_ref(F.month(ts), F.year(ts)).alias("dim_ref"),
        D.is_leap_year_ref(F.year(ts)).alias("leap_ref"),
        D.month_abbreviation(ts).alias("mon"),
    )


def q_asof_clicks_views(spark, sf_dir):
    # each click attributed to the user's most recent view at-or-before it
    # (left outer: first-session clicks keep nulls). Join-free one-shuffle
    # as-of; micros + raw parquet doubles only, hash-safe.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        "ts",
        F.col("value").alias("view_value"),
    )
    out = temporal.asof_join(clicks, views, on="ts", by=["user_id"])
    return out.select(
        "click_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("click_ts_us"),
        "view_id",
        F.unix_micros(F.col("ts_r").cast("timestamp")).alias("view_ts_us"),
        "view_value",
    )


def q_interval_overlaps(spark, sf_dir):
    # view dwell intervals [ts, ts + value minutes] x click attribution
    # windows [ts, ts + 30 min] per user — the bucketed (scale-path)
    # interval join with 10-minute buckets; anchor-bucket report-once
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        us.alias("v_start"),
        (us + F.floor(F.col("value") * 60_000_000.0).cast("long")).alias("v_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        us.alias("c_start"),
        (us + F.lit(1_800_000_000)).alias("c_end"),
    )
    pairs = temporal.interval_join(
        views,
        clicks,
        l_start="v_start",
        l_end="v_end",
        r_start="c_start",
        r_end="c_end",
        by=["user_id"],
        bucket_width=600_000_000,
        broadcast_limit=0,
    )
    return pairs.select(
        "view_id",
        "click_id",
        "user_id",
        (F.least("v_end", "c_end") - F.greatest("v_start", "c_start")).alias("overlap_us"),
    )


def q_event_sessions(spark, sf_dir):
    # 30-min-gap sessionization per user, then per-session rollup. One
    # shuffle for the session windows; the rollup groups on the session id
    # (already co-partitioned by user, so AQE keeps it cheap). Counts and
    # micros only — hash-safe.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events")
    s = temporal.sessionize(ev, on="ts", by=["user_id"], gap=1800)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return s.groupBy("session_id", "user_id").agg(
        F.count("*").alias("n_events"),
        F.min(us).alias("start_us"),
        F.max(us).alias("end_us"),
        F.sum((F.col("event_type") == "click").cast("long")).alias("n_clicks"),
    )


def q_pricing_summary(spark, sf_dir):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.date_format(F.min("l_shipdate"), "yyyy-MM-dd HH:mm:ss").alias("first_ship"),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd HH:mm:ss").alias("last_ship"),
        )
    )


def q_orders_by_segment(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = equi_join.attribute_join(
        orders, cust, "o_custkey", "c_custkey", ["c_mktsegment"], error_if_many=True,
    )
    return joined.groupBy("o_orderstatus", "c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


def q_zorder_layout(spark, sf_dir):
    """Morton (Z-order) locality keys for every geo point — the key behind
    layout_by_zorder's range-clustered files (parquet min/max pruning at
    corpus scale). Pure integer codegen; formula mirrored in the oracle."""
    from gdal_common_python_spark.operators import layout

    pts = sj.geo_points(_synth(spark, sf_dir, "documents_spans"))
    return pts.select(
        "doc_id",
        "offset",
        layout.zorder_key(F.col("x"), F.col("y"), res=12).alias("zkey"),
    )


def q_cell_rollup(spark, sf_dir):
    """Multi-resolution cell-count pyramid (H3-style res 7->12 rollup):
    one wide agg at res 12, then parent-sum folds — each coarser level
    aggregates the PREVIOUS level, never the raw table. The oracle
    recomputes every level independently from the raw points."""
    from gdal_common_python_spark.operators import layout

    pts = sj.geo_points(_synth(spark, sf_dir, "documents_spans"))
    return layout.cell_rollup(pts, "x", "y", res_fine=12, res_coarse=7)


def q_cell_smooth(spark, sf_dir):
    """Hex-bin heatmap blur: per-cell point census + fixed (2k+1)^2
    grid_disk dilation + a second cell-keyed agg — focal mean over the
    implicit dense grid (absent cells are zero, window clipped at the
    domain edge); one exact-integer division makes it hash-exact."""
    from gdal_common_python_spark.operators import layout

    pts = sj.geo_points(_synth(spark, sf_dir, "documents_spans"))
    return layout.cell_smooth(pts, res=9, k=1)


def q_vocabulary(spark, sf_dir):
    """Corpus vocabulary, top-200 by (count desc, token asc): the table
    behind tokenizer training / frequency filters. One partial-aggregated
    token shuffle; the cap sorts only the aggregated table."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.vocabulary(docs, top_k=200)


def q_surprisal(spark, sf_dir):
    """Integer-quantized unigram surprisal per doc (bits): deterministic
    LM-quality signal; integer sums keep it partitioning-invariant."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.surprisal_bits(docs, vocab_top_k=1 << 15)


def q_focal_mean(spark, sf_dir):
    """Distributed 3x3 focal mean with halo exchange: tiles ship only their
    border strips to the 8 neighbors (shuffle ∝ perimeter, not 9x data),
    then each tile computes locally via summed-area tables. Integer-valued
    pixels keep every window sum/mean IEEE-exact, so the oracle (a pixel
    neighbor join) hash-matches bit-for-bit."""
    from gdal_common_python_spark.operators import focal

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return focal.focal_mean_pixels(tiles, radius=1, tile_size=32)


def q_hillshade(spark, sf_dir):
    """gdaldem-style hillshade + slope class + aspect octant: Horn 3x3
    gradients via the halo exchange (shuffle ∝ tile perimeter), then pure
    correctly-rounded IEEE arithmetic (+,-,*,/,sqrt and driver-computed
    light-vector literals — no engine-side trig), so the neighbor-join
    oracle hash-matches bit-for-bit."""
    from gdal_common_python_spark.operators import terrain

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return terrain.hillshade_pixels(tiles, tile_size=32)


def q_ruggedness(spark, sf_dir):
    """gdaldem TRI / TPI / roughness in one halo-exchange pass: integer
    numerators (sum |n-c|, 8c - sum n, window max-min) are exact int64;
    tri/tpi divide by the power-of-two 8.0, so the 3x3 neighbor-join
    oracle hash-matches bit-for-bit."""
    from gdal_common_python_spark.operators import terrain

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return terrain.ruggedness_pixels(tiles, tile_size=32)


def q_slope(spark, sf_dir):
    """gdaldem slope -p (percent) analog: 100*sqrt(dzdx^2+dzdy^2) over the
    Horn gradient — sqrt/mul/div only (no trig), shares the halo-exchange
    gradient pass with hillshade, so the oracle hash-matches."""
    from gdal_common_python_spark.operators import terrain

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return terrain.slope_pixels(tiles, tile_size=32)


def q_raster_sample_bilinear(spark, sf_dir):
    """Bilinear point sampling: 2x2 neighborhood blend with pixel-center
    weights, corners exploded to 4 rows per point through one tile-key
    equi-join, max-of-case pivot (no float accumulation order), NULL on
    any-nodata neighborhoods."""
    from gdal_common_python_spark.operators import sample

    return sample.sample_raster_bilinear(
        _synth(spark, sf_dir, "near_points"),
        _synth(spark, sf_dir, "raster_tiles"),
        tile_size=32,
    )


def q_raster_sample(spark, sf_dir):
    """gdallocationinfo analog: every raster band sampled at every point
    via R1 trunc-toward-zero pixel coords (rasters.py:113-116), a tiny
    broadcast geotransform dimension, and one tile-key equi-join +
    element_at — zero UDFs, shuffle ∝ in-bounds points."""
    from gdal_common_python_spark.operators import sample

    return sample.sample_raster_at_points(
        _synth(spark, sf_dir, "near_points"),
        _synth(spark, sf_dir, "raster_tiles"),
        tile_size=32,
    )


_PROX_VALUES = [250.0, 251.0, 252.0, 253.0, 254.0, 255.0]
_PROX_MAXDIST = 6.0


def q_nearblack(spark, sf_dir):
    """nearblack analog: edge-collar pixels via per-tile run summaries +
    one scanline-summary window merge; pixel rows are never shuffled
    (posexplode + two broadcast limit joins)."""
    from gdal_common_python_spark.operators import nearblack as nb_ops

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return nb_ops.nearblack_pixels(tiles, black=0.0, near=80.0, tile_size=32)


def q_proximity(spark, sf_dir):
    """gdal_proximity analog with -maxdist semantics: one halo exchange at
    radius ceil(D) makes the capped exact Euclidean distance transform a
    single perimeter-proportional shuffle; integer squared distances +
    one correctly-rounded sqrt keep it hash-exact."""
    from gdal_common_python_spark.operators import proximity

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return proximity.proximity_pixels(
        tiles, values=_PROX_VALUES, maxdist=_PROX_MAXDIST, tile_size=32
    )


_CONTOUR_LEVELS = [96.0, 176.0]


def q_contour(spark, sf_dir):
    """gdal_contour analog: marching-squares segments per 2x2 cell, owned
    by the top-left pixel's tile — ONE halo-exchange shuffle then local.
    The case table drives BOTH the numpy kernel and the generated oracle
    SQL; one interpolation division per crossing keeps it hash-exact."""
    from gdal_common_python_spark.operators import contour

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return contour.contour_segments(tiles, levels=_CONTOUR_LEVELS, tile_size=32)


def q_contour_lines(spark, sf_dir):
    """Stitched contours: exact-double shared endpoints -> one adjacency
    groupBy -> min-label propagation (the polygonize machinery); line_id =
    min segment id in the polyline. Oracle = recursive-CTE walk. Runs on
    one band to keep the gate's recursive oracle tractable."""
    from gdal_common_python_spark.operators import contour

    tiles = _synth(spark, sf_dir, "raster_tiles").where(
        (F.col("raster_id") == "r3") & (F.col("band") == 1)
    )
    return contour.contour_lines(tiles, levels=_CONTOUR_LEVELS, tile_size=32)


_RELIEF_RAMP = [
    (0.0, 0, 0, 128),
    (64.0, 0, 128, 0),
    (128.0, 240, 230, 140),
    (192.0, 139, 90, 43),
    (255.0, 255, 255, 255),
]


def q_color_relief(spark, sf_dir):
    """gdaldem color-relief analog: piecewise-linear ramp as one chained
    CASE of driver literals (the hillshade light-literal discipline);
    floor(x+0.5) channel rounding — pure codegen, zero shuffle."""
    from gdal_common_python_spark.operators import rasterinfo

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return rasterinfo.color_relief(tiles, _RELIEF_RAMP, tile_size=32)


def q_raster_histogram(spark, sf_dir):
    """gdalinfo -hist analog: fixed-width bucket counts per (raster, band)
    in one map-side-combined groupBy — shuffle ∝ rasters × buckets."""
    from gdal_common_python_spark.operators import rasterinfo

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return rasterinfo.raster_histogram(tiles, lo=0.0, hi=256.0, n_buckets=16, tile_size=32)


def q_histogram_match(spark, sf_dir):
    """Histogram matching remap table (r0/b1 normalized to r2/b1's
    distribution): two value histograms + window cumsums + a cross-
    multiplied INTEGER CDF pick — no float CDF forms, hash-exact; all
    intermediates value-domain-sized, never pixel-sized."""
    from gdal_common_python_spark.operators import rasterinfo

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return rasterinfo.histogram_match(tiles, src=("r0", 1), ref=("r2", 1))


def q_rgb2pct(spark, sf_dir):
    """rgb2pct analog (GDAL ComputeMedianCutPCT): level-synchronous balanced
    median cut over the distinct-(r,g,b) histogram — every per-level step is
    histogram-sized (bounded by 2^24 colors regardless of raster size), the
    only full-data pass is the initial map-side-combined groupBy. Returns
    the 2^4-entry palette with integer round-half-up channel means."""
    from gdal_common_python_spark.operators import palette

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return palette.median_cut_palette(
        palette.rgb_pixels(tiles, ("r0", 1), ("r1", 1), ("r1", 2)), levels=4
    )


def q_pct2rgb(spark, sf_dir):
    """pct2rgb analog round-trip: quantize (rgb2pct), expand the palette
    indexes back to RGB via a broadcast of the <=2^L-row palette, roll up
    per (tile, box). The expansion itself is shuffle-free — the only
    exchange is the final compact rollup."""
    from gdal_common_python_spark.operators import palette

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return palette.pct_tile_histogram(
        tiles, ("r0", 1), ("r1", 1), ("r1", 2), levels=4
    )


def q_centroids(spark, sf_dir):
    """OGR Centroid() analog under the integer-quantization discipline:
    per-edge shoelace terms floor-quantized to int64 before summing
    (order-independent), one correctly-rounded division at the end."""
    from gdal_common_python_spark.functions import measures

    zones = _synth(spark, sf_dir, "zones")
    return measures.centroid(zones).select("zone_id", "centroid_x", "centroid_y")


def q_keywords(spark, sf_dir):
    """Integer tf-idf keywords: floor-log2 idf bits (exact in any IEEE
    engine), integer scores, token-ASC tie-break — fully deterministic
    ranking; vocab broadcast is top-k-capped."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.keywords_tfidf(docs, top_k=5, vocab_top_k=1 << 15)


_DP_EPS = 0.01
_DP_DEPTH = 8


def q_dp_simplify(spark, sf_dir):
    """Bounded-depth Douglas-Peucker (OGR Simplify analog): breadth-first
    splits at the max-deviation vertex, squared-cross-product tests only
    (no sqrt/division), ties -> min index — the K-level truncation is the
    pinned semantic, so the K-times-unrolled SQL oracle is hash-exact."""
    from gdal_common_python_spark.operators import simplify

    zones = _synth(spark, sf_dir, "zones")
    return simplify.dp_simplify(zones, eps=_DP_EPS, max_depth=_DP_DEPTH)


def q_segmentize(spark, sf_dir):
    """OGR Segmentize analog: densify ring edges to <= 0.5 deg segments —
    pure codegen HOFs, zero shuffle, one correctly-rounded sqrt."""
    from gdal_common_python_spark.operators import segmentize as seg_ops

    return seg_ops.segmentize(_synth(spark, sf_dir, "zones"), 0.5)


def q_length_quantiles(spark, sf_dir):
    """Exact distributed quantiles via count-histogram: shuffle ∝ distinct
    values per group, never rows; nearest-rank picks are deterministic and
    hash-exact (identical IEEE ceil both engines)."""
    from gdal_common_python_spark.operators import quantiles

    docs = _t(spark, sf_dir, "documents")
    return quantiles.exact_quantiles(docs, ["lang"], "n_chars", [0.5, 0.9, 0.99])


def q_raster_calc(spark, sf_dir):
    """gdal_calc analog: tile-key equi-join of two same-grid bands + one
    native zip_with — all arithmetic JVM-side, nodata -> NULL."""
    from gdal_common_python_spark.operators import rasterinfo

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return rasterinfo.raster_calc(tiles, a=("r0", 1), b=("r1", 1), op="sub", tile_size=32)


def q_convex_hull(spark, sf_dir):
    """Distributed convex hull: per-partition monotone chain, then one
    chain over the tiny local-hull union — collect-free, movement ∝ hull
    sizes. Strictly-convex vertex set; identical IEEE cross-product sign
    decisions make it hash-exact vs the strict-side edge oracle."""
    from gdal_common_python_spark.operators import hull

    return hull.convex_hull(_synth(spark, sf_dir, "near_points"))


_SIEVE_THRESHOLD = 5


def q_sieve(spark, sf_dir):
    """gdal_sieve analog (one deterministic pass): regions under the pixel
    threshold absorb into their largest 4-connected neighbor (ties -> min
    region id). Sizes + cross-value adjacency fall out of the polygonize
    stages; the merge pick is one window over small regions only."""
    from gdal_common_python_spark.operators import polygonize

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return polygonize.sieve_regions(spark, tiles, threshold=_SIEVE_THRESHOLD, tile_size=32)


def q_reclass_regions(spark, sf_dir):
    """Reclassify (16 classes, breaks every 16) THEN polygonize — the
    contour-region composition: class grids feed the connected-component
    machinery unchanged because reclassify keeps the tile shape. One
    plane (r0/1) and 16 classes keep the ORACLE's recursive closure
    tractable (the closure is quadratic in region size; 3 classes made
    it 280 s) — the engine itself is indifferent to region size."""
    from gdal_common_python_spark.operators import focal, polygonize

    tiles = _synth(spark, sf_dir, "raster_tiles").filter(
        (F.col("raster_id") == "r0") & (F.col("band") == 1)
    )
    cls = focal.reclassify_tiles(tiles, breaks=[float(b) for b in range(16, 256, 16)])
    return polygonize.polygonize_regions(spark, cls, tile_size=32)


def q_geohash(spark, sf_dir):
    """Standard geohash strings (precision 9) for every geo point — pure
    integer/substring codegen, verified against the classic test vectors
    in pytest and hash-compared against the same arithmetic in DuckDB."""
    from gdal_common_python_spark.operators import layout

    pts = sj.geo_points(_synth(spark, sf_dir, "documents_spans"))
    return pts.select(
        "doc_id", "offset", layout.geohash(F.col("x"), F.col("y"), 9).alias("gh")
    )


def q_polygonize(spark, sf_dir):
    """Raster polygonization across tiles: per-tile union-find labeling,
    border-pixel equivalence join (perimeter-only shuffle), global
    min-label propagation (checkpointed rounds), one summary agg. Region
    id = min global pixel id — reproducible, so the recursive-CTE oracle
    hash-matches."""
    from gdal_common_python_spark.operators import polygonize

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return polygonize.polygonize_regions(spark, tiles, tile_size=32)


def q_curated_chunks(spark, sf_dir):
    """The END-TO-END curation recipe as one gate: exact dedup -> quality
    gate -> stratified split (train) -> token-window chunking, all one
    lazy plan (two shuffles). The oracle composes the same four formulas
    in SQL — the determinism of the whole CHAIN is what's being pinned."""
    from gdal_common_python_spark import pipelines

    docs = _t(spark, sf_dir, "documents")
    return pipelines.curate_corpus(docs)


def q_profile_table(spark, sf_dir):
    """Per-column dataset profile in ONE wide aggregate + stack unpivot
    (no per-column scan loop); exact distinct counts for the oracle,
    approx_count_distinct available for corpus scale."""
    from gdal_common_python_spark.operators import curation

    docs = _t(spark, sf_dir, "documents")
    return curation.profile_table(docs)


def q_track_stats(spark, sf_dir):
    """Trajectory metrics per document (ordered geo spans = track): planar
    length + max hop in integer micro-units (floor-quantized BEFORE the
    sum so the aggregate is order-independent), point count, bbox."""
    from gdal_common_python_spark.operators import tracks

    pts = sj.geo_points(_synth(spark, sf_dir, "documents_spans"))
    return tracks.track_stats(pts)


def q_track_dwells(spark, sf_dir):
    """Stay-point segmentation: anchor-rule dwells (new dwell when a point
    leaves the radius disk around the current dwell's first point) — one
    ordered window pass; the oracle walks each track with a recursive
    CTE."""
    from gdal_common_python_spark.operators import tracks

    pts = sj.geo_points(_synth(spark, sf_dir, "documents_spans"))
    return tracks.dwell_points(pts, radius=5.0)


def q_bigram_surprisal(spark, sf_dir):
    """Conditional (bigram-model) surprisal in quantized integer bits —
    the LM-quality signal one level above the unigram gate; same
    order-independent integer-sum discipline."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.bigram_surprisal_bits(docs, vocab_top_k=1 << 15)


def q_stratified_split(spark, sf_dir):
    """Deterministic per-language train/val/test assignment via the
    md5-draw ladder — pure row function, stable under repartitioning."""
    from gdal_common_python_spark.operators import curation

    docs = _t(spark, sf_dir, "documents")
    out = curation.stratified_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, group_col="lang"
    )
    return out.select("doc_id", "lang", "split")


def q_dup_passages(spark, sf_dir):
    """Exact duplicate-passage detection at 8-gram granularity (the
    practical suffix-array dedup): hash-keyed gram frequencies + one
    gap-and-islands window — text never shuffles."""
    from gdal_common_python_spark.operators import dedup as dedup_ops

    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.duplicate_passages(docs, k=8, min_count=2)


def q_pack_sequences(spark, sf_dir):
    """GPT-style concat-then-chop sequence packing: md5-sharded, one
    running-sum window per shard; only (id, token-count) pairs shuffle."""
    from gdal_common_python_spark.operators import curation

    docs = _t(spark, sf_dir, "documents")
    return curation.pack_sequences(docs, capacity=256, n_shards=16)


_MIX_WEIGHTS = {"src0": 0.25, "src1": 0.25, "src2": 0.2, "src3": 0.2, "src4": 0.1}


def q_source_cap(spark, sf_dir):
    """Per-source document cap via deterministic md5-draw ranking (the
    per-domain cap of web-corpus pipelines); identical across runs,
    partitionings and engines."""
    from gdal_common_python_spark.operators import curation

    docs = _t(spark, sf_dir, "documents")
    return curation.source_cap(docs, 10).select("doc_id", "source", "grp_rank")


def q_mixture_sample(spark, sf_dir):
    """Token-budget mixture sampling: per-source keep fractions from one
    dimension-sized aggregate, then a pure md5-draw row filter."""
    from gdal_common_python_spark.operators import curation

    docs = _t(spark, sf_dir, "documents")
    return curation.mixture_sample(docs, _MIX_WEIGHTS, token_budget=3000)


def q_dedup_lines(spark, sf_dir):
    """C4/RefinedWeb-style segment-level corpus dedup: strike every
    occurrence of any 8-token segment seen more than once corpus-wide,
    rebuild the cleaned text. Text shuffles zero times (hash-keyed count +
    strike-position join; rebuild is a doc-side filter HOF)."""
    from gdal_common_python_spark.operators import dedup as dedup_ops

    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.dedup_segments(docs, window=8, max_count=1)


def q_skew_report(spark, sf_dir):
    """Hot-cell skew census at the join resolution: per-cell point counts,
    integer ppm share, and the salt factor ceil(n/target) that bounds a
    reducer's slice — the planning table behind the salted join path.
    One map-side-combined groupBy(cell) (shuffle bounded by 4^res, not
    data) + a single-row total broadcast."""
    return sj.skew_report(
        spark, _synth(spark, sf_dir, "documents_spans"),
        res=9, top_k=100, target_rows=50,
    )


def q_join_partition_metrics(spark, sf_dir):
    """Per-partition lineage of the flagship PIP join as a queryable
    metrics table: md5-mod-16 bucket of doc_id -> (input_docs with points,
    input_points, output_rows). The md5 draw is the engine/oracle-shared
    deterministic bucket identity. The checkpoint table
    (streaming/checkpoint.py) keeps its own lineage, bucketed by
    pmod(xxhash64(doc_id), n) and counting input docs."""
    return sj.join_partition_metrics(
        spark,
        _synth(spark, sf_dir, "documents_spans"),
        _synth(spark, sf_dir, "zones"),
        n_buckets=16,
    )


def q_grid_disk(spark, sf_dir):
    """H3 gridDisk analog: zone bbox-center cells at res 9 expanded to the
    Chebyshev k=2 neighborhood — fixed (2k+1)^2 fan-out, pure codegen, no
    shuffle (the kNN ring expansion's neighborhood op as a table)."""
    from gdal_common_python_spark.operators import layout as layout_ops

    z = _synth(spark, sf_dir, "zones").select(
        "zone_id",
        ((F.col("bbox4326.xmin") + F.col("bbox4326.xmax")) / F.lit(2.0)).alias("cx"),
        ((F.col("bbox4326.ymin") + F.col("bbox4326.ymax")) / F.lit(2.0)).alias("cy"),
    )
    cells = z.select(
        "zone_id", sj.cell_expr(F.col("cx"), F.col("cy"), 9).alias("cell")
    )
    return layout_ops.grid_disk(cells, res=9, k=2)


def q_grid_distance(spark, sf_dir):
    """H3 gridDistance analog: Chebyshev cell distance between every
    ordered pair of zone bbox-center cells at res 9 — dimension-sized
    both sides, broadcast nested-loop join on the < predicate (never a
    corpus-side cross join)."""
    from gdal_common_python_spark.operators import layout as layout_ops

    z = _synth(spark, sf_dir, "zones").select(
        "zone_id",
        sj.cell_expr(
            (F.col("bbox4326.xmin") + F.col("bbox4326.xmax")) / F.lit(2.0),
            (F.col("bbox4326.ymin") + F.col("bbox4326.ymax")) / F.lit(2.0),
            9,
        ).alias("cell"),
    )
    a, b = z.alias("a"), z.alias("b")
    return a.join(
        F.broadcast(b), F.col("a.zone_id") < F.col("b.zone_id")
    ).select(
        F.col("a.zone_id").alias("zone_a"),
        F.col("b.zone_id").alias("zone_b"),
        layout_ops.grid_distance(F.col("a.cell"), F.col("b.cell")).alias("grid_dist"),
    )


def q_polyfill(spark, sf_dir):
    """H3 polygonToCells analog: bbox cover (bounded fan-out) refined by
    center even-odd crossing parity — the verbatim distributed-PIP
    expression, map-side-combined on (zone_id, cell)."""
    from gdal_common_python_spark.operators import layout as layout_ops

    return layout_ops.polyfill(
        _synth(spark, sf_dir, "zones"), _synth(spark, sf_dir, "zone_edges"), res=9
    )


def q_cell_bounds(spark, sf_dir):
    """H3 cellToBoundary analog: exact power-of-two rectangle of each
    zone-center cell — pure codegen, zero shuffle."""
    from gdal_common_python_spark.operators import layout as layout_ops

    z = _synth(spark, sf_dir, "zones").select(
        "zone_id",
        sj.cell_expr(
            (F.col("bbox4326.xmin") + F.col("bbox4326.xmax")) / F.lit(2.0),
            (F.col("bbox4326.ymin") + F.col("bbox4326.ymax")) / F.lit(2.0),
            9,
        ).alias("cell"),
    )
    return layout_ops.cell_bounds(z, res=9)


def q_bpe_train(spark, sf_dir):
    """Greedy BPE merge learning (8 merges) on the corpus vocab: one
    corpus pass builds word counts; each round is a pair aggregation over
    the dimension-sized vocab + a 1-row deterministic argmax collect —
    corpus size never re-enters the loop."""
    return text_ops.bpe_train(_t(spark, sf_dir, "documents"), n_merges=8)


def q_bpe_segment(spark, sf_dir):
    """Apply the learned BPE merges: per-document true subword counts —
    the merge loop runs on the vocab, the segmented vocab broadcasts back
    over the word stream (word text never shuffles)."""
    return text_ops.bpe_segment(_t(spark, sf_dir, "documents"), n_merges=8)


def q_line_interpolate(spark, sf_dir):
    """ST_LineInterpolatePoint analog at f=1/2 over document tracks
    (ordered geo spans): micro-unit-quantized cumulative length keeps the
    running sums order-independent exact integers; one double lerp."""
    from gdal_common_python_spark.operators import tracks

    pts = sj.geo_points(_synth(spark, sf_dir, "documents_spans"))
    return tracks.line_interpolate(pts, frac_num=1, frac_den=2)


def q_track_resample(spark, sf_dir):
    """Fixed-size trajectory normalization: every document track
    re-sampled at 5 equally spaced arc-length fractions (the sequence-
    model input shape) — integer micro-unit cumsums + one double lerp
    per output point, hash-exact."""
    from gdal_common_python_spark.operators import tracks

    pts = sj.geo_points(_synth(spark, sf_dir, "documents_spans"))
    return tracks.track_resample(pts, n_points=5)


def q_point_on_surface(spark, sf_dir):
    """ST_PointOnSurface analog: widest even-odd interval midpoint on the
    bbox-midline scanline — guaranteed interior, fully native windows over
    the dimension-sized crossing set, bit-exact vs the oracle."""
    from gdal_common_python_spark.functions import measures

    return measures.point_on_surface(
        _synth(spark, sf_dir, "zones"), _synth(spark, sf_dir, "zone_edges")
    )


def q_proximity_alloc(spark, sf_dir):
    """Nearest-target allocation (discrete Voronoi companion to
    gdal_proximity): same single halo-exchange shape, per-pixel min
    squared distance plus the claiming target's value, equidistant ties
    to the minimum target value."""
    from gdal_common_python_spark.operators import proximity

    tiles = _synth(spark, sf_dir, "raster_tiles")
    return proximity.allocation_pixels(
        tiles, values=_PROX_VALUES, maxdist=_PROX_MAXDIST, tile_size=32
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "spatial_join_pip": q_spatial_join_pip,
        "skew_report": q_skew_report,
        "proximity_alloc": q_proximity_alloc,
        "point_on_surface": q_point_on_surface,
        "line_interpolate": q_line_interpolate,
        "track_resample": q_track_resample,
        "bpe_train": q_bpe_train,
        "bpe_segment": q_bpe_segment,
        "polyfill": q_polyfill,
        "cell_bounds": q_cell_bounds,
        "join_partition_metrics": q_join_partition_metrics,
        "grid_disk": q_grid_disk,
        "grid_distance": q_grid_distance,
        "media_geotag": q_media_geotag,
        "media_dedup": q_media_dedup,
        "caption_pairs": q_caption_pairs,
        "rewrite_dedup_media": q_rewrite_dedup_media,
        "render_interleaved": q_render_interleaved,
        "span_kind_transitions": q_span_kind_transitions,
        "strip_boilerplate": q_strip_boilerplate,
        "scrub_contaminated": q_scrub_contaminated,
        "pack_interleaved": q_pack_interleaved,
        "curated_packs": q_curated_packs,
        "zone_corpus_profile": q_zone_corpus_profile,
        "envelope": q_envelope,
        "layer_extent": q_layer_extent,
        "spatial_join_pip_salted": q_spatial_join_pip_salted,
        "spatial_join_pip_distributed": q_spatial_join_pip_distributed,
        "spatial_anti_join": q_spatial_anti_join,
        "edge_intersections": q_edge_intersections,
        "nearest_zone_distance": q_nearest_zone_distance,
        "nearest_zone_distance_distributed": q_nearest_zone_distance_distributed,
        "zone_mean_center": q_zone_mean_center,
        "zone_dedup_profile": q_zone_dedup_profile,
        "zone_stratified_sample": q_zone_stratified_sample,
        "zone_keywords": q_zone_keywords,
        "route_zone_sequence": q_route_zone_sequence,
        "track_profile": q_track_profile,
        "spatial_join_polygons": q_spatial_join_polygons,
        "spatial_join_polygons_distributed": q_spatial_join_polygons_distributed,
        "tile_assignment": q_tile_assignment,
        "zonal_counts": q_zonal_counts,
        "zonal_counts_wide": q_zonal_counts_wide,
        "zonal_stats": q_zonal_stats,
        "knn": q_knn,
        "near_table": q_near_table,
        "dissolve_category": q_dissolve_category,
        "dissolve_components": q_dissolve_components,
        "dissolve_components_scalable": q_dissolve_components_scalable,
        "dissolve_union": q_dissolve_union,
        "dissolve_union_scalable": q_dissolve_union_scalable,
        "overlay_clip": q_overlay_clip,
        "union_layers": q_union_layers,
        "overlay_erase": q_overlay_erase,
        "overlay_identity": q_overlay_identity,
        "overlay_symdiff": q_overlay_symdiff,
        "overlay_update": q_overlay_update,
        "buffer_negative": q_buffer_negative,
        "make_valid": q_make_valid,
        "mosaic": q_mosaic,
        "mosaic_mixed_grid": q_mosaic_mixed_grid,
        "media_metadata": q_media_metadata,
        "media_resize": q_media_resize,
        "media_frames": q_media_frames,
        "span_invariant": q_span_invariant,
        "dedup_exact": q_dedup_exact,
        "stream_dedup_replay": q_stream_dedup_replay,
        "csv_wkt_roundtrip": q_csv_wkt_roundtrip,
        "stream_cell_counts_replay": q_stream_cell_counts_replay,
        "stream_spatial_join_replay": q_stream_spatial_join_replay,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "corpus_overlap": q_corpus_overlap,
        "simhash": q_simhash,
        "simhash_near_dup": q_simhash_near_dup,
        "embedding_topk": q_embedding_topk,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        "embedding_ann_lsh": q_embedding_ann_lsh,
        "embedding_ann_ivf": q_embedding_ann_ivf,
        "text_profile": q_text_profile,
        "repetition_profile": q_repetition_profile,
        "scrub_pii": q_scrub_pii,
        "decontaminate": q_decontaminate,
        "quota_sample": q_quota_sample,
        "chunk_documents": q_chunk_documents,
        "events_dates": q_events_dates,
        "asof_clicks_views": q_asof_clicks_views,
        "interval_overlaps": q_interval_overlaps,
        "event_sessions": q_event_sessions,
        "pricing_summary": q_pricing_summary,
        "orders_by_segment": q_orders_by_segment,
        "zorder_layout": q_zorder_layout,
        "cell_rollup": q_cell_rollup,
        "cell_smooth": q_cell_smooth,
        "focal_mean": q_focal_mean,
        "hillshade": q_hillshade,
        "ruggedness": q_ruggedness,
        "slope": q_slope,
        "raster_sample": q_raster_sample,
        "raster_sample_bilinear": q_raster_sample_bilinear,
        "proximity": q_proximity,
        "nearblack": q_nearblack,
        "contour": q_contour,
        "contour_lines": q_contour_lines,
        "sieve": q_sieve,
        "color_relief": q_color_relief,
        "raster_histogram": q_raster_histogram,
        "histogram_match": q_histogram_match,
        "rgb2pct": q_rgb2pct,
        "pct2rgb": q_pct2rgb,
        "centroids": q_centroids,
        "convex_hull": q_convex_hull,
        "raster_calc": q_raster_calc,
        "keywords": q_keywords,
        "length_quantiles": q_length_quantiles,
        "quantize_int8": q_quantize_int8,
        "dp_simplify": q_dp_simplify,
        "polygonize": q_polygonize,
        "geohash": q_geohash,
        "track_stats": q_track_stats,
        "track_dwells": q_track_dwells,
        "profile_table": q_profile_table,
        "curated_chunks": q_curated_chunks,
        "reclass_regions": q_reclass_regions,
        "bigram_surprisal": q_bigram_surprisal,
        "vocabulary": q_vocabulary,
        "surprisal": q_surprisal,
        "stratified_split": q_stratified_split,
        "dedup_lines": q_dedup_lines,
        "pack_sequences": q_pack_sequences,
        "raster_warp": q_raster_warp,
        "warp_average": q_warp_average,
        "fillnodata": q_fillnodata,
        "rasterize": q_rasterize,
        "cutline": q_cutline,
        "grid_points": q_grid_points,
        "source_cap": q_source_cap,
        "mixture_sample": q_mixture_sample,
        "translate": q_translate,
        "retile": q_retile,
        "resample": q_resample,
        "pansharpen": q_pansharpen,
        "chunk_interleaved": q_chunk_interleaved,
        "overviews": q_overviews,
        "segmentize": q_segmentize,
        "raster_info": q_raster_info,
        "raster_minmax": q_raster_minmax,
        "grid_idw": q_grid_idw,
        "grid_nearest": q_grid_nearest,
        "grid_metrics": q_grid_metrics,
        "zonal_majority": q_zonal_majority,
        "zonal_percentiles": q_zonal_percentiles,
        "spans_text_profile": q_spans_text_profile,
        "dup_passages": q_dup_passages,
        "explode_collections": q_explode_collections,
        "raster_compare": q_raster_compare,
        "raster_xyz": q_raster_xyz,
        "slippy_tiles": q_slippy_tiles,
        "viewshed": q_viewshed,
        "tile_stats": q_tile_stats,
        "tile_index": q_tile_index,
        "footprint": q_footprint,
        "compact_cells": q_compact_cells,
        "uncompact_cells": q_uncompact_cells,
        "vector_info": q_vector_info,
    }


# ---------------------------------------------------------------- oracle SQL

_DOCS = f"read_parquet('{S01}/documents_spans.parquet/*.parquet')"
_ZONES = f"read_parquet('{S01}/zones.parquet')"
_EDGES = f"read_parquet('{S01}/zone_edges.parquet')"
_RASTERS = f"read_parquet('{S01}/rasters.parquet')"
_TILES = f"read_parquet('{S01}/raster_tiles.parquet')"
_POINTS = f"read_parquet('{S01}/near_points.parquet')"

# CSV+WKT round trip: the oracle reads the ORIGINAL parquet — repr doubles
# round-trip IEEE754 exactly, so the CSV path must reproduce it bit-for-bit
_SQL_CSV_WKT_ROUNDTRIP = f"SELECT point_id, tag, x, y FROM {_POINTS}"


def _sql_grid_ixy(res: int) -> str:
    return f"{cells.sql_index('px', res, 0)} AS ix, {cells.sql_index('py', res, 1)} AS iy"


# windowed streaming ingest, replayed deterministically: event time =
# 1_600_000_000 + (md5 hex 9..16 of doc_id % 180) seconds per DOC, tumbling
# 1-minute windows aligned to the epoch, cell at res 7 — the POINT_RX
# regexp parse is the streaming path's own (mirrored verbatim), and the
# final complete-mode table is exactly this batch groupBy
_SQL_STREAM_CELL_COUNTS = f"""
WITH pts AS (
  SELECT doc_id,
         TRY_CAST(regexp_extract(s.text, 'POINT\\(([-+0-9.eE]+) ([-+0-9.eE]+)\\)', 1) AS DOUBLE) px,
         TRY_CAST(regexp_extract(s.text, 'POINT\\(([-+0-9.eE]+) ([-+0-9.eE]+)\\)', 2) AS DOUBLE) py
  FROM (SELECT doc_id, unnest(spans) s FROM {_DOCS})
  WHERE s.kind = 'geo' AND s.text LIKE 'POINT%'
),
t AS (
  SELECT (1600000000 + (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8) AS BIGINT) % 180)) AS epoch,
         {_sql_grid_ixy(7)}
  FROM pts
)
SELECT CAST((epoch // 60) * 60 AS BIGINT) AS win_start,
       CAST({7 << RES_SHIFT} + ix * {1 << IX_SHIFT} + iy AS BIGINT) AS cell,
       count(*) AS n_spans
FROM t
GROUP BY 1, 2
"""

# rectify native-srid edge coords to 4326 (closed-form mercator inverse)
# zone_edges carries ingest-time rectified 4326 coords (ex1..ey2)
_RECT_EDGES = f"""
  SELECT zone_id, ex1, ey1, ex2, ey2 FROM {_EDGES}
"""

from gdal_common_python_spark.operators.spatial_join import (  # noqa: E402
    point_parse_sql as _pts_parse_sql,
)

_SQL_SPATIAL_JOIN_PIP = f"""
WITH pts AS ({_pts_parse_sql(_DOCS)}),
edges AS ({_RECT_EDGES})
SELECT p.doc_id, p.off AS "offset", e.zone_id
FROM pts p, edges e
WHERE (e.ey1 > p.py) != (e.ey2 > p.py)
  AND p.px < (e.ex2 - e.ex1) * (p.py - e.ey1) / (e.ey2 - e.ey1) + e.ex1
GROUP BY 1, 2, 3
HAVING count(*) % 2 = 1
"""

from gdal_common_python_spark.operators.spatial_join import (  # noqa: E402
    edge_intersections_oracle_sql as _ei_sql,
)

_SQL_EDGE_INTERSECTIONS = _ei_sql(_EDGES)

_SQL_SPATIAL_ANTI_JOIN = f"""
WITH pts AS ({_pts_parse_sql(_DOCS)}),
pip AS ({_SQL_SPATIAL_JOIN_PIP})
SELECT p.doc_id, p.off AS "offset", p.px AS x, p.py AS y
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pip z WHERE z.doc_id = p.doc_id AND z."offset" = p.off
)
"""

from gdal_common_python_spark.operators.spatial_join import (  # noqa: E402
    nearest_zone_distance_oracle_sql as _nzd_sql,
)

_SQL_NEAREST_ZONE_DISTANCE = _nzd_sql(_SQL_SPATIAL_ANTI_JOIN, _EDGES)

# per-zone corpus rollup: PIP + media-geotag subqueries, integer aggregates
_SQL_ZONE_CORPUS_PROFILE = f"""
WITH pip AS ({_SQL_SPATIAL_JOIN_PIP}),
dz AS (
  SELECT zone_id, doc_id, count(*) AS n_points
  FROM pip GROUP BY 1, 2
),
chars AS (
  SELECT doc_id,
         CAST(coalesce(sum(CASE WHEN s.kind = 'text'
                                THEN coalesce(length(s.text), 0) ELSE 0 END), 0)
              AS BIGINT) AS n_chars
  FROM (SELECT doc_id, unnest(spans) s FROM {_DOCS})
  GROUP BY 1
),
media AS (
  SELECT zone_id, CAST(count(*) AS BIGINT) AS n_media
  FROM ({{MEDIA_GEOTAG}}) mg
  WHERE zone_id IS NOT NULL
  GROUP BY 1
),
per_zone AS (
  SELECT dz.zone_id,
         CAST(count(DISTINCT dz.doc_id) AS BIGINT) AS n_docs,
         CAST(sum(dz.n_points) AS BIGINT) AS n_points,
         CAST(sum(chars.n_chars) AS BIGINT) AS text_chars
  FROM dz JOIN chars USING (doc_id)
  GROUP BY 1
)
SELECT per_zone.zone_id, n_docs, n_points, text_chars,
       coalesce(n_media, 0) AS n_media
FROM per_zone LEFT JOIN media ON per_zone.zone_id = media.zone_id
"""

# G7 relational union: both id-parity halves back together, structure stats
_SQL_UNION_LAYERS = f"""
SELECT zone_id,
       CAST(len(rings4326) AS INT) AS n_rings,
       CAST(len(flatten(rings4326)) AS INT) AS n_vertices
FROM {_ZONES}
"""

# native per-feature envelope (P11) + layer extent (A7)
_SQL_ENVELOPE = f"""
SELECT zone_id,
  list_aggregate(list_transform(flatten(rings4326), p -> p[1]), 'min') AS xmin,
  list_aggregate(list_transform(flatten(rings4326), p -> p[2]), 'min') AS ymin,
  list_aggregate(list_transform(flatten(rings4326), p -> p[1]), 'max') AS xmax,
  list_aggregate(list_transform(flatten(rings4326), p -> p[2]), 'max') AS ymax
FROM {_ZONES}
"""

_SQL_LAYER_EXTENT = f"""
SELECT min(xmin) AS xmin, min(ymin) AS ymin, max(xmax) AS xmax, max(ymax) AS ymax
FROM ({_SQL_ENVELOPE})
"""

# media geotag: ASOF LEFT JOIN over the grouped PIP subquery — each media
# span inherits min(zone_id) of the nearest preceding geo span per doc
_SQL_MEDIA_GEOTAG = f"""
WITH geo AS (
  SELECT doc_id, "offset", min(zone_id) AS zone_id
  FROM ({_SQL_SPATIAL_JOIN_PIP}) pip
  GROUP BY 1, 2
),
media AS (
  SELECT doc_id, s."offset" AS "offset", s.media_ref AS media_ref
  FROM (SELECT doc_id, unnest(spans) s FROM {_DOCS})
  WHERE s.kind = 'media'
)
SELECT m.doc_id, m."offset", m.media_ref, g.zone_id
FROM media m ASOF LEFT JOIN geo g
  ON m.doc_id = g.doc_id AND m."offset" >= g."offset"
"""

# the corpus-profile oracle embeds the media-geotag subquery (defined above
# as a placeholder because this statement precedes it in the file)
_SQL_ZONE_CORPUS_PROFILE = _SQL_ZONE_CORPUS_PROFILE.replace(
    "{MEDIA_GEOTAG}", _SQL_MEDIA_GEOTAG
)

# window snap (north-up grids only — all synth rasters have px_y < 0)
_SQL_WINDOWS = f"""
  SELECT zone_id, raster_id, band, input_rank,
         origin_x, origin_y, px_x, px_y, width, height, nodata,
         xs AS win_ox, ysnap AS win_oy,
         CASE WHEN off_x + rx0 > width THEN width - off_x ELSE rx0 END AS res_x,
         CASE WHEN off_y + ry0 > height THEN height - off_y ELSE ry0 END AS res_y,
         off_x, off_y
  FROM (
    SELECT *,
           CAST(trunc((xs - origin_x) / px_x) AS BIGINT) AS off_x,
           CAST(trunc((ysnap - origin_y) / px_y) AS BIGINT) AS off_y,
           CAST(trunc((xmax - xs) / px_x) AS BIGINT) AS rx0,
           -CAST(trunc((ysnap - ymin) / px_y) AS BIGINT) AS ry0
    FROM (
      SELECT zb.*, r.raster_id, r.band, r.input_rank, r.origin_x, r.origin_y,
             r.px_x, r.px_y, r.width, r.height, r.nodata,
             CASE WHEN zb.xmin < r.origin_x THEN r.origin_x
                  ELSE zb.xmin - ((zb.xmin - r.origin_x) - floor((zb.xmin - r.origin_x)/r.px_x)*r.px_x) END AS xs,
             CASE WHEN zb.ymax > r.origin_y THEN r.origin_y
                  ELSE zb.ymax - ((r.origin_y - zb.ymax) - floor((r.origin_y - zb.ymax)/r.px_y)*r.px_y) END AS ysnap
      FROM (
        SELECT zone_id, bbox4326.xmin AS xmin, bbox4326.ymin AS ymin,
               bbox4326.xmax AS xmax, bbox4326.ymax AS ymax
        FROM {_ZONES}
      ) zb, {_RASTERS} r
    )
  )
  WHERE off_x <= width AND off_y <= height
    AND (CASE WHEN off_x + rx0 > width THEN width - off_x ELSE rx0 END) > 0
    AND (CASE WHEN off_y + ry0 > height THEN height - off_y ELSE ry0 END) > 0
"""

_SQL_TILE_ASSIGNMENT = f"""
SELECT zone_id, raster_id, band, win_ox, win_oy, res_x, res_y, off_x, off_y
FROM ({_SQL_WINDOWS})
"""

_SQL_KNN = f"""
SELECT from_id, rank, to_id, distance FROM (
  SELECT a.point_id AS from_id, b.point_id AS to_id,
         sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS distance,
         row_number() OVER (
           PARTITION BY a.point_id
           ORDER BY sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)), b.point_id
         ) AS rank
  FROM {_POINTS} a JOIN {_POINTS} b ON a.point_id != b.point_id
) WHERE rank <= 5
"""

_SQL_NEAR = f"""
SELECT a.point_id AS from_id, b.point_id AS to_id,
       sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS distance
FROM {_POINTS} a JOIN {_POINTS} b ON a.point_id != b.point_id
WHERE sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) <= 1.0
"""

_SQL_DISSOLVE_CATEGORY = f"""
SELECT category, count(*) AS feat_count FROM {_ZONES} GROUP BY category
"""

# polygon-intersects predicate over rectified edges: vertex-of-A in B,
# vertex-of-B in A, or proper edge crossing (same kernel as the engine)
_SQL_PAIRS = f"""
  WITH RECURSIVE e AS ({_RECT_EDGES}),
  z AS (SELECT zone_id, category FROM {_ZONES}),
  vin AS (  -- vertex (ex1,ey1) of zone a inside zone b (even-odd)
    SELECT va.zone_id AS a_id, eb.zone_id AS b_id
    FROM (SELECT DISTINCT zone_id, ex1 AS vx, ey1 AS vy FROM e) va
    JOIN e eb ON eb.zone_id != va.zone_id
    WHERE (eb.ey1 > va.vy) != (eb.ey2 > va.vy)
      AND va.vx < (eb.ex2 - eb.ex1) * (va.vy - eb.ey1) / (eb.ey2 - eb.ey1) + eb.ex1
    GROUP BY va.zone_id, eb.zone_id, va.vx, va.vy
    HAVING count(*) % 2 = 1
  ),
  cross_e AS (  -- proper edge crossings
    SELECT DISTINCT ea.zone_id AS a_id, eb.zone_id AS b_id
    FROM e ea JOIN e eb ON ea.zone_id < eb.zone_id
    WHERE ((ea.ex2-ea.ex1)*(eb.ey1-ea.ey1) - (ea.ey2-ea.ey1)*(eb.ex1-ea.ex1))
        * ((ea.ex2-ea.ex1)*(eb.ey2-ea.ey1) - (ea.ey2-ea.ey1)*(eb.ex2-ea.ex1)) < 0
      AND ((eb.ex2-eb.ex1)*(ea.ey1-eb.ey1) - (eb.ey2-eb.ey1)*(ea.ex1-eb.ex1))
        * ((eb.ex2-eb.ex1)*(ea.ey2-eb.ey1) - (eb.ey2-eb.ey1)*(ea.ex2-eb.ex1)) < 0
  ),
  pairs AS (
    SELECT DISTINCT least(a_id, b_id) AS a_id, greatest(a_id, b_id) AS b_id FROM (
      SELECT a_id, b_id FROM vin
      UNION ALL SELECT a_id, b_id FROM cross_e
    )
  )
"""

_SQL_DISSOLVE_COMPONENTS = f"""
{_SQL_PAIRS},
  zc AS (SELECT zone_id, category FROM {_ZONES}),
  -- restrict pairs to same category (dissolve groups by category first)
  gp AS (
    SELECT p.a_id, p.b_id FROM pairs p
    JOIN zc a ON a.zone_id = p.a_id JOIN zc b ON b.zone_id = p.b_id
    WHERE a.category = b.category
  ),
  sym AS (SELECT a_id, b_id FROM gp UNION SELECT b_id, a_id FROM gp),
  reach AS (
    SELECT zone_id, zone_id AS label FROM zc
    UNION
    SELECT s.b_id AS zone_id, r.label
    FROM reach r JOIN sym s ON s.a_id = r.zone_id
  ),
  comp AS (SELECT zone_id, min(label) AS component FROM reach GROUP BY zone_id)
SELECT z.category, count(DISTINCT c.component) AS n_components, count(*) AS feat_count
FROM zc z JOIN comp c ON c.zone_id = z.zone_id
GROUP BY z.category
"""

# gate grid (must mirror _GRID): centers at x0 + (i+0.5)*dx with exact
# binary steps, membership per (center, zone) by the shared even-odd formula
_SQL_GRID_MEMBER = f"""
  centers AS (
    SELECT -120.0 + (ix.ix + 0.5) * 0.15625 AS px,
           30.0 + (iy.iy + 0.5) * 0.1171875 AS py
    FROM (SELECT unnest(range(0, 256)) AS ix) ix,
         (SELECT unnest(range(0, 128)) AS iy) iy
  ),
  ge AS (SELECT zone_id, ex1, ey1, ex2, ey2 FROM {_EDGES}),
  member AS (
    SELECT c.px, c.py, ge.zone_id
    FROM centers c JOIN ge ON (ge.ey1 > c.py) != (ge.ey2 > c.py)
     AND c.px < (ge.ex2 - ge.ex1) * (c.py - ge.ey1) / (ge.ey2 - ge.ey1) + ge.ex1
    GROUP BY c.px, c.py, ge.zone_id
    HAVING count(*) % 2 = 1
  )
"""

_SQL_OVERLAY_CLIP = f"""
{_SQL_PAIRS},
{_SQL_GRID_MEMBER},
  inter_pairs AS (
    SELECT DISTINCT
           CASE WHEN a_id % 2 = 0 THEN a_id ELSE b_id END AS l_id,
           CASE WHEN a_id % 2 = 0 THEN b_id ELSE a_id END AS r_id
    FROM pairs WHERE (a_id % 2) != (b_id % 2)
  ),
  pairpix AS (
    SELECT p.l_id, p.r_id, count(*) AS n
    FROM inter_pairs p
    JOIN member ma ON ma.zone_id = p.l_id
    JOIN member mb ON mb.zone_id = p.r_id AND mb.px = ma.px AND mb.py = ma.py
    GROUP BY p.l_id, p.r_id
  )
SELECT p.l_id, p.r_id, coalesce(x.n, 0) AS npix
FROM inter_pairs p LEFT JOIN pairpix x ON x.l_id = p.l_id AND x.r_id = p.r_id
"""

_SQL_OVERLAY_ERASE = f"""
WITH {_SQL_GRID_MEMBER},
kept AS (
  SELECT m.zone_id, count(*) AS n
  FROM member m
  WHERE m.zone_id % 2 = 0
    AND NOT EXISTS (
      SELECT 1 FROM member m2
      WHERE m2.px = m.px AND m2.py = m.py AND m2.zone_id % 2 = 1
    )
  GROUP BY m.zone_id
)
SELECT z.zone_id AS l_id, coalesce(k.n, 0) AS npix
FROM (SELECT zone_id FROM {_ZONES} WHERE zone_id % 2 = 0) z
LEFT JOIN kept k ON k.zone_id = z.zone_id
"""

_SQL_OVERLAY_IDENTITY = f"""
{_SQL_PAIRS},
{_SQL_GRID_MEMBER},
  inter_pairs AS (
    SELECT DISTINCT
           CASE WHEN a_id % 2 = 0 THEN a_id ELSE b_id END AS l_id,
           CASE WHEN a_id % 2 = 0 THEN b_id ELSE a_id END AS r_id
    FROM pairs WHERE (a_id % 2) != (b_id % 2)
  ),
  pairpix AS (
    SELECT p.l_id, p.r_id, count(*) AS n
    FROM inter_pairs p
    JOIN member ma ON ma.zone_id = p.l_id
    JOIN member mb ON mb.zone_id = p.r_id AND mb.px = ma.px AND mb.py = ma.py
    GROUP BY p.l_id, p.r_id
  ),
  kept AS (
    SELECT m.zone_id, count(*) AS n
    FROM member m
    WHERE m.zone_id % 2 = 0
      AND NOT EXISTS (
        SELECT 1 FROM member m2
        WHERE m2.px = m.px AND m2.py = m.py AND m2.zone_id % 2 = 1
      )
    GROUP BY m.zone_id
  )
SELECT l_id, r_id, n AS npix FROM pairpix WHERE n > 0
UNION ALL
SELECT zone_id AS l_id, NULL AS r_id, n AS npix FROM kept WHERE n > 0
"""

_SQL_OVERLAY_SYMDIFF = f"""
WITH {_SQL_GRID_MEMBER},
kept_l AS (
  SELECT m.zone_id, count(*) AS n FROM member m
  WHERE m.zone_id % 2 = 0
    AND NOT EXISTS (SELECT 1 FROM member m2
                    WHERE m2.px = m.px AND m2.py = m.py AND m2.zone_id % 2 = 1)
  GROUP BY m.zone_id
),
kept_r AS (
  SELECT m.zone_id, count(*) AS n FROM member m
  WHERE m.zone_id % 2 = 1
    AND NOT EXISTS (SELECT 1 FROM member m2
                    WHERE m2.px = m.px AND m2.py = m.py AND m2.zone_id % 2 = 0)
  GROUP BY m.zone_id
)
SELECT zone_id AS l_id, 'left' AS side, n AS npix FROM kept_l WHERE n > 0
UNION ALL
SELECT zone_id AS l_id, 'right' AS side, n AS npix FROM kept_r WHERE n > 0
"""

_SQL_OVERLAY_UPDATE = f"""
WITH {_SQL_GRID_MEMBER},
kept AS (
  SELECT m.zone_id, count(*) AS n FROM member m
  WHERE m.zone_id % 2 = 0
    AND NOT EXISTS (SELECT 1 FROM member m2
                    WHERE m2.px = m.px AND m2.py = m.py AND m2.zone_id % 2 = 1)
  GROUP BY m.zone_id
),
incoming AS (
  SELECT zone_id, count(*) AS n FROM member WHERE zone_id % 2 = 1 GROUP BY zone_id
)
SELECT zone_id AS l_id, n AS npix FROM kept WHERE n > 0
UNION ALL
SELECT zone_id AS l_id, n AS npix FROM incoming WHERE n > 0
"""

# negative-buffer (erosion) oracle: a pixel center survives the inward
# setback iff it is inside the zone (shared even-odd formula) AND outside
# the polygonal boundary band — the engine's exact band geometry is
# reproduced algebraically: per edge the 2d-wide quad (projection within
# the segment, squared cross within d^2*len^2), per vertex the regular
# 16-gon with corners v + d*(cos, sin)(2*pi*k/16) — the SAME n-gon
# parameterization kernels.geom.buffer_point builds, so the two sides
# describe one region in real arithmetic
_SQL_BUFFER_NEGATIVE = f"""
WITH {_SQL_GRID_MEMBER},
band_q AS (
  SELECT DISTINCT m.zone_id, m.px, m.py
  FROM member m JOIN ge ON ge.zone_id = m.zone_id
  WHERE ((m.px - ge.ex1)*(ge.ex2 - ge.ex1) + (m.py - ge.ey1)*(ge.ey2 - ge.ey1)) >= 0
    AND ((m.px - ge.ex1)*(ge.ex2 - ge.ex1) + (m.py - ge.ey1)*(ge.ey2 - ge.ey1))
        <= ((ge.ex2 - ge.ex1)*(ge.ex2 - ge.ex1) + (ge.ey2 - ge.ey1)*(ge.ey2 - ge.ey1))
    AND POWER((ge.ex2 - ge.ex1)*(m.py - ge.ey1) - (ge.ey2 - ge.ey1)*(m.px - ge.ex1), 2)
        <= 0.1*0.1 * ((ge.ex2 - ge.ex1)*(ge.ex2 - ge.ex1) + (ge.ey2 - ge.ey1)*(ge.ey2 - ge.ey1))
),
verts AS (SELECT DISTINCT zone_id, ex1 AS vx, ey1 AS vy FROM ge),
band_v AS (
  SELECT zone_id, px, py FROM (
    SELECT m.zone_id, m.px, m.py, v.vx, v.vy,
           bool_and(
             ((v.vx + 0.1*cos(2*pi()*((k.k+1)%16)/16.0)) - (v.vx + 0.1*cos(2*pi()*k.k/16.0)))
               * (m.py - (v.vy + 0.1*sin(2*pi()*k.k/16.0)))
           - ((v.vy + 0.1*sin(2*pi()*((k.k+1)%16)/16.0)) - (v.vy + 0.1*sin(2*pi()*k.k/16.0)))
               * (m.px - (v.vx + 0.1*cos(2*pi()*k.k/16.0))) >= 0
           ) AS ins
    FROM member m JOIN verts v ON v.zone_id = m.zone_id,
         (SELECT unnest(range(0, 16)) AS k) k
    GROUP BY m.zone_id, m.px, m.py, v.vx, v.vy
  ) WHERE ins
),
eroded AS (
  SELECT m.zone_id, count(*) AS n
  FROM member m
  WHERE NOT EXISTS (SELECT 1 FROM band_q q
                    WHERE q.zone_id = m.zone_id AND q.px = m.px AND q.py = m.py)
    AND NOT EXISTS (SELECT 1 FROM band_v v
                    WHERE v.zone_id = m.zone_id AND v.px = m.px AND v.py = m.py)
  GROUP BY m.zone_id
)
SELECT z.zone_id, coalesce(e2.n, 0) AS npix
FROM (SELECT zone_id FROM {_ZONES}) z
LEFT JOIN eroded e2 ON e2.zone_id = z.zone_id
"""

# make_valid bowtie oracle: even-odd crossing parity over the RAW
# self-crossing ring's edges equals the repaired region for bowtie-class
# rings (the crossing-count formula is indifferent to self-intersection)
_SQL_MAKE_VALID = f"""
WITH centers AS (
    SELECT -120.0 + (ix.ix + 0.5) * 0.15625 AS px,
           30.0 + (iy.iy + 0.5) * 0.1171875 AS py
    FROM (SELECT unnest(range(0, 256)) AS ix) ix,
         (SELECT unnest(range(0, 128)) AS iy) iy
),
bt AS (
  SELECT zone_id, bbox4326.xmin AS ex1, bbox4326.ymin AS ey1, bbox4326.xmax AS ex2, bbox4326.ymax AS ey2 FROM {_ZONES}
  UNION ALL SELECT zone_id, bbox4326.xmax, bbox4326.ymax, bbox4326.xmax, bbox4326.ymin FROM {_ZONES}
  UNION ALL SELECT zone_id, bbox4326.xmax, bbox4326.ymin, bbox4326.xmin, bbox4326.ymax FROM {_ZONES}
  UNION ALL SELECT zone_id, bbox4326.xmin, bbox4326.ymax, bbox4326.xmin, bbox4326.ymin FROM {_ZONES}
),
member AS (
  SELECT c.px, c.py, bt.zone_id
  FROM centers c JOIN bt ON (bt.ey1 > c.py) != (bt.ey2 > c.py)
   AND c.px < (bt.ex2 - bt.ex1) * (c.py - bt.ey1) / (bt.ey2 - bt.ey1) + bt.ex1
  GROUP BY c.px, c.py, bt.zone_id
  HAVING count(*) % 2 = 1
),
cnt AS (SELECT zone_id, count(*) AS n FROM member GROUP BY zone_id)
SELECT z.zone_id, coalesce(c2.n, 0) AS npix
FROM (SELECT zone_id FROM {_ZONES}) z
LEFT JOIN cnt c2 ON c2.zone_id = z.zone_id
"""

_SQL_DISSOLVE_UNION = f"""
WITH {_SQL_GRID_MEMBER},
zc AS (SELECT zone_id, category FROM {_ZONES}),
upix AS (
  SELECT z.category, count(DISTINCT (m.px, m.py)) AS n
  FROM member m JOIN zc z ON z.zone_id = m.zone_id
  GROUP BY z.category
)
SELECT z.category, count(*) AS feat_count, coalesce(any_value(u.n), 0) AS npix
FROM zc z LEFT JOIN upix u ON u.category = z.category
GROUP BY z.category
"""

_SQL_MOSAIC = f"""
WITH px AS (
  SELECT tile_x, tile_y, input_rank,
         generate_subscripts(pixels, 1) AS idx, unnest(pixels) AS v
  FROM {_TILES}
  WHERE band = 1 AND raster_id IN ('r0','r1','r2')
)
SELECT tile_x, tile_y, idx,
       coalesce(max_by(v, input_rank) FILTER (v != -9999.0), -9999.0) AS value
FROM px GROUP BY tile_x, tile_y, idx
"""

# mixed-grid mosaic oracle: output grid from first-ranked input + union
# extent (gdal_merge:392-429); every output pixel center samples each input
# with the SAME trunc((center - origin)/px) expression tree the engine's R7
# kernel evaluates, then later-rank-wins-except-nodata
_SQL_MOSAIC_MIXED = f"""
WITH r AS (
  SELECT raster_id, input_rank, nodata, origin_x, origin_y, px_x, px_y, width, height
  FROM {_RASTERS} WHERE band = 1 AND raster_id IN ('r0','r3')
),
g AS (
  SELECT min_by(px_x, input_rank) AS opx, min_by(px_y, input_rank) AS opy,
         min_by(nodata, input_rank) AS fill,
         min(origin_x) AS ulx, max(origin_y) AS uly,
         max(origin_x + width*px_x) AS lrx, min(origin_y + height*px_y) AS lry
  FROM r
),
g2 AS (
  SELECT *, CAST(trunc((lrx - ulx)/opx + 0.5) AS BIGINT) AS W,
            CAST(trunc((lry - uly)/opy + 0.5) AS BIGINT) AS H
  FROM g
),
spx AS (
  SELECT raster_id, input_rank, nodata,
         tile_x*32 + (idx-1) % tile_w AS sc,
         tile_y*32 + (idx-1) // tile_w AS sr, v
  FROM (SELECT raster_id, input_rank, nodata, tile_x, tile_y, tile_w, tile_h,
               generate_subscripts(pixels,1) AS idx, unnest(pixels) AS v
        FROM {_TILES} WHERE band = 1 AND raster_id IN ('r0','r3'))
),
opix AS MATERIALIZED (
  -- ranges derive from the computed output grid (not a fixed cap): the
  -- oracle covers every output pixel at any W/H the inputs imply
  SELECT oc.oc, orr.orr, g2.*
  FROM g2,
       LATERAL (SELECT unnest(range(0, g2.W)) AS oc) oc,
       LATERAL (SELECT unnest(range(0, g2.H)) AS orr) orr
),
sampled AS (
  SELECT o.oc, o.orr, o.fill, s.input_rank, s.v
  FROM opix o
  JOIN r ON TRUE
  JOIN spx s ON s.raster_id = r.raster_id
   AND s.sc = CAST(trunc((o.ulx + (o.oc + 0.5)*o.opx - r.origin_x)/r.px_x) AS BIGINT)
   AND s.sr = CAST(trunc((o.uly + (o.orr + 0.5)*o.opy - r.origin_y)/r.px_y) AS BIGINT)
  WHERE s.v != s.nodata
),
vals AS (
  SELECT o.oc, o.orr, o.W,
         coalesce(max_by(s.v, s.input_rank), any_value(o.fill)) AS value
  FROM opix o LEFT JOIN sampled s ON s.oc = o.oc AND s.orr = o.orr
  GROUP BY o.oc, o.orr, o.W
)
SELECT CAST(oc // 32 AS INT) AS tile_x, CAST(orr // 32 AS INT) AS tile_y,
       CAST((orr % 32) * (CASE WHEN (oc // 32)*32 + 32 > W THEN W - (oc // 32)*32 ELSE 32 END)
            + (oc % 32) + 1 AS BIGINT) AS idx,
       value
FROM vals
"""

_SQL_MEDIA_METADATA = f"""
WITH m AS (
  SELECT doc_id, s."offset" AS off, s.media_ref AS media_ref, md5(s.media_ref) AS h
  FROM (SELECT doc_id, unnest(spans) s FROM {_DOCS})
  WHERE s.kind = 'media'
),
nib AS (
  SELECT *,
    (strpos('0123456789abcdef', substr(h,1,1))-1)*16 + (strpos('0123456789abcdef', substr(h,2,1))-1) AS b0,
    (strpos('0123456789abcdef', substr(h,3,1))-1)*16 + (strpos('0123456789abcdef', substr(h,4,1))-1) AS b1
  FROM m
)
SELECT doc_id, off AS "offset",
       string_split(media_ref, '/')[1] AS raster_id,
       CAST(string_split(media_ref, '/')[2] AS INT) AS band,
       CAST(64 + b0 % 192 AS INT) AS width,
       CAST(64 + b1 % 192 AS INT) AS height
FROM nib
"""

_SQL_MEDIA_RESIZE = f"""
WITH m AS (
  SELECT doc_id, s."offset" AS off, md5(s.media_ref) AS h
  FROM (SELECT doc_id, unnest(spans) s FROM {_DOCS})
  WHERE s.kind = 'media'
),
nib AS (
  SELECT *,
    CAST(64 + ((strpos('0123456789abcdef', substr(h,1,1))-1)*16 + (strpos('0123456789abcdef', substr(h,2,1))-1)) % 192 AS INT) AS sw,
    CAST(64 + ((strpos('0123456789abcdef', substr(h,3,1))-1)*16 + (strpos('0123456789abcdef', substr(h,4,1))-1)) % 192 AS INT) AS sh
  FROM m
)
SELECT doc_id, off AS "offset", sw AS src_width, sh AS src_height,
       GREATEST(1, CAST(trunc(sw * LEAST(224.0/sw, 224.0/sh)) AS INT)) AS width,
       GREATEST(1, CAST(trunc(sh * LEAST(224.0/sw, 224.0/sh)) AS INT)) AS height
FROM nib
"""

_SQL_MEDIA_FRAMES = f"""
WITH m AS (
  SELECT doc_id, s."offset" AS off, s.media_ref AS media_ref, md5(s.media_ref) AS h
  FROM (SELECT doc_id, unnest(spans) s FROM {_DOCS})
  WHERE s.kind = 'media'
),
nf AS (
  SELECT *,
    CAST(1 + ((strpos('0123456789abcdef', substr(h,5,1))-1)*16 + (strpos('0123456789abcdef', substr(h,6,1))-1)) % 64 AS INT) AS n_frames
  FROM m
)
SELECT doc_id, off AS "offset", media_ref,
       CAST(unnest(generate_series(0, n_frames - 1, 10)) AS INT) AS frame_idx,
       n_frames
FROM nf
"""

_SQL_SPAN_INVARIANT = f"""
SELECT doc_id,
       md5(string_agg(
             concat_ws(chr(30), s.kind, coalesce(s.text, ''), coalesce(s.media_ref, ''), CAST(s."offset" AS VARCHAR)),
             chr(31) ORDER BY s."offset")) AS span_fp
FROM (SELECT doc_id, unnest(spans) s FROM {_DOCS})
GROUP BY doc_id
"""

_SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keep_id
FROM documents GROUP BY md5(text)
"""

# streaming first-seen dedup, replayed deterministically: the survivor per
# span fingerprint is argmin (batch_ix, doc_id) where batch_ix is the same
# md5-bucket draw replay_first_seen uses to split the stream into files
_SQL_STREAM_DEDUP_REPLAY = f"""
WITH f AS (
  SELECT doc_id,
         md5(string_agg(
               concat_ws(chr(30), s.kind, coalesce(s.text, ''), coalesce(s.media_ref, ''), CAST(s."offset" AS VARCHAR)),
               chr(31) ORDER BY s."offset")) AS fp
  FROM (SELECT doc_id, unnest(spans) s FROM {_DOCS})
  GROUP BY doc_id
),
b AS (
  SELECT fp, doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 4 AS bix
  FROM f
)
SELECT fp, doc_id FROM b
QUALIFY row_number() OVER (PARTITION BY fp ORDER BY bix, doc_id) = 1
"""

_SQL_SHINGLES = """
  SELECT doc_id, list_distinct(list_transform(
           range(0, greatest(len(toks) - 3, 0) + 1),
           i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')
         )) AS shingles
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
  WHERE len(toks) > 0
"""

# component 4i+r = min over shingles of the r-th 8-hex slice of
# md5(i || ':' || shingle) — mirrors operators.dedup.minhash_signature
_SQL_MINHASH_SIGNED = (
    "  SELECT doc_id, ["
    + ", ".join(
        f"list_aggregate(list_transform(shingles, s -> substr(md5(concat('{j // 4}:', s)), {1 + 8 * (j % 4)}, 8)), 'min')"
        for j in range(16)
    )
    + f"] AS sig FROM ({_SQL_SHINGLES}) WHERE len(shingles) > 0"
)

_SQL_BANDED = (
    f"  WITH signed AS ({_SQL_MINHASH_SIGNED}),\n  banded AS (\n"
    + "    SELECT doc_id, sig, b.band, md5(array_to_string(list_slice(sig, b.band*4 + 1, b.band*4 + 4), '|')) AS bkey\n"
    + "    FROM signed, (SELECT unnest([0,1,2,3]) AS band) b\n  )"
)

_SQL_CORPUS_OVERLAP = f"""
{_SQL_BANDED},
cpairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.doc_id % 2 <> 0 AND b.doc_id % 2 = 0
),
signed2 AS ({_SQL_MINHASH_SIGNED})
SELECT * FROM (
  SELECT p.a_id, p.b_id,
         CAST(len(list_filter(range(1, 17), i -> sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])) AS DOUBLE) / 16.0 AS est_jaccard
  FROM cpairs p JOIN signed2 sa ON sa.doc_id = p.a_id JOIN signed2 sb ON sb.doc_id = p.b_id
) WHERE est_jaccard >= 0.25
"""

# transitive closure over the same banded pair graph (est >= 0.5), via a
# recursive CTE: component of a doc = min doc_id it can reach. Mirrors
# dedup.near_dup_clusters (min-label propagation) on bit-exact signatures.
_SQL_DEDUP_CLUSTERS = (
    _SQL_BANDED.replace("WITH signed", "WITH RECURSIVE signed", 1)
    + """,
cpairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  WHERE CAST(len(list_filter(range(1, 17), i -> a.sig[CAST(i AS INT)] = b.sig[CAST(i AS INT)])) AS DOUBLE) / 16.0 >= 0.5
),
edges AS (
  SELECT a_id AS s, b_id AS d FROM cpairs
  UNION ALL
  SELECT b_id, a_id FROM cpairs
),
reach(src, dst) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.src, e.d FROM reach r JOIN edges e ON r.dst = e.s
),
comp AS (SELECT src AS doc_id, min(dst) AS min_reach FROM reach GROUP BY src)
SELECT d.doc_id,
       CAST(least(d.doc_id, coalesce(c.min_reach, d.doc_id)) AS BIGINT) AS cluster_id,
       least(d.doc_id, coalesce(c.min_reach, d.doc_id)) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN comp c USING (doc_id)
"""
)

_SQL_DEDUP_MINHASH = f"""
{_SQL_BANDED},
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
signed2 AS ({_SQL_MINHASH_SIGNED})
SELECT p.a_id, p.b_id,
       CAST(len(list_filter(range(1, 17), i -> sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])) AS DOUBLE) / 16.0 AS est_jaccard
FROM pairs p JOIN signed2 sa ON sa.doc_id = p.a_id JOIN signed2 sb ON sb.doc_id = p.b_id
"""

_SQL_NGRAM_JACCARD = f"""
{_SQL_BANDED},
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
sh AS ({_SQL_SHINGLES})
SELECT p.a_id, p.b_id,
       CAST(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE)
       / CAST(len(sa.shingles) + len(sb.shingles)
              - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE) AS jaccard
FROM pairs p JOIN sh sa ON sa.doc_id = p.a_id JOIN sh sb ON sb.doc_id = p.b_id
"""

def _sql_scrub_pii() -> str:
    """Built from the SAME pattern constants the engine applies, so the two
    sides cannot drift; DuckDB standard strings keep backslashes literal."""
    pats = text_ops.PII_PATTERNS
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{rx}')) AS BIGINT) AS n_{name}"
        for name, rx, _tok in pats
    )
    scrub = "text"
    for _name, rx, tok in pats:
        scrub = f"regexp_replace({scrub}, '{rx}', '{tok}', 'g')"
    return (
        "WITH planted AS (\n"
        "  SELECT doc_id,\n"
        "         CASE WHEN doc_id % 3 <> 0 THEN text || ' contact user' ||\n"
        "              CAST(doc_id AS VARCHAR) || '@mail.example.org from 10.' ||\n"
        "              CAST(doc_id % 200 AS VARCHAR) ||\n"
        "              '.3.7 ssn 123-45-6789 card 4111111111111111'\n"
        "         ELSE text END AS text\n"
        "  FROM documents\n"
        "),\n"
        f"scr AS (\n  SELECT doc_id, {scrub} AS scrubbed,\n       {counts}\n  FROM planted\n)\n"
        "SELECT doc_id, scrubbed AS text, n_email, n_ipv4, n_ssn, n_card FROM scr"
    )


_SQL_SCRUB_PII = _sql_scrub_pii()

_SQL_REPETITION = """
WITH d AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks,
         len(trim(text)) = 0 AS blank
  FROM documents
),
fr AS (
  SELECT doc_id, max(c) / sum(c) AS top_tok_frac
  FROM (SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS tok FROM d WHERE NOT blank)
        GROUP BY doc_id, tok)
  GROUP BY doc_id
),
g AS (
  SELECT doc_id, blank,
         CASE WHEN blank THEN 0 ELSE len(toks) END AS n_tokens,
         list_transform(range(0, greatest(len(toks) - 2, 0) + 1),
                        i -> array_to_string(list_slice(toks, i + 1, i + 2), ' ')) AS g2,
         list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
                        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) AS g3
  FROM d
)
SELECT g.doc_id, g.n_tokens,
       coalesce(fr.top_tok_frac, 0.0) AS top_tok_frac,
       CASE WHEN g.blank OR len(g.g2) <= 0 THEN 0.0
            ELSE 1.0 - CAST(len(list_distinct(g.g2)) AS DOUBLE) / len(g.g2) END
         AS dup_2gram_frac,
       CASE WHEN g.blank OR len(g.g3) <= 0 THEN 0.0
            ELSE 1.0 - CAST(len(list_distinct(g.g3)) AS DOUBLE) / len(g.g3) END
         AS dup_3gram_frac,
       (coalesce(fr.top_tok_frac, 0.0) > 0.3
        OR CASE WHEN g.blank OR len(g.g2) <= 0 THEN 0.0
                ELSE 1.0 - CAST(len(list_distinct(g.g2)) AS DOUBLE) / len(g.g2) END > 0.2)
         AS flagged
FROM g LEFT JOIN fr ON fr.doc_id = g.doc_id
"""

_SQL_DECONTAMINATE = f"""
WITH sh AS ({_SQL_SHINGLES}),
bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 97 = 0),
doc AS (SELECT doc_id, len(shingles) AS n_shingles, unnest(shingles) AS s
        FROM sh WHERE doc_id % 97 <> 0)
SELECT d.doc_id, count(*) AS n_hits, any_value(d.n_shingles) AS n_shingles,
       CAST(count(*) AS DOUBLE) / any_value(d.n_shingles) AS hit_frac
FROM doc d JOIN bench b ON d.s = b.s
GROUP BY d.doc_id
"""

_SQL_CHUNK_DOCUMENTS = """
WITH d AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE len(trim(text)) > 0
),
c AS (
  SELECT doc_id, toks,
         unnest(range(0, greatest(1, (len(toks) - 8 + 23) // 24))) AS chunk_ix
  FROM d
)
SELECT doc_id, chunk_ix, chunk_ix * 24 AS start_tok,
       len(list_slice(toks, chunk_ix * 24 + 1, chunk_ix * 24 + 32)) AS n_chunk_tokens,
       array_to_string(list_slice(toks, chunk_ix * 24 + 1, chunk_ix * 24 + 32), ' ')
         AS chunk_text
FROM c
"""

_SQL_QUOTA_SAMPLE = """
SELECT doc_id, lang, source FROM documents
WHERE CAST('0x' || substr(md5('mix1:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      / 4294967296.0
      < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                  WHEN 'fr' THEN 0.125 WHEN 'es' THEN 0.125 ELSE 0.0 END
"""

_SQL_SIMHASH = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents
),
bits AS (
  SELECT doc_id, tok, md5(tok) AS h, b.b AS b FROM toks, (SELECT unnest(range(0, 32)) AS b) b
),
votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN CAST(floor(
               (strpos('0123456789abcdef', substr(h, CAST(floor(b/4) AS INT) + 1, 1)) - 1)
               / pow(2.0, 3 - (b % 4))) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS vote
  FROM bits GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN vote > 0 THEN CAST(pow(2.0, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""

_SQL_SIMHASH_NEAR_DUP = f"""
WITH s AS ({_SQL_SIMHASH}),
banded AS (
  SELECT doc_id, simhash, b.b AS band,
         CASE b.b WHEN 0 THEN simhash % 256
                  WHEN 1 THEN (simhash // 256) % 256
                  WHEN 2 THEN (simhash // 65536) % 256
                  ELSE (simhash // 16777216) % 256 END AS bkey
  FROM s, (SELECT unnest([0,1,2,3]) AS b) b
),
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 3
"""

_SQL_EMBEDDING_TOPK = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
SELECT vec_id, rank, neighbor_id FROM (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_cosine_similarity(a.e, b.e) DESC, b.vec_id
         ) AS rank
  FROM v a JOIN v b ON a.vec_id != b.vec_id
) WHERE rank <= 5
"""

_EMB_ND = f"read_parquet('{S01}/embeddings_nd.parquet')"

_SQL_DEDUP_EMBEDDING_COSINE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM {_EMB_ND})
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_cosine_similarity(a.e, b.e), 6) AS cos
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.9
"""

def _sql_ann_lsh() -> str:
    """Oracle for ``similarity.lsh_topk`` (k=5, n_planes=6). The hyperplane
    weights are md5-derived literals (hashlib — no RNG), so the exact same
    doubles are embedded here; the bucket is the same bit-packed sign sum
    with the same left-associated fold order, and the per-bucket re-rank
    is the exact cosine with the same (cos desc, neighbor_id) tie-break."""
    from gdal_common_python_spark.operators.similarity import hyperplane_weights

    planes = hyperplane_weights(6, 64)

    def proj(p):
        return " + ".join(f"e[{i + 1}]*{w!r}" for i, w in enumerate(planes[p]))

    bucket = "\n     + ".join(
        f"(CASE WHEN ({proj(p)}) >= 0 THEN {1 << (5 - p)} ELSE 0 END)" for p in range(6)
    )
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
b AS (
  SELECT vec_id, e,
       {bucket} AS bucket
  FROM v
)
SELECT vec_id, rank, neighbor_id FROM (
  SELECT a.vec_id, n.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_cosine_similarity(a.e, n.e) DESC, n.vec_id
         ) AS rank
  FROM b a JOIN b n ON a.bucket = n.bucket AND a.vec_id != n.vec_id
) WHERE rank <= 5
"""


def _sql_ann_ivf() -> str:
    """Oracle for ``similarity.ivf_topk`` (k=5, 16 centroids, 3 probes).
    Centroids are trained here with the IDENTICAL deterministic k-means
    (``similarity.ivf_kmeans``) on the same id-ordered sample, then embedded
    as literals. Probe ranking uses raw list_inner_product(e, c): within a
    vec_id partition it orders identically to the kernel's normalized dot
    (positive per-row scale), avoiding any normalization fp divergence."""
    import duckdb as _duckdb
    import numpy as _np

    from gdal_common_python_spark.operators.similarity import ivf_kmeans

    con = _duckdb.connect()
    rows = con.sql(
        "SELECT CAST(embedding AS DOUBLE[]) FROM "
        f"read_parquet('{_TESTDATA01}/embeddings.parquet') "
        "ORDER BY vec_id LIMIT 4096"
    ).fetchall()
    con.close()
    X = _np.stack([_np.asarray(r[0], dtype=_np.float64) for r in rows])
    C = ivf_kmeans(X, 16, 5)
    cent = "\n  UNION ALL ".join(
        f"SELECT {cid} AS cid, [{', '.join(repr(float(x)) for x in row)}]::DOUBLE[] AS cv"
        for cid, row in enumerate(C)
    )
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cent AS (
  {cent}
),
sims AS (
  SELECT v.vec_id, v.e, c.cid,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY list_inner_product(v.e, c.cv) DESC, c.cid
         ) AS rn
  FROM v CROSS JOIN cent c
),
members AS (SELECT vec_id AS neighbor_id, e AS eb, cid AS cluster_id FROM sims WHERE rn = 1),
probes AS (SELECT vec_id, e AS ea, cid AS cluster_id FROM sims WHERE rn <= 3),
cand AS (
  SELECT p.vec_id, p.ea, m.neighbor_id, m.eb
  FROM probes p JOIN members m USING (cluster_id)
  WHERE p.vec_id != m.neighbor_id
)
SELECT vec_id, rank, neighbor_id FROM (
  SELECT vec_id, neighbor_id,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY list_cosine_similarity(ea, eb) DESC, neighbor_id
         ) AS rank
  FROM cand
) WHERE rank <= 5
"""


_STOP_SQL = {
    "en": "['the','and','of','to','in','is','that','it','was','for']",
    "es": "['el','la','de','que','y','en','un','los','se','por']",
    "de": "['der','die','und','das','ist','von','mit','den','nicht','ein']",
    "fr": "['le','la','et','les','des','est','dans','que','pour','une']",
}

_SQL_TEXT_PROFILE = f"""
WITH base AS (
  SELECT doc_id, text,
         string_split_regex(trim(lower(text)), '\\s+') AS toks,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS n_tokens,
         CAST(length(text) AS DOUBLE) AS n,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct
  FROM documents
),
hits AS (
  SELECT *,
    len(list_filter(toks, t -> list_contains({_STOP_SQL['en']}, t))) AS h_en,
    len(list_filter(toks, t -> list_contains({_STOP_SQL['es']}, t))) AS h_es,
    len(list_filter(toks, t -> list_contains({_STOP_SQL['de']}, t))) AS h_de,
    len(list_filter(toks, t -> list_contains({_STOP_SQL['fr']}, t))) AS h_fr
  FROM base
)
SELECT doc_id, n_tokens,
  CAST(list_aggregate(list_transform(toks, t -> greatest(CAST(ceil(length(t)/4.0) AS BIGINT), 1)), 'sum') AS BIGINT) AS n_subwords,
  CASE WHEN greatest(h_en,h_es,h_de,h_fr) = 0 THEN 'und'
       WHEN h_en = greatest(h_en,h_es,h_de,h_fr) THEN 'en'
       WHEN h_es = greatest(h_en,h_es,h_de,h_fr) THEN 'es'
       WHEN h_de = greatest(h_en,h_es,h_de,h_fr) THEN 'de'
       ELSE 'fr' END AS lang_guess,
  round(0.4 * (CASE WHEN n > 0 THEN alpha / n ELSE 0 END)
      + 0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
      + 0.3 * (1.0 - (CASE WHEN n > 0 THEN punct / n ELSE 0 END)), 9) AS quality,
  substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 16) AS fp
FROM hits
"""

_SQL_EVENTS_DATES = """
SELECT event_id,
       CAST(dayofyear(ts) AS INT) AS doy,
       CAST(dayofyear(ts + INTERVAL 28 DAY) AS INT) AS doy_plus28,
       CAST(CASE WHEN month(ts) = 2 AND year(ts) % 4 = 0 THEN 29
            ELSE [0,31,28,31,30,31,30,31,31,30,31,30,31][month(ts) + 1] END AS INT) AS dim_ref,
       (year(ts) % 4 = 0) AS leap_ref,
       strftime(ts, '%b') AS mon
FROM events
"""

_SQL_ASOF_CLICKS_VIEWS = """
WITH c AS (SELECT event_id AS click_id, user_id, ts
           FROM events WHERE event_type = 'click'),
     v AS (SELECT event_id AS view_id, user_id, ts, value AS view_value
           FROM events WHERE event_type = 'view')
SELECT c.click_id, c.user_id, epoch_us(c.ts) AS click_ts_us,
       v.view_id, epoch_us(v.ts) AS view_ts_us, v.view_value
FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
"""

_SQL_INTERVAL_OVERLAPS = """
WITH v AS (SELECT event_id AS view_id, user_id, epoch_us(ts) AS s,
                  epoch_us(ts) + CAST(FLOOR(value * 60000000.0) AS BIGINT) AS e
           FROM events WHERE event_type = 'view'),
     c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS s2,
                  epoch_us(ts) + 1800000000 AS e2
           FROM events WHERE event_type = 'click')
SELECT v.view_id, c.click_id, v.user_id,
       least(v.e, c.e2) - greatest(v.s, c.s2) AS overlap_us
FROM v JOIN c ON v.user_id = c.user_id AND v.s <= c.e2 AND c.s2 <= v.e
"""

_SQL_EVENT_SESSIONS = """
WITH o AS (
  SELECT user_id, event_type, epoch_us(ts) AS t,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
                   > 1800000000 THEN 1 ELSE 0 END AS nf
  FROM events
),
s AS (
  SELECT *, sum(nf) OVER (PARTITION BY user_id ORDER BY t
                          ROWS UNBOUNDED PRECEDING) AS seq
  FROM o
)
SELECT CAST(user_id AS VARCHAR) || '#' || CAST(seq AS VARCHAR) AS session_id,
       user_id,
       count(*) AS n_events,
       min(t) AS start_us,
       max(t) AS end_us,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clicks
FROM s GROUP BY 1, 2
"""

_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       count(DISTINCT l_orderkey) AS n_orders,
       strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S') AS first_ship,
       strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS last_ship
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""

_SQL_ORDERS_SEGMENT = """
SELECT o.o_orderstatus, c.c_mktsegment,
       count(*) AS n_orders,
       min(o.o_totalprice) AS min_price,
       max(o.o_totalprice) AS max_price
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY o.o_orderstatus, c.c_mktsegment
"""



# pixel-level zonal oracle: unnest tiles to global pixels, join zone windows,
# even-odd PIP of pixel centers against R1-quantized zone edges (the same
# convention as kernels.raster.rasterize_mask), exclude nodata
_SQL_ZONAL_INSIDE = f"""
  win AS ({_SQL_WINDOWS}),
  px AS (
    SELECT raster_id, band,
           tile_x*32 + CAST((idx-1) % tile_w AS BIGINT) AS gc,
           tile_y*32 + CAST(floor((idx-1) / tile_w) AS BIGINT) AS gr,
           v
    FROM (SELECT raster_id, band, tile_x, tile_y, tile_w, tile_h,
                 generate_subscripts(pixels,1) AS idx, unnest(pixels) AS v
          FROM {_TILES})
  ),
  e AS (SELECT zone_id, ex1, ey1, ex2, ey2 FROM {_EDGES}),
  cand AS (
    SELECT w.zone_id, w.raster_id, w.band, w.nodata, p.v, p.gc, p.gr,
           (p.gc - w.off_x) + 0.5 AS pcx, (p.gr - w.off_y) + 0.5 AS pcy,
           w.win_ox, w.win_oy, w.px_x, w.px_y
    FROM win w JOIN px p ON p.raster_id = w.raster_id AND p.band = w.band
     AND p.gc >= w.off_x AND p.gc < w.off_x + w.res_x
     AND p.gr >= w.off_y AND p.gr < w.off_y + w.res_y
  ),
  inside AS (
    SELECT c.zone_id, c.raster_id, c.band, c.gc, c.gr,
           any_value(c.v) AS v, any_value(c.nodata) AS nodata
    FROM cand c JOIN e ON e.zone_id = c.zone_id
    WHERE (trunc((e.ey1 - c.win_oy)/c.px_y) > c.pcy) != (trunc((e.ey2 - c.win_oy)/c.px_y) > c.pcy)
      AND c.pcx < (trunc((e.ex2 - c.win_ox)/c.px_x) - trunc((e.ex1 - c.win_ox)/c.px_x))
                  * (c.pcy - trunc((e.ey1 - c.win_oy)/c.px_y))
                  / (trunc((e.ey2 - c.win_oy)/c.px_y) - trunc((e.ey1 - c.win_oy)/c.px_y))
                  + trunc((e.ex1 - c.win_ox)/c.px_x)
    GROUP BY c.zone_id, c.raster_id, c.band, c.gc, c.gr
    HAVING count(*) % 2 = 1
  ),
  vals AS (SELECT zone_id, raster_id, band, v FROM inside WHERE v != nodata)
"""

_SQL_ZONAL_COUNTS = f"""
WITH {_SQL_ZONAL_INSIDE}
SELECT z.zone_id, r.raster_id, r.band, coalesce(k.n, 0) AS pixel_count
FROM (SELECT zone_id FROM {_ZONES}) z
CROSS JOIN (SELECT DISTINCT raster_id, band FROM {_RASTERS}) r
LEFT JOIN (SELECT zone_id, raster_id, band, count(*) AS n FROM vals GROUP BY 1,2,3) k
  ON k.zone_id = z.zone_id AND k.raster_id = r.raster_id AND k.band = r.band
"""

# wide pivot of the zonal counts; column order = (input_rank, band) of the
# synth rasters (r0/1, r1/1, r1/2, r2/1, r3/1 — deterministic seed). Sums
# cast to BIGINT (DuckDB HUGEINT widening trap).
_SQL_ZONAL_COUNTS_WIDE = f"""
WITH base AS ({_SQL_ZONAL_COUNTS})
SELECT zone_id,
       CAST(sum(pixel_count) AS BIGINT) AS count_total,
       CAST(sum(CASE WHEN raster_id='r0' AND band=1 THEN pixel_count ELSE 0 END) AS BIGINT) AS count_1,
       CAST(sum(CASE WHEN raster_id='r1' AND band=1 THEN pixel_count ELSE 0 END) AS BIGINT) AS count_2,
       CAST(sum(CASE WHEN raster_id='r1' AND band=2 THEN pixel_count ELSE 0 END) AS BIGINT) AS count_3,
       CAST(sum(CASE WHEN raster_id='r2' AND band=1 THEN pixel_count ELSE 0 END) AS BIGINT) AS count_4,
       CAST(sum(CASE WHEN raster_id='r3' AND band=1 THEN pixel_count ELSE 0 END) AS BIGINT) AS count_5
FROM base GROUP BY zone_id
"""

_SQL_ZONAL_STATS = f"""
WITH {_SQL_ZONAL_INSIDE},
st AS (
  SELECT zone_id, count(*) AS n, sum(v) AS s, sum(v*v) AS sq,
         min(v) AS mn, max(v) AS mx, list(v ORDER BY v) AS sorted
  FROM vals GROUP BY zone_id
),
calc AS (
  SELECT zone_id, n, mn, mx, s/n AS mean, sq/n - (s/n)*(s/n) AS var,
         sorted[CAST(((CASE WHEN n%2=0 THEN n//2
                            WHEN (n//2)%2=0 THEN n//2
                            ELSE n//2+1 END) - 1 + n) % n + 1 AS INT)] AS med,
         sorted[CAST(ceil(0.9*n) AS INT)] AS p90
  FROM st
)
SELECT z.zone_id,
       coalesce(c.n, 0) AS count_total,
       coalesce(c.mn, 0.0) AS vmin,
       coalesce(c.mx, 0.0) AS vmax,
       coalesce(c.mean, 0.0) AS vmean,
       coalesce(c.med, 0.0) AS vmedian,
       coalesce(c.var, 0.0) AS vvar,
       coalesce(sqrt(c.var), 0.0) AS vstdev,
       coalesce(c.p90, 0.0) AS vperc90
FROM (SELECT zone_id FROM {_ZONES}) z LEFT JOIN calc c ON c.zone_id = z.zone_id
"""

# polygon-intersect join oracle: POLYGON geo spans are axis-aligned rects by
# construction; intersects = rect-corner-in-zone OR zone-vertex-in-rect
# (half-open, matching the even-odd crossing convention) OR proper edge cross
_SQL_SPATIAL_POLY = f"""
WITH rp AS (
  SELECT doc_id, s."offset" AS off,
         list_transform(regexp_extract_all(s.text, '([-+0-9.eE]+) [-+0-9.eE]+', 1), x -> CAST(x AS DOUBLE)) AS xs,
         list_transform(regexp_extract_all(s.text, '[-+0-9.eE]+ ([-+0-9.eE]+)', 1), y -> CAST(y AS DOUBLE)) AS ys
  FROM (SELECT doc_id, unnest(spans) s FROM {_DOCS})
  WHERE s.kind='geo' AND s.text LIKE 'POLYGON%'
),
rects AS (
  SELECT doc_id, off,
         list_aggregate(xs,'min') AS rx0, list_aggregate(xs,'max') AS rx1,
         list_aggregate(ys,'min') AS ry0, list_aggregate(ys,'max') AS ry1
  FROM rp
),
e AS (SELECT zone_id, ex1, ey1, ex2, ey2 FROM {_EDGES}),
corners AS (
  SELECT doc_id, off,
         CASE i.i WHEN 1 THEN rx0 WHEN 2 THEN rx1 WHEN 3 THEN rx1 ELSE rx0 END AS cx,
         CASE i.i WHEN 1 THEN ry0 WHEN 2 THEN ry0 WHEN 3 THEN ry1 ELSE ry1 END AS cy
  FROM rects, (SELECT unnest([1,2,3,4]) AS i) i
),
redges AS (
  SELECT doc_id, off,
         CASE i.i WHEN 1 THEN rx0 WHEN 2 THEN rx1 WHEN 3 THEN rx1 ELSE rx0 END AS bx1,
         CASE i.i WHEN 1 THEN ry0 WHEN 2 THEN ry0 WHEN 3 THEN ry1 ELSE ry1 END AS by1,
         CASE i.i WHEN 1 THEN rx1 WHEN 2 THEN rx1 WHEN 3 THEN rx0 ELSE rx0 END AS bx2,
         CASE i.i WHEN 1 THEN ry0 WHEN 2 THEN ry1 WHEN 3 THEN ry1 ELSE ry0 END AS by2
  FROM rects, (SELECT unnest([1,2,3,4]) AS i) i
),
corner_in AS (
  SELECT c.doc_id, c.off, e.zone_id
  FROM corners c JOIN e ON TRUE
  WHERE (e.ey1 > c.cy) != (e.ey2 > c.cy)
    AND c.cx < (e.ex2 - e.ex1) * (c.cy - e.ey1) / (e.ey2 - e.ey1) + e.ex1
  GROUP BY c.doc_id, c.off, e.zone_id, c.cx, c.cy
  HAVING count(*) % 2 = 1
),
vert_in AS (
  SELECT DISTINCT r.doc_id, r.off, e.zone_id
  FROM rects r JOIN e ON e.ex1 >= r.rx0 AND e.ex1 < r.rx1 AND e.ey1 >= r.ry0 AND e.ey1 < r.ry1
),
cross_e AS (
  SELECT DISTINCT b.doc_id, b.off, e.zone_id
  FROM redges b JOIN e ON TRUE
  WHERE ((b.bx2-b.bx1)*(e.ey1-b.by1) - (b.by2-b.by1)*(e.ex1-b.bx1))
      * ((b.bx2-b.bx1)*(e.ey2-b.by1) - (b.by2-b.by1)*(e.ex2-b.bx1)) < 0
    AND ((e.ex2-e.ex1)*(b.by1-e.ey1) - (e.ey2-e.ey1)*(b.bx1-e.ex1))
      * ((e.ex2-e.ex1)*(b.by2-e.ey1) - (e.ey2-e.ey1)*(b.bx2-e.ex1)) < 0
)
SELECT DISTINCT doc_id, off AS "offset", zone_id FROM (
  SELECT * FROM corner_in UNION ALL SELECT * FROM vert_in UNION ALL SELECT * FROM cross_e
)
"""

# shared pts CTE body: POINT geo spans parsed to doubles (same as the PIP
# gate) — the string-scan mirror of geo_points, not a regexp
_PTS_CTE = _pts_parse_sql(_DOCS)


from gdal_common_python_spark.operators.spatial_join import (  # noqa: E402
    route_zone_sequence_oracle_sql as _rzs_sql,
    zone_keywords_oracle_sql as _zk_sql,
    zone_mean_center_oracle_sql as _zmc_sql,
)

_SQL_ROUTE_ZONE_SEQUENCE = _rzs_sql(_SQL_SPATIAL_JOIN_PIP)

from gdal_common_python_spark.operators.sample import (  # noqa: E402
    track_profile_oracle_sql as _tpf_sql,
)

_SQL_TRACK_PROFILE = _tpf_sql(_PTS_CTE, _TILES)

_SQL_ZONE_MEAN_CENTER = _zmc_sql(_SQL_SPATIAL_JOIN_PIP, _PTS_CTE)

from gdal_common_python_spark.operators.spatial_join import (  # noqa: E402
    zone_dedup_profile_oracle_sql as _zdp_sql,
)

_SQL_ZONE_DEDUP_PROFILE = _zdp_sql(_SQL_SPATIAL_JOIN_PIP, _DOCS)

from gdal_common_python_spark.operators.spatial_join import (  # noqa: E402
    zone_stratified_sample_oracle_sql as _zss_sql,
)

_SQL_ZONE_STRATIFIED_SAMPLE = _zss_sql(_SQL_SPATIAL_JOIN_PIP, per_zone=25)
_SQL_ZONE_KEYWORDS = _zk_sql(_SQL_SPATIAL_JOIN_PIP, _DOCS, top_k=5)


_ZRES = 12
_MORTON = " + ".join(
    f"(((ix >> {b}) & 1) << {2 * b + 1}) + (((iy >> {b}) & 1) << {2 * b})"
    for b in range(_ZRES)
)
_SQL_ZORDER_LAYOUT = f"""
WITH pts AS ({_PTS_CTE}),
g AS (SELECT doc_id, off, {_sql_grid_ixy(_ZRES)} FROM pts)
SELECT doc_id, off AS "offset", CAST({_MORTON} AS BIGINT) AS zkey FROM g
"""

# every pyramid level recomputed directly from the raw points (the engine
# folds coarser levels from the previous level — same counts, tested here)
_SQL_CELL_ROLLUP = f"""
WITH pts AS ({_PTS_CTE})
{" UNION ALL ".join(
    f'''SELECT {r} AS res,
       CAST({r} AS BIGINT) * {1 << RES_SHIFT} + ix * {1 << IX_SHIFT} + iy AS cell,
       count(*) AS n_points
    FROM (SELECT {_sql_grid_ixy(r)} FROM pts) GROUP BY 1, 2'''
    for r in range(7, 13)
)}
"""

from gdal_common_python_spark.operators.layout import (  # noqa: E402
    cell_smooth_oracle_sql as _cs_sql,
)

_SQL_CELL_SMOOTH = _cs_sql(_PTS_CTE, res=9, k=1)

_SQL_VOCABULARY = """
SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents WHERE length(trim(text)) > 0
)
WHERE token != ''
GROUP BY token
ORDER BY n_occurrences DESC, token ASC
LIMIT 200
"""

_SQL_KEYWORDS = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents WHERE length(trim(text)) > 0
),
tok2 AS (SELECT * FROM tok WHERE token != ''),
vocab AS (
  SELECT token, count(*) AS n, count(DISTINCT doc_id) AS df FROM tok2 GROUP BY token
  ORDER BY count(*) DESC, token ASC LIMIT 32768
),
nd AS (SELECT CAST(floor(log2(count(*))) AS BIGINT) AS b FROM documents),
dt AS (SELECT doc_id, token, count(*) AS tf FROM tok2 GROUP BY 1, 2),
scored AS (
  SELECT dt.doc_id, dt.token, dt.tf,
         nd.b - CAST(floor(log2(coalesce(v.df, 1))) AS BIGINT) AS idf_bits
  FROM dt LEFT JOIN vocab v USING (token), nd
),
ranked AS (
  SELECT doc_id, token, tf, idf_bits,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tf * idf_bits DESC, token ASC) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INT) AS rank, token,
       CAST(tf AS BIGINT) AS tf, idf_bits,
       CAST(tf * idf_bits AS BIGINT) AS score
FROM ranked WHERE rank <= 5
"""

_SQL_SURPRISAL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents WHERE length(trim(text)) > 0
),
tok2 AS (SELECT * FROM tok WHERE token != ''),
vocab AS (
  SELECT token, count(*) AS n FROM tok2 GROUP BY token
  ORDER BY count(*) DESC, token ASC LIMIT 32768
),
tot AS (SELECT CAST(floor(log2(sum(n))) AS BIGINT) AS tb FROM vocab),
dt AS (SELECT doc_id, token, count(*) AS k FROM tok2 GROUP BY 1, 2),
scored AS (
  SELECT doc_id, sum(k) AS n_tokens,
         sum(k * (tot.tb - CAST(floor(log2(coalesce(v.n, 1))) AS BIGINT))) AS sb
  FROM dt LEFT JOIN vocab v USING (token), tot
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(s.sb, 0) AS BIGINT) AS surprisal_bits
FROM documents d LEFT JOIN scored s USING (doc_id)
"""

# global pixel grid: gx = tile_x*32 + idx%tile_w, gy = tile_y*32 + idx//tile_w
# (synth TILE=32); focal = sum/count over the valid 3x3 neighborhood of each
# valid center — a bounded band self-join, the semantic spec the engine's
# halo-exchange plan must reproduce bit-for-bit
_SQL_FOCAL_MEAN = f"""
WITH px AS (
  SELECT raster_id, band, nodata,
         CAST(tile_x AS BIGINT) * 32 + (idx - 1) % tile_w AS gx,
         CAST(tile_y AS BIGINT) * 32 + (idx - 1) // tile_w AS gy,
         v
  FROM (
    SELECT raster_id, band, nodata, tile_x, tile_y, tile_w,
           generate_subscripts(pixels, 1) AS idx, unnest(pixels) AS v
    FROM {_TILES}
  )
),
valid AS (SELECT * FROM px WHERE v != nodata)
SELECT a.raster_id, a.band, a.gx, a.gy,
       sum(b.v) AS f_sum,
       CAST(count(*) AS BIGINT) AS f_count,
       sum(b.v) / count(*) AS f_mean
FROM valid a
JOIN valid b
  ON a.raster_id = b.raster_id AND a.band = b.band
 AND b.gx BETWEEN a.gx - 1 AND a.gx + 1
 AND b.gy BETWEEN a.gy - 1 AND a.gy + 1
GROUP BY 1, 2, 3, 4
"""

# generated from the same driver-side constants as hillshade_pixels, so the
# light-vector / tan-threshold literals are identical strings in both engines
from gdal_common_python_spark.operators.terrain import (
    hillshade_oracle_sql as _hs_sql,
    ruggedness_oracle_sql as _rug_sql,
    slope_oracle_sql as _slope_sql,
)

_SQL_HILLSHADE = _hs_sql(_TILES)
_SQL_RUGGEDNESS = _rug_sql(_TILES)
_SQL_SLOPE = _slope_sql(_TILES)
del _hs_sql, _rug_sql, _slope_sql

from gdal_common_python_spark.operators.sample import sample_oracle_sql as _samp_sql

_SQL_RASTER_SAMPLE = _samp_sql(_POINTS, _TILES)

from gdal_common_python_spark.operators.sample import (  # noqa: E402
    sample_bilinear_oracle_sql as _bilin_sql,
)

_SQL_RASTER_SAMPLE_BILINEAR = _bilin_sql(_POINTS, _TILES, tile_size=32)
del _samp_sql

from gdal_common_python_spark.functions.measures import (
    point_on_surface_oracle_sql as _pos_sql,
)
from gdal_common_python_spark.operators.proximity import (
    allocation_oracle_sql as _alloc_sql,
    proximity_oracle_sql as _prox_sql,
)

_SQL_POINT_ON_SURFACE = _pos_sql(_ZONES, _EDGES)

from gdal_common_python_spark.operators.tracks import (  # noqa: E402
    line_interpolate_oracle_sql as _li_sql,
    track_resample_oracle_sql as _tr_sql,
)

_SQL_LINE_INTERPOLATE = _li_sql(_PTS_CTE, frac_num=1, frac_den=2)
_SQL_TRACK_RESAMPLE = _tr_sql(_PTS_CTE, n_points=5)

from gdal_common_python_spark.operators.text import (  # noqa: E402
    bpe_segment_oracle_sql as _bpeseg_sql,
    bpe_train_oracle_sql as _bpe_sql,
)

_SQL_BPE_TRAIN = _bpe_sql("documents", n_merges=8)
_SQL_BPE_SEGMENT = _bpeseg_sql("documents", n_merges=8)

_SQL_PROXIMITY = _prox_sql(_TILES, _PROX_VALUES, _PROX_MAXDIST)
_SQL_PROXIMITY_ALLOC = _alloc_sql(_TILES, _PROX_VALUES, _PROX_MAXDIST)
del _prox_sql, _alloc_sql

from gdal_common_python_spark.operators.nearblack import nearblack_oracle_sql as _nb_sql

_SQL_NEARBLACK = _nb_sql(_TILES, black=0.0, near=80.0, tile_size=32)
del _nb_sql

from gdal_common_python_spark.functions.measures import centroid_oracle_sql as _cent_sql

_SQL_CENTROIDS = _cent_sql(_ZONES)
del _cent_sql

from gdal_common_python_spark.operators.hull import convex_hull_oracle_sql as _hull_sql

_SQL_CONVEX_HULL = _hull_sql(_POINTS)
del _hull_sql

from gdal_common_python_spark.operators.quantiles import (
    exact_quantiles_oracle_sql as _q_sql,
)

_SQL_LENGTH_QUANTILES = _q_sql("documents", ["lang"], "n_chars", [0.5, 0.9, 0.99])
del _q_sql

from gdal_common_python_spark.operators.similarity import (
    quantize_int8_oracle_sql as _qi8_sql,
)

_SQL_QUANTIZE_INT8 = _qi8_sql("embeddings")
del _qi8_sql

from gdal_common_python_spark.operators.simplify import (
    dp_simplify_oracle_sql as _dp_sql,
)

_SQL_DP_SIMPLIFY = _dp_sql(_ZONES, _DP_EPS, _DP_DEPTH)
del _dp_sql

from gdal_common_python_spark.operators.dedup import (
    dedup_segments_oracle_sql as _dl_sql,
)

_SQL_DEDUP_LINES = _dl_sql("documents", window=8, max_count=1)
del _dl_sql

from gdal_common_python_spark.operators.curation import (
    pack_sequences_oracle_sql as _ps_sql,
)

_SQL_PACK_SEQUENCES = _ps_sql("documents", capacity=256, n_shards=16)
del _ps_sql

from gdal_common_python_spark.operators.curation import (
    mixture_sample_oracle_sql as _mx_sql,
    source_cap_oracle_sql as _sc_sql,
)
from gdal_common_python_spark.operators.dedup import (
    duplicate_passages_oracle_sql as _dp2_sql,
)

_SQL_DUP_PASSAGES = _dp2_sql("documents", k=8, min_count=2)
del _dp2_sql

_SQL_SOURCE_CAP = _sc_sql("documents", 10, ["doc_id", "source"])
_SQL_MIXTURE_SAMPLE = _mx_sql("documents", _MIX_WEIGHTS, 3000)
del _sc_sql, _mx_sql

from gdal_common_python_spark.operators.warp import warp_oracle_sql as _warp_sql

_SQL_RASTER_WARP = _warp_sql(_TILES, "r0", 1, _WARP_TARGET, dst_srid=3857)

from gdal_common_python_spark.operators.warp import (  # noqa: E402
    warp_average_oracle_sql as _warp_avg_sql,
)

_SQL_WARP_AVERAGE = _warp_avg_sql(_TILES, "r0", 1, _WARP_AVG_TARGET, dst_srid=3857)
del _warp_sql

from gdal_common_python_spark.operators.fillnodata import (
    fillnodata_oracle_sql as _fn_sql,
)

_SQL_FILLNODATA = _fn_sql(_TILES, maxdist=4.0)
del _fn_sql

from gdal_common_python_spark.operators.translate import (
    translate_oracle_sql as _tr_sql,
)

_SQL_TRANSLATE = _tr_sql(_TILES, "r0", 1, _TR_SRCWIN, scale=_TR_SCALE)
# retile gate: r0 is 128x128 (synth layout), re-gridded to 48-pixel tiles
_SQL_RETILE = _tr_sql(_TILES, "r0", 1, (0, 0, 128, 128), out_tile_size=48)


def _resample_sql() -> str:
    """Nearest-resample oracle: target pixel centers -> R1 trunc source
    index -> left join exploded source pixels; out-of-bounds -> nodata.
    Expression shapes mirror operators/resample.py kernel() exactly."""
    t = _RS_TARGET
    s_ox, s_oy, s_px, s_py = -120.0, 45.0, 0.25, -0.25  # r0 grid (synth)
    s_w = s_h = 128
    nodata = -9999.0
    ts = 32
    tw, th = t["width"], t["height"]
    return f"""
WITH spx AS (
  SELECT CAST(tile_x AS BIGINT) * {ts} + (idx - 1) % tile_w AS sx,
         CAST(tile_y AS BIGINT) * {ts} + (idx - 1) // tile_w AS sy,
         v
  FROM (
    SELECT tile_x, tile_y, tile_w,
           generate_subscripts(pixels, 1) AS idx, unnest(pixels) AS v
    FROM {_TILES} WHERE raster_id = 'r0' AND band = 1
  )
),
grid AS (
  SELECT CAST(g1.wx AS BIGINT) AS wx, CAST(g2.wy AS BIGINT) AS wy
  FROM generate_series(0, {tw - 1}) g1(wx), generate_series(0, {th - 1}) g2(wy)
),
m AS (
  SELECT wx, wy,
         CAST(trunc((({t["origin_x"]!r} + (wx + 0.5) * {t["px_x"]!r}) - {s_ox!r}) / {s_px!r}) AS BIGINT) AS sx,
         CAST(trunc((({t["origin_y"]!r} + (wy + 0.5) * {t["px_y"]!r}) - {s_oy!r}) / {s_py!r}) AS BIGINT) AS sy
  FROM grid
)
SELECT CAST(wx // {ts} AS INT) AS tile_x,
       CAST(wy // {ts} AS INT) AS tile_y,
       CAST((wy % {ts}) * least({ts}, {tw} - (wx // {ts}) * {ts})
            + (wx % {ts}) + 1 AS INT) AS idx,
       CASE WHEN m.sx BETWEEN 0 AND {s_w - 1} AND m.sy BETWEEN 0 AND {s_h - 1}
            THEN coalesce(v, {nodata!r}) ELSE {nodata!r} END AS value
FROM m LEFT JOIN spx ON m.sx = spx.sx AND m.sy = spx.sy
"""


_SQL_RESAMPLE = _resample_sql()
del _tr_sql


def _pansharpen_sql() -> str:
    """Weighted-Brovey pansharpen oracle: r1/1 shares the pan (r0) grid and
    joins by global pixel coords; r3/1 samples via the SAME trunc((center -
    origin)/px) nearest-mapping expression tree as the engine's R7 kernel
    (out-of-raster -> nodata). pseudo_pan = 0.6*v0 + 0.4*v1 and the per-band
    ratio vi * pv / pseudo are written with the engine's association order,
    so IEEE doubles match repr-exactly."""
    t_ox, t_oy, t_px, t_py = -120.0, 45.0, 0.25, -0.25  # pan (r0) grid
    t_w, t_h = 128, 128
    s_ox, s_oy, s_px, s_py = -119.87, 44.63, 0.2, -0.2  # r3 grid
    s_w = s_h = 96
    nd = -9999.0
    ts = 32
    w0, w1 = 0.6, 0.4
    sx = f"CAST(trunc((({t_ox!r} + (p.gx + 0.5) * {t_px!r}) - ({s_ox!r})) / {s_px!r}) AS BIGINT)"
    sy = f"CAST(trunc((({t_oy!r} + (p.gy + 0.5) * {t_py!r}) - ({s_oy!r})) / {s_py!r}) AS BIGINT)"
    return f"""
WITH px AS (
  SELECT raster_id,
         CAST(tile_x AS BIGINT) * {ts} + (idx - 1) % tile_w AS gx,
         CAST(tile_y AS BIGINT) * {ts} + (idx - 1) // tile_w AS gy,
         v
  FROM (
    SELECT raster_id, tile_x, tile_y, tile_w,
           generate_subscripts(pixels, 1) AS idx, unnest(pixels) AS v
    FROM {_TILES}
    WHERE band = 1 AND raster_id IN ('r0', 'r1', 'r3')
  )
),
j AS (
  SELECT p.gx, p.gy, p.v AS pv, m0.v AS v0,
         CASE WHEN {sx} BETWEEN 0 AND {s_w - 1} AND {sy} BETWEEN 0 AND {s_h - 1}
              THEN coalesce(m1.v, {nd!r}) ELSE {nd!r} END AS v1
  FROM (SELECT * FROM px WHERE raster_id = 'r0') p
  JOIN (SELECT * FROM px WHERE raster_id = 'r1') m0
    ON m0.gx = p.gx AND m0.gy = p.gy
  LEFT JOIN (SELECT * FROM px WHERE raster_id = 'r3') m1
    ON m1.gx = {sx} AND m1.gy = {sy}
),
jj AS (
  SELECT gx, gy, pv, v0, v1, {w0!r} * v0 + {w1!r} * v1 AS pseudo,
         (pv = {nd!r} OR v0 = {nd!r} OR v1 = {nd!r}
          OR ({w0!r} * v0 + {w1!r} * v1) = 0.0) AS invalid
  FROM j
),
bands AS (
  SELECT 1 AS out_band, gx, gy,
         CASE WHEN invalid THEN {nd!r} ELSE v0 * pv / pseudo END AS value
  FROM jj
  UNION ALL
  SELECT 2 AS out_band, gx, gy,
         CASE WHEN invalid THEN {nd!r} ELSE v1 * pv / pseudo END AS value
  FROM jj
)
SELECT CAST(out_band AS INT) AS out_band,
       CAST(gx // {ts} AS INT) AS tile_x,
       CAST(gy // {ts} AS INT) AS tile_y,
       CAST((gy % {ts}) * least({ts}, {t_w} - (gx // {ts}) * {ts})
            + (gx % {ts}) + 1 AS INT) AS idx,
       value
FROM bands
"""


_SQL_PANSHARPEN = _pansharpen_sql()

from gdal_common_python_spark.operators.curation import (
    chunk_interleaved_oracle_sql as _ci_sql,
)

_SQL_CHUNK_INTERLEAVED = _ci_sql(_DOCS, max_tokens=64, media_budget=32)

from gdal_common_python_spark.operators.multimodal import (
    media_dedup_oracle_sql as _md_sql,
    caption_pairs_oracle_sql as _cp_sql,
    rewrite_dedup_media_oracle_sql as _rdm_sql,
    render_interleaved_oracle_sql as _ri_sql,
    span_kind_transitions_oracle_sql as _skt_sql,
)

_SQL_SPAN_KIND_TRANSITIONS = _skt_sql(_DOCS)
from gdal_common_python_spark.operators.curation import (
    strip_boilerplate_oracle_sql as _sb_sql,
)

_SQL_MEDIA_DEDUP = _md_sql(_DOCS)
_SQL_CAPTION_PAIRS = _cp_sql(_DOCS)
_SQL_REWRITE_DEDUP_MEDIA = _rdm_sql(_DOCS)
_SQL_RENDER_INTERLEAVED = _ri_sql(_DOCS)
_SQL_STRIP_BOILERPLATE = _sb_sql(_DOCS, min_doc_freq=3)

from gdal_common_python_spark.operators.curation import (  # noqa: E402
    scrub_contaminated_oracle_sql as _scrub_sql,
)

_SQL_SCRUB_CONTAMINATED = _scrub_sql(
    _DOCS, bench_filter="substr(md5(doc_id), 1, 1) = '0'", n=3
)
del _md_sql, _cp_sql, _rdm_sql, _sb_sql

from gdal_common_python_spark.operators.curation import (
    pack_interleaved_oracle_sql as _pi_sql,
)

_SQL_PACK_INTERLEAVED = _pi_sql(_DOCS, capacity=256, media_budget=32)

# END-TO-END interleaved curation oracle: the pack_interleaved oracle run
# over the dedup+quality-gated doc subquery (same md5 identity + quality
# formulas as the engine, composed verbatim from the curated_chunks SQL)
_CI_GATED = f"""(
  SELECT doc_id, spans FROM (
    SELECT doc_id, spans, txt,
           min(doc_id) OVER (PARTITION BY key) AS __m,
           CAST(length(txt) AS DOUBLE) AS n,
           CAST(length(regexp_replace(txt, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
           CAST(length(regexp_replace(txt, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
           CASE WHEN len(trim(txt)) = 0 THEN 0
                ELSE len(string_split_regex(trim(lower(txt)), '\\s+')) END AS ntok
    FROM (
      SELECT doc_id, spans,
             coalesce(array_to_string(list_transform(list_filter(spans, s -> s.kind = 'text'), s -> s.text), ' '), '') AS txt,
             md5(concat_ws(chr(31),
                 coalesce(array_to_string(list_transform(list_filter(spans, s -> s.kind = 'text'), s -> s.text), ' '), ''),
                 array_to_string(list_transform(spans, s -> s.kind), ','),
                 coalesce(array_to_string(list_transform(list_filter(spans, s -> s.kind = 'media'), s -> s.media_ref), ','), ''))) AS key
      FROM {_DOCS})
  ) WHERE doc_id = __m
      AND 0.4 * (CASE WHEN n > 0 THEN alpha / n ELSE 0 END)
        + 0.3 * least(1.0, CAST(ntok AS DOUBLE) / 100.0)
        + 0.3 * (1.0 - (CASE WHEN n > 0 THEN punct / n ELSE 0 END)) >= 0.45
      AND ntok >= 5
)"""
_SQL_CURATED_PACKS = _pi_sql(_CI_GATED, capacity=256, media_budget=32)

del _pi_sql

from gdal_common_python_spark.operators.overviews import (
    overview_oracle_sql as _ov_sql,
)

_SQL_OVERVIEWS = _ov_sql(_TILES)
del _ov_sql

from gdal_common_python_spark.operators.segmentize import (
    segmentize_oracle_sql as _seg_sql,
)

_SQL_SEGMENTIZE = _seg_sql(_ZONES, 0.5)
del _seg_sql

from gdal_common_python_spark.operators.rasterinfo import (
    raster_info_oracle_sql as _ri_sql,
)

_SQL_RASTER_INFO = _ri_sql(_TILES)

from gdal_common_python_spark.operators.rasterinfo import (  # noqa: E402
    raster_minmax_oracle_sql as _rmm_sql,
)

_SQL_RASTER_MINMAX = _rmm_sql(_TILES)
del _ri_sql

from gdal_common_python_spark.operators.collections import (
    explode_collections_oracle_sql as _ec_sql,
)
from gdal_common_python_spark.operators.rasterinfo import (
    compare_rasters_oracle_sql as _rc_sql,
)

_SQL_EXPLODE_COLLECTIONS = _ec_sql(_ZONES)
_SQL_RASTER_COMPARE = _rc_sql(_TILES, ("r0", 1), ("r2", 1))
del _ec_sql, _rc_sql

from gdal_common_python_spark.operators.rasterinfo import (
    raster_to_xyz_oracle_sql as _xyz_sql,
    slippy_tiles_oracle_sql as _st_sql,
    tile_index_oracle_sql as _ti_sql,
    footprint_oracle_sql as _fp_sql,
)

_SQL_RASTER_XYZ = _xyz_sql(_TILES, "r3", 1)
_SQL_SLIPPY_TILES = _st_sql(_RASTERS, 6)
_SQL_TILE_INDEX = _ti_sql(_RASTERS)
_SQL_FOOTPRINT = _fp_sql(_TILES)

from gdal_common_python_spark.operators.layout import (  # noqa: E402
    compact_cells_oracle_sql as _cc_sql,
    cover_bbox_cells_oracle_sql as _cov_sql,
)

_SQL_COMPACT_CELLS = _cc_sql(
    _cov_sql(
        f"(SELECT bbox4326.xmin AS xmin, bbox4326.ymin AS ymin, "
        f"bbox4326.xmax AS xmax, bbox4326.ymax AS ymax FROM {_ZONES})",
        res=9,
    ),
    from_res=9,
    to_res=5,
)

# the round-trip identity: uncompact(compact(cover)) == cover
_SQL_UNCOMPACT_CELLS = _cov_sql(
    f"(SELECT bbox4326.xmin AS xmin, bbox4326.ymin AS ymin, "
    f"bbox4326.xmax AS xmax, bbox4326.ymax AS ymax FROM {_ZONES})",
    res=9,
)

_SQL_VECTOR_INFO = f"""
SELECT count(*) AS n_features,
       CAST(sum(len(rings4326)) AS BIGINT) AS n_rings,
       CAST(sum(list_sum(list_transform(rings4326, r -> len(r)))) AS BIGINT) AS n_vertices,
       min(list_aggregate(list_transform(flatten(rings4326), p -> p[1]), 'min')) AS xmin,
       min(list_aggregate(list_transform(flatten(rings4326), p -> p[2]), 'min')) AS ymin,
       max(list_aggregate(list_transform(flatten(rings4326), p -> p[1]), 'max')) AS xmax,
       max(list_aggregate(list_transform(flatten(rings4326), p -> p[2]), 'max')) AS ymax
FROM {_ZONES}
"""
del _xyz_sql, _st_sql, _ti_sql, _fp_sql

from gdal_common_python_spark.operators.viewshed import (
    viewshed_oracle_sql as _vs_sql,
)

_SQL_VIEWSHED = _vs_sql(_TILES, "r0", 1, _VIEWSHED_OBS, maxdist=12)
del _vs_sql

from gdal_common_python_spark.operators.rasterinfo import (
    tile_stats_oracle_sql as _ts_sql,
)

_SQL_TILE_STATS = _ts_sql(_TILES)
del _ts_sql

# gdal_rasterize burn: the zonal pixel-center even-odd membership (same
# machinery/CTEs), reported per PIXEL with max(zone_id) as the burn value
_SQL_CUTLINE = f"""
WITH {_SQL_ZONAL_INSIDE}
SELECT gc, gr, min(v) AS value
FROM inside
WHERE raster_id = 'r0' AND band = 1 AND v != nodata
GROUP BY gc, gr
"""

_SQL_RASTERIZE = f"""
WITH {_SQL_ZONAL_INSIDE}
SELECT gc, gr, CAST(max(zone_id) AS BIGINT) AS burn_value
FROM inside
WHERE raster_id = 'r0' AND band = 1
GROUP BY gc, gr
"""

# the text profile over the interleaved spans table: swap the source rel
# for the span-concat subquery (array order is span/offset order)
_SQL_SPANS_TEXT_PROFILE = _SQL_TEXT_PROFILE.replace(
    "FROM documents",
    "FROM (SELECT doc_id, coalesce(array_to_string(list_transform(list_filter(spans, "
    f"s -> s.kind = 'text'), s -> s.text), ' '), '') AS text FROM {_DOCS})",
)

# MODE-family zonal stats over the same membership CTEs
_SQL_ZONAL_MAJORITY = f"""
WITH {_SQL_ZONAL_INSIDE},
vc AS (
  SELECT zone_id, v AS value, count(*) AS cnt
  FROM vals WHERE raster_id = 'r0' AND band = 1
  GROUP BY zone_id, v
),
vc2 AS (
  SELECT *, max(cnt) OVER (PARTITION BY zone_id) AS maxc,
            min(cnt) OVER (PARTITION BY zone_id) AS minc
  FROM vc
)
SELECT zone_id,
       min(value) FILTER (cnt = maxc) AS majority,
       min(value) FILTER (cnt = minc) AS minority,
       count(*) AS variety,
       CAST(sum(cnt) AS BIGINT) AS n_valid
FROM vc2 GROUP BY zone_id
"""

_SQL_ZONAL_PERCENTILES = f"""
WITH {_SQL_ZONAL_INSIDE},
vc AS (
  SELECT zone_id, v AS value, count(*) AS cnt
  FROM vals WHERE raster_id = 'r0' AND band = 1
  GROUP BY zone_id, v
),
zh AS (
  SELECT *, sum(cnt) OVER (PARTITION BY zone_id) AS n,
            sum(cnt) OVER (PARTITION BY zone_id ORDER BY value
                           ROWS UNBOUNDED PRECEDING) AS cum
  FROM vc
)
SELECT zone_id, CAST(max(n) AS BIGINT) AS n_valid,
       min(CASE WHEN cum >= ceil(n * 0.25) THEN value END) AS p25,
       min(CASE WHEN cum >= ceil(n * 0.5) THEN value END) AS p50,
       min(CASE WHEN cum >= ceil(n * 0.75) THEN value END) AS p75
FROM zh GROUP BY zone_id
"""

from gdal_common_python_spark.operators.grid import (
    grid_average_oracle_sql as _grid_sql,
    grid_idw_oracle_sql as _gidw_sql,
    grid_nearest_oracle_sql as _gnear_sql,
    grid_metrics_oracle_sql as _gmet_sql,
)

_SQL_GRID_POINTS = _grid_sql(
    f"(SELECT *, CAST(point_id % 97 AS DOUBLE) AS v FROM {_POINTS})",
    _GRID_TARGET,
    0.6,
)
_SQL_GRID_METRICS = _gmet_sql(
    f"(SELECT *, CAST(point_id % 97 AS DOUBLE) AS v FROM {_POINTS})",
    _GRID_TARGET,
    0.6,
)
_SQL_GRID_IDW = _gidw_sql(
    f"(SELECT *, CAST(point_id % 97 AS DOUBLE) AS v FROM {_POINTS})",
    _GRID_TARGET,
    0.6,
)
_SQL_GRID_NEAREST = _gnear_sql(
    f"(SELECT *, CAST(point_id % 97 AS DOUBLE) AS v FROM {_POINTS})",
    _GRID_TARGET,
    0.6,
)
del _grid_sql, _gidw_sql, _gnear_sql, _gmet_sql

from gdal_common_python_spark.operators.rasterinfo import (
    color_relief_oracle_sql as _cr_sql,
    histogram_oracle_sql as _hist_sql,
    histogram_match_oracle_sql as _hm_sql,
    raster_calc_oracle_sql as _calc_sql,
)

_SQL_HISTOGRAM_MATCH = _hm_sql(_TILES, src=("r0", 1), ref=("r2", 1))

_SQL_COLOR_RELIEF = _cr_sql(_TILES, _RELIEF_RAMP)

from gdal_common_python_spark.operators.palette import (
    pct_tile_histogram_oracle_sql as _p2r_sql,
    rgb_to_pct_oracle_sql as _pct_sql,
)

_SQL_RGB2PCT = _pct_sql(_TILES, ("r0", 1), ("r1", 1), ("r1", 2), levels=4)
_SQL_PCT2RGB = _p2r_sql(_TILES, ("r0", 1), ("r1", 1), ("r1", 2), levels=4)
del _pct_sql, _p2r_sql
_SQL_RASTER_HISTOGRAM = _hist_sql(_TILES, 0.0, 256.0, 16)
_SQL_RASTER_CALC = _calc_sql(_TILES, ("r0", 1), ("r1", 1), "sub")
del _cr_sql, _hist_sql, _calc_sql

from gdal_common_python_spark.operators.contour import (
    contour_oracle_sql as _cont_sql,
    contour_lines_oracle_sql as _cline_sql,
)

_SQL_CONTOUR = _cont_sql(_TILES, _CONTOUR_LEVELS)
_SQL_CONTOUR_LINES = _cline_sql(
    f"(SELECT * FROM {_TILES} WHERE raster_id = 'r3' AND band = 1)", _CONTOUR_LEVELS
)
del _cont_sql, _cline_sql


def _geohash_sql(precision: int) -> str:
    """The geohash formula as DuckDB SQL over (px, py) — generated from the
    same loop as operators.layout.geohash so both stay in lockstep."""
    nbits = 5 * precision
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    nx, ny = 1 << lon_bits, 1 << lat_bits
    terms = []
    for b in range(nbits):
        pos = nbits - 1 - b
        if b % 2 == 0:
            terms.append(f"(((ix >> {lon_bits - 1 - b // 2}) & 1) << {pos})")
        else:
            terms.append(f"(((iy >> {lat_bits - 1 - b // 2}) & 1) << {pos})")
    val = " + ".join(terms)
    chars = " || ".join(
        f"substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((v >> {5 * (precision - 1 - i)}) % 32 + 1 AS INT), 1)"
        for i in range(precision)
    )
    return f"""
WITH pts AS ({_PTS_CTE}),
g AS (
  SELECT doc_id, off,
         CAST(least(greatest(floor((px + 180.0) / 360.0 * {nx}), 0), {nx - 1}) AS BIGINT) AS ix,
         CAST(least(greatest(floor((py + 90.0) / 180.0 * {ny}), 0), {ny - 1}) AS BIGINT) AS iy
  FROM pts
),
v AS (SELECT doc_id, off, CAST({val} AS BIGINT) AS v FROM g)
SELECT doc_id, off AS "offset", {chars} AS gh FROM v
"""


_SQL_GEOHASH = _geohash_sql(9)


# connected equal-value regions by flood fill: the recursive CTE enumerates
# (pixel, reachable-label) pairs — tractable because random-valued planes
# have tiny regions; the engine's three-stage labeling must reproduce the
# same min-pixel-id region keys bit-for-bit
def _polygonize_sql(value_expr: str = "v") -> str:
    """Recursive-CTE polygonize oracle over the tile table; ``value_expr``
    maps each valid raw pixel to the value that defines region equality
    (the reclass gate passes the class formula here)."""
    return f"""
WITH RECURSIVE px AS (
  SELECT raster_id, band, gx, gy, {value_expr} AS v FROM (
    SELECT raster_id, band,
           CAST(tile_x AS BIGINT) * 32 + (idx - 1) % tile_w AS gx,
           CAST(tile_y AS BIGINT) * 32 + (idx - 1) // tile_w AS gy,
           v
    FROM (
      SELECT raster_id, band, nodata, tile_x, tile_y, tile_w,
             generate_subscripts(pixels, 1) AS idx, unnest(pixels) AS v
      FROM {_TILES}
    )
    WHERE v != nodata
  )
),
pid AS (SELECT raster_id, band, gx, gy, v, gy * 4294967296 + gx AS pid FROM px),
adj AS (
  SELECT a.raster_id, a.band, a.pid AS l_id, b.pid AS r_id
  FROM pid a JOIN pid b
    ON a.raster_id = b.raster_id AND a.band = b.band AND a.v = b.v
   AND ((b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1))
),
sym AS (
  SELECT * FROM adj
  UNION ALL SELECT raster_id, band, r_id, l_id FROM adj
),
cc AS (
  SELECT raster_id, band, pid, pid AS label FROM pid
  UNION
  SELECT s.raster_id, s.band, s.r_id, cc.label
  FROM cc JOIN sym s
    ON s.raster_id = cc.raster_id AND s.band = cc.band AND s.l_id = cc.pid
),
comp AS (
  SELECT raster_id, band, pid, min(label) AS region
  FROM cc GROUP BY 1, 2, 3
)
SELECT p.raster_id, p.band, c.region,
       min(p.v) AS value,
       CAST(count(*) AS BIGINT) AS n_pixels,
       min(p.gx) AS min_gx, min(p.gy) AS min_gy,
       max(p.gx) AS max_gx, max(p.gy) AS max_gy
FROM pid p JOIN comp c
  ON c.raster_id = p.raster_id AND c.band = p.band AND c.pid = p.pid
GROUP BY 1, 2, 3
"""


def _sieve_sql(threshold: int) -> str:
    """Sieve oracle: the polygonize recursive-CTE labeling extended with
    per-pixel regions, cross-value 4-adjacency, and the (size DESC, region
    ASC) merge pick for sub-threshold regions."""
    return f"""
WITH RECURSIVE px AS (
  SELECT raster_id, band, gx, gy, v FROM (
    SELECT raster_id, band,
           CAST(tile_x AS BIGINT) * 32 + (idx - 1) % tile_w AS gx,
           CAST(tile_y AS BIGINT) * 32 + (idx - 1) // tile_w AS gy,
           v
    FROM (
      SELECT raster_id, band, nodata, tile_x, tile_y, tile_w,
             generate_subscripts(pixels, 1) AS idx, unnest(pixels) AS v
      FROM {_TILES}
    )
    WHERE v != nodata
  )
),
pid AS (SELECT raster_id, band, gx, gy, v, gy * 4294967296 + gx AS pid FROM px),
adjsame AS (
  SELECT a.raster_id, a.band, a.pid AS l_id, b.pid AS r_id
  FROM pid a JOIN pid b
    ON a.raster_id = b.raster_id AND a.band = b.band AND a.v = b.v
   AND ((b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1))
),
sym AS (
  SELECT * FROM adjsame
  UNION ALL SELECT raster_id, band, r_id, l_id FROM adjsame
),
cc AS (
  SELECT raster_id, band, pid, pid AS label FROM pid
  UNION
  SELECT s.raster_id, s.band, s.r_id, cc.label
  FROM cc JOIN sym s
    ON s.raster_id = cc.raster_id AND s.band = cc.band AND s.l_id = cc.pid
),
pxreg AS (
  SELECT p.raster_id, p.band, p.gx, p.gy, p.v, c.region
  FROM pid p JOIN (
    SELECT raster_id, band, pid, min(label) AS region FROM cc GROUP BY 1, 2, 3
  ) c ON c.raster_id = p.raster_id AND c.band = p.band AND c.pid = p.pid
),
sizes AS (
  SELECT raster_id, band, region, min(v) AS value,
         CAST(count(*) AS BIGINT) AS n_pixels
  FROM pxreg GROUP BY 1, 2, 3
),
adj0 AS (
  SELECT DISTINCT a.raster_id, a.band, a.region AS ra, b.region AS rb
  FROM pxreg a JOIN pxreg b
    ON a.raster_id = b.raster_id AND a.band = b.band
   AND ((b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1))
   AND a.region != b.region
),
adj AS (
  SELECT * FROM adj0 UNION SELECT raster_id, band, rb, ra FROM adj0
),
pick AS (
  SELECT s.raster_id, s.band, s.region,
         t.region AS t_region, t.value AS t_value,
         ROW_NUMBER() OVER (PARTITION BY s.raster_id, s.band, s.region
                            ORDER BY t.n_pixels DESC, t.region ASC) AS rn
  FROM sizes s
  JOIN adj a ON a.raster_id = s.raster_id AND a.band = s.band AND a.ra = s.region
  JOIN sizes t ON t.raster_id = a.raster_id AND t.band = a.band AND t.region = a.rb
  WHERE s.n_pixels < {threshold}
)
SELECT s.raster_id, s.band, s.region, s.value, s.n_pixels,
       coalesce(p.t_region, s.region) AS new_region,
       coalesce(p.t_value, s.value) AS new_value
FROM sizes s
LEFT JOIN (SELECT * FROM pick WHERE rn = 1) p
  ON p.raster_id = s.raster_id AND p.band = s.band AND p.region = s.region
"""


_SQL_SIEVE = _sieve_sql(_SIEVE_THRESHOLD)
_SQL_POLYGONIZE = _polygonize_sql()
# searchsorted(breaks, v, 'right') = count of breaks <= v (16 classes)
_SQL_RECLASS_REGIONS = _polygonize_sql(
    "CAST("
    + " + ".join(f"(CASE WHEN v >= {b} THEN 1 ELSE 0 END)" for b in range(16, 256, 16))
    + " AS DOUBLE)",
).replace(
    "FROM {t}".format(t=_TILES),
    f"FROM {_TILES} WHERE raster_id = 'r0' AND band = 1",
)

# the four curation formulas composed — dedup window, quality gate (the
# UNROUNDED expression, same op order as text.quality_score), split draw,
# chunk windows (32 tokens, stride 24)
_SQL_CURATED_CHUNKS = """
WITH dd AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
           min(doc_id) OVER (PARTITION BY md5(text)) AS __m
    FROM documents
  ) WHERE doc_id = __m
),
q AS (
  SELECT doc_id, lang, text,
         CAST(length(text) AS DOUBLE) AS n,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS ntok
  FROM dd
),
g AS (
  SELECT doc_id, lang, text FROM q
  WHERE 0.4 * (CASE WHEN n > 0 THEN alpha / n ELSE 0 END)
      + 0.3 * least(1.0, CAST(ntok AS DOUBLE) / 100.0)
      + 0.3 * (1.0 - (CASE WHEN n > 0 THEN punct / n ELSE 0 END)) >= 0.45
    AND ntok >= 5 AND ntok <= 100000
),
s AS (
  SELECT doc_id, text FROM g
  WHERE CAST('0x' || substr(md5('split1:' || lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8)
             AS BIGINT) / 4294967296.0 < 0.9
),
d AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM s WHERE len(trim(text)) > 0
),
c AS (
  SELECT doc_id, toks,
         unnest(range(0, greatest(1, (len(toks) - 8 + 23) // 24))) AS chunk_ix
  FROM d
)
SELECT doc_id, chunk_ix, chunk_ix * 24 AS start_tok,
       len(list_slice(toks, chunk_ix * 24 + 1, chunk_ix * 24 + 32)) AS n_chunk_tokens,
       array_to_string(list_slice(toks, chunk_ix * 24 + 1, chunk_ix * 24 + 32), ' ')
         AS chunk_text
FROM c
"""

_SQL_PROFILE_TABLE = """
SELECT * FROM (
  SELECT 'doc_id' AS "column", count(*) AS n_rows,
         CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
         CAST(min(doc_id) AS VARCHAR) AS min_val, CAST(max(doc_id) AS VARCHAR) AS max_val
  FROM documents
  UNION ALL
  SELECT 'text', count(*),
         CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT text) AS BIGINT), min(text), max(text) FROM documents
  UNION ALL
  SELECT 'lang', count(*),
         CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT lang) AS BIGINT), min(lang), max(lang) FROM documents
  UNION ALL
  SELECT 'source', count(*),
         CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT source) AS BIGINT), min(source), max(source) FROM documents
  UNION ALL
  SELECT 'n_chars', count(*),
         CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT n_chars) AS BIGINT),
         CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM documents
)
"""

_SQL_TRACK_STATS = f"""
WITH pts AS ({_PTS_CTE}),
seg AS (
  SELECT doc_id, px, py,
         CASE WHEN lag(px) OVER w IS NULL THEN 0
              ELSE CAST(floor(sqrt(
                     (px - lag(px) OVER w) * (px - lag(px) OVER w)
                   + (py - lag(py) OVER w) * (py - lag(py) OVER w)) * 1e6) AS BIGINT)
         END AS hop
  FROM pts
  WINDOW w AS (PARTITION BY doc_id ORDER BY off)
)
SELECT doc_id AS track_id,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(hop) AS BIGINT) AS len_micro,
       CAST(max(hop) AS BIGINT) AS max_hop_micro,
       min(px) AS min_x, min(py) AS min_y,
       max(px) AS max_x, max(py) AS max_y
FROM seg GROUP BY doc_id
"""

# anchor-rule dwell walk, one recursive step per point in track order —
# the sequential spec the engine's window fold must reproduce exactly
_SQL_TRACK_DWELLS = f"""
WITH RECURSIVE pts AS ({_PTS_CTE}),
p AS (
  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY off) AS rn, px, py
  FROM pts
),
walk AS (
  SELECT doc_id, rn, px, py, px AS ax, py AS ay, CAST(1 AS BIGINT) AS dwell
  FROM p WHERE rn = 1
  UNION ALL
  SELECT p.doc_id, p.rn, p.px, p.py,
         CASE WHEN sqrt((p.px - w.ax) * (p.px - w.ax) + (p.py - w.ay) * (p.py - w.ay)) > 5.0
              THEN p.px ELSE w.ax END,
         CASE WHEN sqrt((p.px - w.ax) * (p.px - w.ax) + (p.py - w.ay) * (p.py - w.ay)) > 5.0
              THEN p.py ELSE w.ay END,
         w.dwell + CASE WHEN sqrt((p.px - w.ax) * (p.px - w.ax) + (p.py - w.ay) * (p.py - w.ay)) > 5.0
                        THEN 1 ELSE 0 END
  FROM walk w JOIN p ON p.doc_id = w.doc_id AND p.rn = w.rn + 1
)
SELECT doc_id AS track_id, dwell AS dwell_ix,
       CAST(count(*) AS BIGINT) AS n_points,
       ax AS anchor_x, ay AS anchor_y
FROM walk GROUP BY 1, 2, 4, 5
"""

_SQL_BIGRAM_SURPRISAL = """
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
bg AS (
  SELECT doc_id, w1, w2 FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, greatest(len(toks) - 1, 0)),
                                 i -> struct_pack(w1 := toks[i + 1], w2 := toks[i + 2]))) AS g
    FROM tok WHERE len(toks) >= 2
  ), LATERAL (SELECT g.w1 AS w1, g.w2 AS w2)
  WHERE w1 != '' AND w2 != ''
),
uni AS (
  SELECT w1, count(*) AS cu FROM (
    SELECT unnest(toks) AS w1 FROM tok
  ) WHERE w1 != '' GROUP BY w1
  ORDER BY cu DESC, w1 ASC LIMIT 32768
),
big AS (
  SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2
  ORDER BY cb DESC, w1 ASC, w2 ASC LIMIT 32768
),
dt AS (SELECT doc_id, w1, w2, count(*) AS k FROM bg GROUP BY 1, 2, 3),
scored AS (
  SELECT doc_id, sum(k) AS nb,
         sum(k * (CAST(floor(log2(coalesce(u.cu, 1))) AS BIGINT)
                - CAST(floor(log2(coalesce(b.cb, 1))) AS BIGINT))) AS sb
  FROM dt LEFT JOIN uni u USING (w1) LEFT JOIN big b USING (w1, w2)
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(s.nb, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(s.sb, 0) AS BIGINT) AS surprisal_bits
FROM documents d LEFT JOIN scored s USING (doc_id)
"""

_SQL_STRATIFIED_SPLIT = """
SELECT doc_id, lang,
  CASE WHEN draw < 0.8 THEN 'train'
       WHEN draw < 0.9 THEN 'val'
       WHEN draw < 1.0 THEN 'test'
       ELSE 'rest' END AS split
FROM (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5('split1:' || lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) / 4294967296.0 AS draw
  FROM documents
)
"""


# hot-cell skew census: verbatim grid arithmetic + integer div shares
_SQL_SKEW_REPORT = f"""
WITH pts AS ({_PTS_CTE}),
cells AS (SELECT {_sql_grid_ixy(9)} FROM pts),
counts AS (
  SELECT ix AS cell_ix, iy AS cell_iy, count(*) AS n_points
  FROM cells GROUP BY 1, 2
),
tot AS (SELECT sum(n_points) AS t FROM counts)
SELECT cell_ix, cell_iy, n_points,
       CAST((n_points * 1000000) // t AS BIGINT) AS share_ppm,
       CAST((n_points + 49) // 50 AS INT) AS salt
FROM counts, tot
ORDER BY n_points DESC, cell_ix, cell_iy
LIMIT 100
"""

# per-bucket lineage of the flagship join: md5-mod-16 bucket draw shared
# with the engine (curation.pack_sequences pattern)
_SQL_JOIN_PARTITION_METRICS = f"""
WITH pts AS ({_PTS_CTE}),
pip AS ({_SQL_SPATIAL_JOIN_PIP}),
inm AS (
  SELECT CAST(CAST('0x' || substr(md5(doc_id), 1, 8) AS BIGINT) % 16 AS INT)
           AS partition_id,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS input_docs,
         CAST(count(*) AS BIGINT) AS input_points
  FROM pts GROUP BY 1
),
outm AS (
  SELECT CAST(CAST('0x' || substr(md5(doc_id), 1, 8) AS BIGINT) % 16 AS INT)
           AS partition_id,
         CAST(count(*) AS BIGINT) AS output_rows
  FROM pip GROUP BY 1
)
SELECT i.partition_id, i.input_docs, i.input_points,
       coalesce(o.output_rows, 0) AS output_rows
FROM inm i LEFT JOIN outm o USING (partition_id)
"""

# zone bbox-center cells at res 9 (cell_expr arithmetic; the line break in
# each center expression is part of the pinned oracle text)
_ZIX, _ZIY = (
    cells.sql_index(f"(bbox4326.{a}min + bbox4326.{a}max) / 2.0\n            ", 9, axis)
    for axis, a in enumerate("xy")
)
_ZCELLS_CTE = f"""
  SELECT zone_id,
         (CAST(9 AS BIGINT) * {1 << RES_SHIFT})
         + {_ZIX} * {1 << IX_SHIFT}
         + {_ZIY} AS cell
  FROM {_ZONES}
"""

from gdal_common_python_spark.operators.layout import (  # noqa: E402
    grid_disk_oracle_sql as _gd_sql,
)

_SQL_GRID_DISK = _gd_sql(f"(SELECT * FROM ({_ZCELLS_CTE}))", res=9, k=2)

from gdal_common_python_spark.operators.layout import (  # noqa: E402
    polyfill_oracle_sql as _pf_sql,
)

_SQL_POLYFILL = _pf_sql(_ZONES, _EDGES, res=9)

_CELL_EDGES = ",\n       ".join(
    f"{e} AS cell_{c}" for e, c in zip(cells.sql_bounds("cell", 9), ("xmin", "ymin", "xmax", "ymax"))
)
_SQL_CELL_BOUNDS = f"""
SELECT zone_id, cell,
       {_CELL_EDGES}
FROM ({_ZCELLS_CTE})
"""

(_AIX, _AIY), (_BIX, _BIY) = cells.sql_unpack("a.cell"), cells.sql_unpack("b.cell")
_SQL_GRID_DISTANCE = f"""
WITH zc AS ({_ZCELLS_CTE})
SELECT a.zone_id AS zone_a, b.zone_id AS zone_b,
       greatest(abs({_AIX}
                    - {_BIX}),
                abs({_AIY} - {_BIY})) AS grid_dist
FROM zc a JOIN zc b ON a.zone_id < b.zone_id
"""


def oracle_sql() -> dict[str, str]:
    synth.ensure("sf0.01")  # the oracle reads the synth parquet directly
    # the ANN oracles read driver testdata at generation time (k-means
    # training sample / hyperplane literals) — if that environment piece is
    # absent, degrade those two to rows-only instead of failing EVERY oracle
    ann: dict[str, str] = {}
    try:
        ann["embedding_ann_lsh"] = _sql_ann_lsh()
        ann["embedding_ann_ivf"] = _sql_ann_ivf()
    except Exception:
        ann = {}
    return {
        **ann,
        "spatial_join_pip": _SQL_SPATIAL_JOIN_PIP,
        "media_geotag": _SQL_MEDIA_GEOTAG,
        "zone_corpus_profile": _SQL_ZONE_CORPUS_PROFILE,
        "envelope": _SQL_ENVELOPE,
        "layer_extent": _SQL_LAYER_EXTENT,
        "spatial_join_pip_salted": _SQL_SPATIAL_JOIN_PIP,
        "spatial_join_pip_distributed": _SQL_SPATIAL_JOIN_PIP,
        "spatial_anti_join": _SQL_SPATIAL_ANTI_JOIN,
        "edge_intersections": _SQL_EDGE_INTERSECTIONS,
        "nearest_zone_distance": _SQL_NEAREST_ZONE_DISTANCE,
        # byte-identical plan variant — same oracle by construction
        "nearest_zone_distance_distributed": _SQL_NEAREST_ZONE_DISTANCE,
        "zone_mean_center": _SQL_ZONE_MEAN_CENTER,
        "zone_dedup_profile": _SQL_ZONE_DEDUP_PROFILE,
        "zone_stratified_sample": _SQL_ZONE_STRATIFIED_SAMPLE,
        "zone_keywords": _SQL_ZONE_KEYWORDS,
        "route_zone_sequence": _SQL_ROUTE_ZONE_SEQUENCE,
        "track_profile": _SQL_TRACK_PROFILE,
        "tile_assignment": _SQL_TILE_ASSIGNMENT,
        "knn": _SQL_KNN,
        "near_table": _SQL_NEAR,
        "dissolve_category": _SQL_DISSOLVE_CATEGORY,
        "dissolve_components": _SQL_DISSOLVE_COMPONENTS,
        "dissolve_components_scalable": _SQL_DISSOLVE_COMPONENTS,
        "dissolve_union": _SQL_DISSOLVE_UNION,
        "dissolve_union_scalable": _SQL_DISSOLVE_UNION,
        "overlay_clip": _SQL_OVERLAY_CLIP,
        "union_layers": _SQL_UNION_LAYERS,
        "overlay_erase": _SQL_OVERLAY_ERASE,
        "overlay_identity": _SQL_OVERLAY_IDENTITY,
        "overlay_symdiff": _SQL_OVERLAY_SYMDIFF,
        "overlay_update": _SQL_OVERLAY_UPDATE,
        "buffer_negative": _SQL_BUFFER_NEGATIVE,
        "make_valid": _SQL_MAKE_VALID,
        "mosaic": _SQL_MOSAIC,
        "mosaic_mixed_grid": _SQL_MOSAIC_MIXED,
        "media_metadata": _SQL_MEDIA_METADATA,
        "media_resize": _SQL_MEDIA_RESIZE,
        "media_frames": _SQL_MEDIA_FRAMES,
        "span_invariant": _SQL_SPAN_INVARIANT,
        "dedup_exact": _SQL_DEDUP_EXACT,
        "stream_dedup_replay": _SQL_STREAM_DEDUP_REPLAY,
        "csv_wkt_roundtrip": _SQL_CSV_WKT_ROUNDTRIP,
        "stream_cell_counts_replay": _SQL_STREAM_CELL_COUNTS,
        "stream_spatial_join_replay": _SQL_SPATIAL_JOIN_PIP,
        "dedup_minhash_lsh": _SQL_DEDUP_MINHASH,
        "ngram_jaccard": _SQL_NGRAM_JACCARD,
        "dedup_clusters": _SQL_DEDUP_CLUSTERS,
        "corpus_overlap": _SQL_CORPUS_OVERLAP,
        "simhash": _SQL_SIMHASH,
        "simhash_near_dup": _SQL_SIMHASH_NEAR_DUP,
        "embedding_topk": _SQL_EMBEDDING_TOPK,
        "dedup_embedding_cosine": _SQL_DEDUP_EMBEDDING_COSINE,
        "text_profile": _SQL_TEXT_PROFILE,
        "repetition_profile": _SQL_REPETITION,
        "scrub_pii": _SQL_SCRUB_PII,
        "decontaminate": _SQL_DECONTAMINATE,
        "quota_sample": _SQL_QUOTA_SAMPLE,
        "chunk_documents": _SQL_CHUNK_DOCUMENTS,
        "events_dates": _SQL_EVENTS_DATES,
        "asof_clicks_views": _SQL_ASOF_CLICKS_VIEWS,
        "interval_overlaps": _SQL_INTERVAL_OVERLAPS,
        "event_sessions": _SQL_EVENT_SESSIONS,
        "pricing_summary": _SQL_PRICING,
        "orders_by_segment": _SQL_ORDERS_SEGMENT,
        "zorder_layout": _SQL_ZORDER_LAYOUT,
        "cell_rollup": _SQL_CELL_ROLLUP,
        "cell_smooth": _SQL_CELL_SMOOTH,
        "focal_mean": _SQL_FOCAL_MEAN,
        "hillshade": _SQL_HILLSHADE,
        "slope": _SQL_SLOPE,
        "ruggedness": _SQL_RUGGEDNESS,
        "raster_sample": _SQL_RASTER_SAMPLE,
        "raster_sample_bilinear": _SQL_RASTER_SAMPLE_BILINEAR,
        "proximity": _SQL_PROXIMITY,
        "nearblack": _SQL_NEARBLACK,
        "contour": _SQL_CONTOUR,
        "contour_lines": _SQL_CONTOUR_LINES,
        "sieve": _SQL_SIEVE,
        "color_relief": _SQL_COLOR_RELIEF,
        "raster_histogram": _SQL_RASTER_HISTOGRAM,
        "histogram_match": _SQL_HISTOGRAM_MATCH,
        "rgb2pct": _SQL_RGB2PCT,
        "pct2rgb": _SQL_PCT2RGB,
        "centroids": _SQL_CENTROIDS,
        "convex_hull": _SQL_CONVEX_HULL,
        "raster_calc": _SQL_RASTER_CALC,
        "keywords": _SQL_KEYWORDS,
        "length_quantiles": _SQL_LENGTH_QUANTILES,
        "quantize_int8": _SQL_QUANTIZE_INT8,
        "dp_simplify": _SQL_DP_SIMPLIFY,
        "polygonize": _SQL_POLYGONIZE,
        "geohash": _SQL_GEOHASH,
        "track_stats": _SQL_TRACK_STATS,
        "track_dwells": _SQL_TRACK_DWELLS,
        "profile_table": _SQL_PROFILE_TABLE,
        "curated_chunks": _SQL_CURATED_CHUNKS,
        "reclass_regions": _SQL_RECLASS_REGIONS,
        "bigram_surprisal": _SQL_BIGRAM_SURPRISAL,
        "vocabulary": _SQL_VOCABULARY,
        "surprisal": _SQL_SURPRISAL,
        "stratified_split": _SQL_STRATIFIED_SPLIT,
        "dedup_lines": _SQL_DEDUP_LINES,
        "pack_sequences": _SQL_PACK_SEQUENCES,
        "raster_warp": _SQL_RASTER_WARP,
        "warp_average": _SQL_WARP_AVERAGE,
        "fillnodata": _SQL_FILLNODATA,
        "rasterize": _SQL_RASTERIZE,
        "cutline": _SQL_CUTLINE,
        "grid_points": _SQL_GRID_POINTS,
        "source_cap": _SQL_SOURCE_CAP,
        "mixture_sample": _SQL_MIXTURE_SAMPLE,
        "translate": _SQL_TRANSLATE,
        "retile": _SQL_RETILE,
        "resample": _SQL_RESAMPLE,
        "pansharpen": _SQL_PANSHARPEN,
        "chunk_interleaved": _SQL_CHUNK_INTERLEAVED,
        "media_dedup": _SQL_MEDIA_DEDUP,
        "caption_pairs": _SQL_CAPTION_PAIRS,
        "rewrite_dedup_media": _SQL_REWRITE_DEDUP_MEDIA,
        "render_interleaved": _SQL_RENDER_INTERLEAVED,
        "span_kind_transitions": _SQL_SPAN_KIND_TRANSITIONS,
        "strip_boilerplate": _SQL_STRIP_BOILERPLATE,
        "scrub_contaminated": _SQL_SCRUB_CONTAMINATED,
        "pack_interleaved": _SQL_PACK_INTERLEAVED,
        "curated_packs": _SQL_CURATED_PACKS,
        "overviews": _SQL_OVERVIEWS,
        "segmentize": _SQL_SEGMENTIZE,
        "raster_info": _SQL_RASTER_INFO,
        "raster_minmax": _SQL_RASTER_MINMAX,
        "grid_idw": _SQL_GRID_IDW,
        "grid_nearest": _SQL_GRID_NEAREST,
        "grid_metrics": _SQL_GRID_METRICS,
        "zonal_majority": _SQL_ZONAL_MAJORITY,
        "zonal_percentiles": _SQL_ZONAL_PERCENTILES,
        "spans_text_profile": _SQL_SPANS_TEXT_PROFILE,
        "dup_passages": _SQL_DUP_PASSAGES,
        "explode_collections": _SQL_EXPLODE_COLLECTIONS,
        "raster_compare": _SQL_RASTER_COMPARE,
        "raster_xyz": _SQL_RASTER_XYZ,
        "slippy_tiles": _SQL_SLIPPY_TILES,
        "viewshed": _SQL_VIEWSHED,
        "tile_stats": _SQL_TILE_STATS,
        "tile_index": _SQL_TILE_INDEX,
        "footprint": _SQL_FOOTPRINT,
        "compact_cells": _SQL_COMPACT_CELLS,
        "uncompact_cells": _SQL_UNCOMPACT_CELLS,
        "vector_info": _SQL_VECTOR_INFO,
        "zonal_counts": _SQL_ZONAL_COUNTS,
        "zonal_counts_wide": _SQL_ZONAL_COUNTS_WIDE,
        "zonal_stats": _SQL_ZONAL_STATS,
        "spatial_join_polygons": _SQL_SPATIAL_POLY,
        "spatial_join_polygons_distributed": _SQL_SPATIAL_POLY,
        "skew_report": _SQL_SKEW_REPORT,
        "proximity_alloc": _SQL_PROXIMITY_ALLOC,
        "point_on_surface": _SQL_POINT_ON_SURFACE,
        "line_interpolate": _SQL_LINE_INTERPOLATE,
        "track_resample": _SQL_TRACK_RESAMPLE,
        "bpe_train": _SQL_BPE_TRAIN,
        "bpe_segment": _SQL_BPE_SEGMENT,
        "polyfill": _SQL_POLYFILL,
        "cell_bounds": _SQL_CELL_BOUNDS,
        "join_partition_metrics": _SQL_JOIN_PARTITION_METRICS,
        "grid_disk": _SQL_GRID_DISK,
        "grid_distance": _SQL_GRID_DISTANCE,
    }
