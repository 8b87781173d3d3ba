"""Training-data curation operators beyond the reference's surface:
benchmark decontamination and deterministic quota (mixing) sampling.

These are LLM-pipeline first-class ops (brief: dedup/similarity/text suite).
The reference has no analog — cited scope is the engine's documents table
(TESTDATA.md) and the shingle machinery shared with operators.dedup.

Scale shape:
- decontaminate: the benchmark/eval set is tiny next to the corpus, so its
  distinct n-gram set broadcasts into a map-side semi join against the
  exploded corpus shingles — corpus-side work is one narrow projection +
  one partial-aggregated groupBy(doc_id); no corpus self-join. Past the
  byte gate the join degrades to a shuffle join where hot n-grams are real
  skew keys (hashing would NOT fix that — same key frequency) — AQE skew
  handling covers them.
- quota_sample: a pure narrow filter on md5(salt:id) — zero shuffle, exactly
  reproducible across runs, partitioning and cluster sizes, and restartable
  for free (the keep decision is a pure function of the row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .dedup import ngram_structs_col, shingle_structs_col
from .util import broadcastable

__all__ = ["decontaminate", "quota_sample"]


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_limit: int = 1_000_000,
) -> DataFrame:
    """Flag corpus docs sharing any word n-gram with a benchmark/eval table
    (training-set decontamination). Returns one row per contaminated doc:
    (doc_id, n_hits, n_shingles, hit_frac) where n_hits counts the doc's
    DISTINCT shingles that appear anywhere in the benchmark.

    Joins on the n-gram STRUCT key (see dedup.ngram_structs_col) — the gram
    text never materializes and no hash is computed. Hashing the key buys
    nothing here: it uniformizes the key SPACE, not key FREQUENCY, so a hot
    n-gram stays one hot key hashed or not; the broadcast path is
    skew-immune anyway and the shuffle fallback leans on AQE skew handling.
    The benchmark side is distinct-reduced before the size-gated broadcast.
    """
    # bench side explodes with duplicates (distinct=False): the .distinct()
    # right below owns the set semantics, so the per-doc pairwise
    # array_distinct pass bought nothing. The CORPUS side below keeps
    # distinct=True — n_hits counts distinct grams per doc.
    bench_sh = (
        benchmark.select(
            F.explode(shingle_structs_col(text_col, n, distinct=False)).alias("__h")
        )
        .distinct()
    )
    if broadcastable(bench_sh, broadcast_limit):
        bench_sh = F.broadcast(bench_sh)
    # one-element explode barrier around the shingle build (same trick as
    # spatial_join.geo_points): referencing the array from BOTH size() and
    # explode() in one projection lets codegen re-inline the whole
    # array_distinct(transform(...)) per exploded row once the join's
    # constraints propagate — measured 20x slowdown. Below a Generate the
    # array is a bound attribute and is computed exactly once per doc.
    from ..operators.util import _spread

    docs = _spread(docs)  # a single-split corpus parquet would serialize
    # the shingle build + broadcast probe onto one core; no-op at scale
    doc_arr = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(F.struct(shingle_structs_col(text_col, n).alias("arr")))).alias("__b"),
    ).select("doc_id", F.col("__b.arr").alias("__arr"))
    doc_sh = doc_arr.select(
        "doc_id",
        F.size("__arr").alias("n_shingles"),
        F.explode("__arr").alias("__h"),
    )
    return (
        doc_sh.join(bench_sh, "__h")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count("*").alias("n_hits"))
        .select(
            "doc_id",
            "n_hits",
            "n_shingles",
            (F.col("n_hits").cast("double") / F.col("n_shingles")).alias("hit_frac"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    max_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-size token-window chunking with overlap (context-window prep):
    chunk i covers tokens [i*stride, i*stride + max_tokens) with
    stride = max_tokens - overlap; every token lands in >=1 chunk and each
    doc emits ceil((n - overlap) / stride) chunks (min 1; blank docs none).
    Returns (doc_id, chunk_ix, start_tok, n_chunk_tokens, chunk_text).

    Pure narrow plan: tokenization once per doc behind the explode barrier,
    windows via sequence+slice HOFs — no shuffle, output partitioning
    follows the input. Tokens keep their original case (unlike the
    dedup/repetition profiles, chunks feed training — don't normalize).
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError(f"need 0 <= overlap < max_tokens, got {overlap}/{max_tokens}")
    stride = max_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(F.struct(toks.alias("t")))).alias("__b"),
    ).select("doc_id", F.col("__b.t").alias("__toks"))
    n = F.size("__toks")
    n_chunks = F.greatest(
        F.lit(1),
        F.floor((n - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride)).cast("int"),
    )
    return (
        base.withColumn("chunk_ix", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .select(
            "doc_id",
            F.col("chunk_ix").cast("long").alias("chunk_ix"),
            (F.col("chunk_ix") * stride).cast("long").alias("start_tok"),
            F.slice("__toks", F.col("chunk_ix") * stride + 1, max_tokens).alias("__w"),
        )
        .select(
            "doc_id",
            "chunk_ix",
            "start_tok",
            F.size("__w").cast("long").alias("n_chunk_tokens"),
            F.concat_ws(" ", "__w").alias("chunk_text"),
        )
    )


def quota_sample(
    docs: DataFrame,
    rates: dict[str, float],
    group_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mix1",
) -> DataFrame:
    """Deterministic per-group quota sampling for training-data mixing:
    keep a row iff frac(md5(salt:id)) < rate(group), where frac reads the
    first 8 hex digits as a uniform draw in [0, 1). Groups missing from
    `rates` are dropped (rate 0). Unlike df.sample, the keep decision is a
    pure row function: stable under repartitioning, retries and resume.
    """
    draw = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("double") / F.lit(float(1 << 32))
    if not rates:
        return docs.filter(F.lit(False))
    mapping = F.create_map(
        *[x for key, val in sorted(rates.items()) for x in (F.lit(key), F.lit(float(val)))]
    )
    rate = F.coalesce(mapping[F.col(group_col)], F.lit(0.0))
    return docs.filter(draw < rate)


def stratified_split(
    docs: DataFrame,
    fractions: dict[str, float],
    group_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "split1",
) -> DataFrame:
    """Deterministic stratified train/val/test assignment: each row gets a
    `split` label from `fractions` (e.g. {"train": .8, "val": .1,
    "test": .1}, must sum to <= 1; any remainder labels "rest") chosen by
    where the md5-derived uniform draw frac(md5(salt:group:id)) falls in
    the cumulative-fraction ladder. Salting with the GROUP makes draws
    independent across strata, so each stratum is split at the same rates
    — the stratified property — while staying a pure row function: stable
    under repartitioning, retries, resume and cluster size (no df.sample /
    randomSplit, whose results depend on partitioning).
    """
    if not fractions:
        raise ValueError("fractions must be non-empty")
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    draw = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{salt}:"),
                    F.col(group_col).cast("string"),
                    F.lit(":"),
                    F.col(id_col).cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("double") / F.lit(float(1 << 32))
    label = F.lit("rest")
    cum = 0.0
    # build the CASE ladder from the LAST bucket backwards so earlier
    # buckets' conditions take precedence (insertion order of `fractions`)
    edges = []
    for name, frac in fractions.items():
        cum += frac
        edges.append((name, cum))
    for name, hi in reversed(edges):
        label = F.when(draw < F.lit(hi), F.lit(name)).otherwise(label)
    return docs.withColumn("split", label)


def profile_table(
    df: DataFrame,
    cols: list[str] | None = None,
    approx: bool = False,
) -> DataFrame:
    """Dataset profile — one row per column: (column, n_rows, n_nulls,
    n_distinct, min_val, max_val) with min/max rendered as strings. The
    first thing a pipeline runs against an unfamiliar corpus drop.

    ONE pass over the data: a single wide aggregate computes every
    column's metrics together, then a stack() unpivots the 1-row result —
    no per-column scan loop. Exact count_distinct over k columns makes
    Spark expand the input k ways before the shuffle; ``approx=True``
    switches to HyperLogLog (approx_count_distinct) for corpus-scale
    profiling where the expand is the dominant cost (the driver gate runs
    the exact form, which is oracle-portable)."""
    cols = cols if cols is not None else df.columns
    ndis = (
        (lambda c: F.approx_count_distinct(c)) if approx else (lambda c: F.count_distinct(F.col(c)))
    )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.extend(
            [
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nulls_{c}"),
                ndis(c).alias(f"__dist_{c}"),
                # min/max in the column's NATIVE order, rendered after
                F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
                F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
            ]
        )
    one = df.agg(*aggs)
    stack = ", ".join(
        f"'{c}', __nulls_{c}, __dist_{c}, __min_{c}, __max_{c}" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack}) as (column, n_nulls, n_distinct, min_val, max_val)",
        "__n as n_rows",
    ).select(
        "column",
        F.col("n_rows").cast("long"),
        F.col("n_nulls").cast("long"),
        F.col("n_distinct").cast("long"),
        "min_val",
        "max_val",
    )


def _shard(id_col: str, n_shards: int):
    """Deterministic shard draw both engines compute bit-identically:
    first 32 md5 bits of the stringified id, mod n_shards (the repo's
    portable-hash discipline — no engine-specific hash functions)."""
    return (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long") % F.lit(int(n_shards))
    ).cast("int")


def pack_sequences(
    docs: DataFrame,
    capacity: int,
    n_shards: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GPT-style sequence packing (concat-then-chop): tokens of every doc
    are laid end-to-end in a deterministic order and chopped into
    fixed-``capacity`` training sequences; docs straddle chop boundaries
    (the standard pretraining layout — no padding waste, unlike first-fit
    bin packing, which is inherently sequential and approximate).

    Per doc: (doc_id, shard, n_tokens, start_seq, start_off, end_seq):
    ``start_seq``/``end_seq`` are the shard-local sequences holding the
    doc's first and last token, ``start_off`` the first token's offset in
    ``start_seq``; ``end_seq > start_seq`` means the doc straddles.
    Zero-token docs occupy no space (end_seq = the sequence before the
    cursor — degenerate but deterministic).

    100 TB shape: docs hash into ``n_shards`` independent shards via the
    md5 draw (pure row function — stable under partitioning, retries and
    resume); within a shard the layout is ONE running-sum window ordered
    by doc_id. Shards pack independently, so parallelism = n_shards
    regardless of corpus size (pick n_shards >= cluster cores). One
    shuffle, of (id, count) pairs only — token text never moves.
    """
    from .text import token_count

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        _shard(id_col, n_shards).alias("shard"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.withColumn("__cum", F.sum("n_tokens").over(w))
    start = F.col("__cum") - F.col("n_tokens")
    cap = F.lit(int(capacity))
    return cum.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(start / cap).cast("long").alias("start_seq"),
        F.pmod(start, cap).cast("long").alias("start_off"),
        F.floor((F.col("__cum") - 1) / cap).cast("long").alias("end_seq"),
    )


def pack_sequences_oracle_sql(
    rel: str,
    capacity: int,
    n_shards: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of :func:`pack_sequences` — identical md5 shard draw,
    identical token_count (regexp whitespace tokens), identical window."""
    cap = int(capacity)
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id,
         CAST(CAST('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 8) AS BIGINT)
              % {int(n_shards)} AS INT) AS shard,
         CAST(CASE WHEN len(trim({text_col})) = 0 THEN 0
                   ELSE len(str_split_regex(trim(lower({text_col})), '\\s+')) END AS BIGINT)
           AS n_tokens
  FROM {rel}
),
cum AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS c
  FROM base
)
SELECT doc_id, shard, n_tokens,
       CAST(floor((c - n_tokens) / {float(cap)!r}) AS BIGINT) AS start_seq,
       CAST((c - n_tokens) % {cap} AS BIGINT) AS start_off,
       CAST(floor((c - 1) / {float(cap)!r}) AS BIGINT) AS end_seq
FROM cum
"""


def _draw(id_col: str, salt: str, extra: str | None = None):
    """frac(md5) uniform draw in [0,1) — the stratified_split discipline
    (pure row function: stable under partitioning, retries, resume)."""
    parts = [F.lit(f"{salt}:")]
    if extra is not None:
        parts += [F.col(extra).cast("string"), F.lit(":")]
    parts.append(F.col(id_col).cast("string"))
    return F.conv(F.substring(F.md5(F.concat(*parts)), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(float(1 << 32))


def source_cap(
    docs: DataFrame,
    max_per_group: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "cap1",
) -> DataFrame:
    """Per-group document cap (the per-domain cap of web-corpus pipelines):
    keep at most ``max_per_group`` docs per ``group_col``, chosen by the
    deterministic md5-draw ranking (draw asc, id asc — a uniform random
    sample that is identical across runs, partitionings and engines).

    Adds ``grp_rank`` (1-based rank within the group). Scale shape: one
    window sort per group — groups are the parallelism unit; a hot group
    sorts O(n log n) in its partition, which is the exact-top-N floor
    (a threshold-refine two-pass would save the sort only when
    max_per_group << group size; documented tradeoff, not needed at the
    corpus shapes this targets where the group count is large).
    """
    if max_per_group <= 0:
        raise ValueError(f"max_per_group must be > 0, got {max_per_group}")
    w = Window.partitionBy(group_col).orderBy(
        _draw(id_col, salt, extra=group_col).asc(), F.col(id_col).asc()
    )
    return (
        docs.withColumn("grp_rank", F.row_number().over(w))
        .where(F.col("grp_rank") <= max_per_group)
    )


def source_cap_oracle_sql(
    rel: str,
    max_per_group: int,
    columns: list[str],
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "cap1",
) -> str:
    cols = ", ".join(columns)
    return f"""
SELECT {cols}, grp_rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {group_col}
    ORDER BY CAST('0x' || substr(md5('{salt}:' || {group_col} || ':' || CAST({id_col} AS VARCHAR)), 1, 8)
                  AS BIGINT) / 4294967296.0 ASC, {id_col} ASC
  ) AS grp_rank
  FROM {rel}
)
WHERE grp_rank <= {int(max_per_group)}
"""


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "mix1",
) -> DataFrame:
    """Token-budget mixture sampling (the training-mixture op): given
    target mixing ``weights`` per group and a total ``token_budget``,
    each group keeps a deterministic uniform sample of its docs at rate

        keep_frac = min(1, budget * weight_g / group_token_count)

    so the EXPECTED kept token mass matches the target mixture (groups
    too small to fill their allocation keep everything — the standard
    up-to-budget semantic). Groups absent from ``weights`` are dropped.

    Scale shape: stage 1 is one map-side-combined groupBy collapsing the
    corpus to (group, token_count) — rows ∝ groups; the per-group
    fractions then ride a size-gated broadcast join back (group count is
    dimension-sized by construction) and the keep decision is the pure
    md5-draw row filter — zero extra shuffle of the corpus, resumable
    for free."""
    from .text import token_count

    if token_budget <= 0:
        raise ValueError(f"token_budget must be > 0, got {token_budget}")
    wts = F.create_map(
        *[F.lit(v) for kv in weights.items() for v in (kv[0], float(kv[1]))]
    )
    with_n = docs.withColumn("__n", token_count(F.col(text_col)).cast("long"))
    totals = with_n.groupBy(group_col).agg(F.sum("__n").alias("__tok"))
    fracs = totals.select(
        group_col,
        F.least(
            F.lit(1.0),
            F.lit(float(token_budget)) * wts[F.col(group_col)] / F.col("__tok").cast("double"),
        ).alias("keep_frac"),
    ).where(wts[F.col(group_col)].isNotNull())
    out = with_n.join(F.broadcast(fracs), group_col)
    return out.where(_draw(id_col, salt, extra=group_col) < F.col("keep_frac")).select(
        F.col(id_col), F.col(group_col), F.col("__n").alias("n_tokens"), "keep_frac"
    )


def mixture_sample_oracle_sql(
    rel: str,
    weights: dict[str, float],
    token_budget: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "mix1",
) -> str:
    wt_case = " ".join(
        f"WHEN '{k}' THEN {float(v)!r}" for k, v in weights.items()
    )
    return f"""
WITH t AS (
  SELECT {id_col} AS doc_id, {group_col} AS grp,
         CAST(CASE WHEN len(trim({text_col})) = 0 THEN 0
                   ELSE len(str_split_regex(trim(lower({text_col})), '\\s+')) END AS BIGINT) AS n,
         CASE {group_col} {wt_case} ELSE NULL END AS w
  FROM {rel}
),
fr AS (
  SELECT grp, least(1.0, {float(token_budget)!r} * any_value(w) / CAST(sum(n) AS DOUBLE)) AS keep_frac
  FROM t WHERE w IS NOT NULL GROUP BY grp
)
SELECT t.doc_id, t.grp AS {group_col}, t.n AS n_tokens, fr.keep_frac
FROM t JOIN fr USING (grp)
WHERE CAST('0x' || substr(md5('{salt}:' || t.grp || ':' || CAST(t.doc_id AS VARCHAR)), 1, 8)
           AS BIGINT) / 4294967296.0 < fr.keep_frac
"""


def chunk_interleaved(
    docs: DataFrame,
    max_tokens: int = 64,
    media_budget: int = 32,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    impl: str = "native",
) -> DataFrame:
    """Multimodal context-window chunking over the INTERLEAVED spans shape
    (doc_id, spans:array<struct<kind,text,media_ref,offset>>) — the
    north-rule input: text/geo spans cost their whitespace token count
    (operators.text.token_count), media spans a fixed ``media_budget``
    (the patch-embedding convention), and spans are chopped into chunks at
    prefix-cost boundaries WITHOUT ever splitting a span:

        chunk_ix(span i) = floor(prefix_cost_before_i / max_tokens)

    so a chunk can overflow by at most one span (the standard
    boundary-by-prefix-sum layout; media spans are atomic). Span ORDER is
    preserved end-to-end — ``kind_seq`` is the chunk's span-kind sequence
    in array (= offset) order, pinning the span-sequence invariant.

    Returns (doc_id, chunk_ix, n_spans, n_media_spans, chunk_cost,
    kind_seq).

    100 TB shape: still ZERO SHUFFLE — a span-table explode+window plan
    would shuffle 10^13 span rows at the 10^12-doc scale, so chunking stays
    inside each doc's own row, and with the default ``impl="native"``
    entirely inside the JVM: span costs, the exclusive prefix sum, chunk
    boundaries, and the per-chunk rollups are all higher-order array
    expressions (transform / slice / aggregate / filter / array_join), so
    no bytes ever cross into Python (plan-pinned Exchange-free AND
    Python-free in pytest). The prefix sum uses slice+aggregate, which is
    O(s^2) in the spans-per-doc count s — the right trade for the
    interleaved shape where s is small and bounded (synth: 1-12); for
    pathological documents with thousands of spans pass ``impl="arrow"``
    to use the linear segmented-cumsum mapInPandas kernel instead (one
    Arrow crossing of the narrow (doc_id, costs, kinds) projection).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from .text import token_count

    if impl not in ("native", "arrow"):
        raise ValueError(f"impl must be 'native' or 'arrow', got {impl!r}")

    spans = F.col(spans_col)
    cap = int(max_tokens)
    costs = F.transform(
        spans,
        lambda s: F.when(
            s["kind"] == "media", F.lit(int(media_budget)).cast("long")
        ).otherwise(token_count(s["text"]).cast("long")),
    )
    kinds = F.transform(spans, lambda s: s["kind"])
    id_type = docs.schema[id_col].dataType
    narrow = docs.select(
        F.col(id_col).alias("doc_id"), costs.alias("__costs"), kinds.alias("__kinds")
    )

    if impl == "native":
        zero = F.lit(0).cast("long")
        c, k = F.col("__costs"), F.col("__kinds")
        n = F.size(c)
        add = lambda a, x: a + x  # noqa: E731

        # exclusive prefix cost before span i (1-based): sum(costs[1..i-1])
        excl = F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.aggregate(F.slice(c, F.lit(1), i - 1), zero, add),
        )
        step = narrow.withColumn(
            "__cix",
            F.when(
                n > 0,
                F.transform(excl, lambda e: F.floor(e / F.lit(cap)).cast("long")),
            ).otherwise(F.expr("cast(array() as array<long>)")),
        )
        cix = F.col("__cix")
        # chunk starts: position 1, plus every position where cix changes
        # (If is lazily evaluated, so element_at(cix, i-1) never sees i=1;
        # the n==0 guard keeps F.sequence from descending to [1, 0])
        starts = F.when(
            F.size(cix) > 0,
            F.filter(
                F.sequence(F.lit(1), F.size(cix)),
                lambda i: F.when(i == 1, F.lit(True)).otherwise(
                    F.element_at(cix, i) != F.element_at(cix, i - 1)
                ),
            ),
        ).otherwise(F.expr("cast(array() as array<int>)"))
        step = step.withColumn("__starts", starts)
        s_arr = F.col("__starts")
        m = F.size(s_arr)
        ends = F.transform(
            F.sequence(F.lit(1), m),
            lambda j: F.when(j < m, F.element_at(s_arr, j + 1) - 1).otherwise(
                F.size(cix)
            ),
        )

        def chunk_struct(s, e):
            seg_k = F.slice(k, s, e - s + 1)
            seg_c = F.slice(c, s, e - s + 1)
            return F.struct(
                F.element_at(cix, s).alias("chunk_ix"),
                (e - s + 1).cast("long").alias("n_spans"),
                F.size(F.filter(seg_k, lambda x: x == "media"))
                .cast("long")
                .alias("n_media_spans"),
                F.aggregate(seg_c, zero, add).alias("chunk_cost"),
                F.array_join(seg_k, ",").alias("kind_seq"),
            )

        chunks = F.when(m > 0, F.zip_with(s_arr, ends, chunk_struct)).otherwise(
            F.expr(
                "cast(array() as array<struct<chunk_ix:bigint,n_spans:bigint,"
                "n_media_spans:bigint,chunk_cost:bigint,kind_seq:string>>)"
            )
        )
        return step.select("doc_id", F.explode(chunks).alias("__ch")).select(
            "doc_id", "__ch.*"
        )

    schema = T.StructType(
        [
            T.StructField("doc_id", id_type),
            T.StructField("chunk_ix", T.LongType()),
            T.StructField("n_spans", T.LongType()),
            T.StructField("n_media_spans", T.LongType()),
            T.StructField("chunk_cost", T.LongType()),
            T.StructField("kind_seq", T.StringType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            nd = len(pdf)
            if nd == 0:
                continue
            cost_lists = pdf["__costs"].tolist()
            kind_lists = pdf["__kinds"].tolist()
            lens = np.fromiter(map(len, cost_lists), dtype=np.int64, count=nd)
            total = int(lens.sum())
            if total == 0:
                continue
            flat_c = np.concatenate(
                [np.asarray(c, dtype=np.int64) for c in cost_lists if len(c)]
            )
            flat_k = np.concatenate(
                [np.asarray(kl, dtype=object) for kl in kind_lists if len(kl)]
            )
            doc_ix = np.repeat(np.arange(nd), lens)
            # segmented exclusive prefix: global cumsum minus each doc's base
            gcum = np.cumsum(flat_c)
            doc_end = np.cumsum(lens)
            start_off = doc_end - lens
            base = np.where(start_off > 0, gcum[np.maximum(start_off, 1) - 1], 0)
            excl = (gcum - flat_c) - base[doc_ix]
            cix = excl // cap
            # contiguous (doc, chunk) runs — cix is monotone within a doc
            new_run = np.r_[
                True, (np.diff(doc_ix) != 0) | (np.diff(cix) != 0)
            ]
            starts = np.flatnonzero(new_run)
            ends = np.r_[starts[1:], total]
            n_spans = ends - starts
            run_cost = (gcum[ends - 1] - base[doc_ix[ends - 1]]) - excl[starts]
            is_media = (flat_k == "media").astype(np.int64)
            mcum = np.cumsum(is_media)
            n_media = mcum[ends - 1] - (mcum[starts] - is_media[starts])
            run_id = np.cumsum(new_run) - 1
            seqs = (
                pd.Series(flat_k)
                .groupby(run_id, sort=True)
                .agg(",".join)
                .to_numpy()
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[doc_ix[starts]],
                    "chunk_ix": cix[starts],
                    "n_spans": n_spans,
                    "n_media_spans": n_media,
                    "chunk_cost": run_cost,
                    "kind_seq": seqs,
                }
            )

    return narrow.mapInPandas(kernel, schema=schema)


def chunk_interleaved_oracle_sql(
    rel: str,
    max_tokens: int = 64,
    media_budget: int = 32,
    id_col: str = "doc_id",
    spans_col: str = "spans",
) -> str:
    """DuckDB mirror of :func:`chunk_interleaved` — identical token_count,
    identical prefix-sum boundary rule, kind_seq ordered by span position."""
    return f"""
WITH s AS (
  SELECT {id_col} AS doc_id,
         generate_subscripts({spans_col}, 1) AS pos,
         unnest({spans_col}) AS sp
  FROM {rel}
),
c AS (
  SELECT doc_id, pos, sp.kind AS kind,
         CAST(CASE WHEN sp.kind = 'media' THEN {int(media_budget)}
                   WHEN len(trim(sp.text)) = 0 THEN 0
                   ELSE len(str_split_regex(trim(lower(sp.text)), '\\s+'))
              END AS BIGINT) AS cost
  FROM s
),
x AS (
  SELECT *, CAST(floor((sum(cost) OVER (PARTITION BY doc_id ORDER BY pos
                                        ROWS UNBOUNDED PRECEDING) - cost)
                 / {float(int(max_tokens))!r}) AS BIGINT) AS chunk_ix
  FROM c
)
SELECT doc_id, chunk_ix,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS BIGINT) AS n_media_spans,
       CAST(sum(cost) AS BIGINT) AS chunk_cost,
       string_agg(kind, ',' ORDER BY pos) AS kind_seq
FROM x
GROUP BY doc_id, chunk_ix
"""


def pack_interleaved(
    docs: DataFrame,
    capacity: int,
    media_budget: int = 32,
    n_shards: int = 32,
    id_col: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """Multimodal concat-then-chop packing over the INTERLEAVED spans
    shape: whole documents are laid end-to-end (deterministic md5-shard +
    doc_id order, the :func:`pack_sequences` layout) and chopped into
    fixed-``capacity`` context windows, where a document's cost is the sum
    of its span costs — whitespace tokens for text/geo spans, a fixed
    ``media_budget`` for media spans (the chunk_interleaved cost model).
    Documents may straddle window boundaries; spans are never reordered —
    ``kind_seq`` carries the doc's span-kind sequence in array (= offset)
    order, pinning the span-sequence invariant through the packing.

    Per doc: (doc_id, shard, n_cost, n_spans, n_media_spans, kind_seq,
    start_seq, start_off, end_seq) — shard-local window ids; ``end_seq >
    start_seq`` means the doc straddles; zero-cost docs occupy no space
    (end_seq = the window before the cursor, degenerate but
    deterministic, matching pack_sequences).

    100 TB shape: span costs and the kind sequence evaluate natively
    JVM-side inside the doc's own row (zero Python, text never leaves the
    JVM); the only shuffle carries (doc_id, shard, cost) triples — never
    span text or media bytes. Shards pack independently via the md5 draw
    (pure row function — stable under partitioning, retries, resume), so
    parallelism = n_shards regardless of corpus size.
    """
    from .text import token_count

    spans = F.col(spans_col)
    costs = F.transform(
        spans,
        lambda s: F.when(
            s["kind"] == "media", F.lit(int(media_budget)).cast("long")
        ).otherwise(token_count(s["text"]).cast("long")),
    )
    kinds = F.transform(spans, lambda s: s["kind"])
    zero = F.lit(0).cast("long")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        _shard(id_col, n_shards).alias("shard"),
        F.aggregate(costs, zero, lambda a, x: a + x).alias("n_cost"),
        F.size(spans).cast("long").alias("n_spans"),
        F.size(F.filter(kinds, lambda x: x == "media"))
        .cast("long")
        .alias("n_media_spans"),
        F.array_join(kinds, ",").alias("kind_seq"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.withColumn("__cum", F.sum("n_cost").over(w))
    start = F.col("__cum") - F.col("n_cost")
    cap = F.lit(int(capacity))
    return cum.select(
        "doc_id", "shard", "n_cost", "n_spans", "n_media_spans", "kind_seq",
        F.floor(start / cap).cast("long").alias("start_seq"),
        F.pmod(start, cap).cast("long").alias("start_off"),
        F.floor((F.col("__cum") - 1) / cap).cast("long").alias("end_seq"),
    )


def pack_interleaved_oracle_sql(
    rel: str,
    capacity: int,
    media_budget: int = 32,
    n_shards: int = 32,
    id_col: str = "doc_id",
    spans_col: str = "spans",
) -> str:
    """DuckDB mirror of :func:`pack_interleaved` — identical md5 shard
    draw, identical span cost model, identical running-sum window."""
    cap = int(capacity)
    cost_lambda = (
        f"sp -> CASE WHEN sp.kind = 'media' THEN {int(media_budget)} "
        "WHEN len(trim(sp.text)) = 0 THEN 0 "
        "ELSE len(str_split_regex(trim(lower(sp.text)), '\\s+')) END"
    )
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id,
         CAST(CAST('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 8) AS BIGINT)
              % {int(n_shards)} AS INT) AS shard,
         CAST(list_aggregate(list_transform({spans_col}, {cost_lambda}), 'sum')
              AS BIGINT) AS n_cost,
         CAST(len({spans_col}) AS BIGINT) AS n_spans,
         CAST(len(list_filter({spans_col}, sp -> sp.kind = 'media'))
              AS BIGINT) AS n_media_spans,
         array_to_string(list_transform({spans_col}, sp -> sp.kind), ',')
           AS kind_seq
  FROM {rel}
),
cum AS (
  SELECT *, sum(n_cost) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS c
  FROM base
)
SELECT doc_id, shard, n_cost, n_spans, n_media_spans, kind_seq,
       CAST(floor((c - n_cost) / {float(cap)!r}) AS BIGINT) AS start_seq,
       CAST((c - n_cost) % {cap} AS BIGINT) AS start_off,
       CAST(floor((c - 1) / {float(cap)!r}) AS BIGINT) AS end_seq
FROM cum
"""


def strip_boilerplate(
    docs: DataFrame,
    min_doc_freq: int = 3,
    spans_col: str = "spans",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-frequency boilerplate removal on the interleaved spans shape:
    a text span whose exact text appears in >= ``min_doc_freq`` DISTINCT
    documents (headers, footers, nav chrome, license blurbs) is struck
    from every document; surviving spans keep their relative order and are
    re-bound to dense offsets -> one flat row per surviving span (doc_id,
    offset, kind, text, media_ref), the same rewrite contract as
    ``multimodal.rewrite_dedup_media``. Geo and media spans never qualify.
    Documents whose every span is boilerplate disappear from the output.

    100 TB shape: the doc-frequency aggregation shuffles md5(text) (16
    bytes), never the text itself — distinct (hash, doc) pairs partially
    aggregate map-side, then one groupBy(hash) count. The boilerplate set
    after the >= min_doc_freq filter is tiny by construction next to the
    corpus and joins back broadcast (size-gated; past the gate a plain
    equi-join with AQE skew split — a hot boilerplate hash IS a skew key).
    The rewrite is the shared zero-window strike path
    (``rewrite_without``): shuffle ∝ struck spans, text spans of clean
    documents never move.
    """
    from .multimodal import rewrite_without

    ts = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(spans_col).alias("s"))
        .filter(F.col("s.kind") == "text")
        .select(
            "doc_id",
            F.col("s.offset").alias("offset"),
            F.md5(F.col("s.text")).alias("h"),
        )
    )
    # cached before the probe so the doc-frequency aggregation runs once
    # (probe materializes, join reuses — scrub_contaminated rationale);
    # handle rides the result for util.release()
    from .util import track_persisted

    boiler = (
        ts.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .count()
        .filter(F.col("count") >= int(min_doc_freq))
        .select("h")
        .cache()
    )
    handle = boiler
    if broadcastable(boiler, row_limit=5_000_000):
        boiler = F.broadcast(boiler)
    strikes = ts.join(boiler, "h").select("doc_id", "offset")
    return track_persisted(rewrite_without(docs, strikes), handle)


def scrub_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    spans_col: str = "spans",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    broadcast_limit: int = 1_000_000,
) -> DataFrame:
    """SPAN-level decontamination on the interleaved spans shape: a TEXT
    span sharing any word ``n``-gram with the benchmark table is struck
    from its document; survivors keep their relative order re-bound to
    dense offsets (the shared ``rewrite_without`` contract -> one flat row
    per surviving span). Where :func:`decontaminate` FLAGS whole documents,
    this REMOVES the contaminated passages and keeps the rest — the
    recall-preserving form of benchmark decontamination. Geo and media
    spans never qualify.

    100 TB shape: the benchmark shingle set is distinct-reduced and
    size-gated broadcast (the benchmark is eval-set-sized by definition);
    corpus span shingles build behind the one-element explode barrier
    (same codegen guard as decontaminate) and join without ever shuffling
    span text; the rewrite is the zero-window strike path — shuffle ∝
    struck spans."""
    from .multimodal import rewrite_without
    from .util import track_persisted

    # cache the benchmark shingle set BEFORE the broadcastable probe: the
    # probe's count+sample materializes the cache and the join reuses it
    # instead of re-shingling the benchmark per action (a modest win here —
    # the corpus-side span shingling dominates this operator; the same
    # pattern halves strip_boilerplate, whose strike set IS the expensive
    # side). Handle rides the result for util.release().
    # grams keep the per-span array_distinct here (unlike minhash): on a
    # repetitive corpus in-span gram duplicates are common and most grams
    # HIT the benchmark set, so deduping before the join prunes real
    # strike fan-out (measured: distinct=False regressed 3.0 s -> 4.2 s)
    bench_sh = (
        benchmark.select(F.explode(shingle_structs_col(bench_text_col, n)).alias("__h"))
        .distinct()
        .cache()
    )
    handle = bench_sh
    if broadcastable(bench_sh, broadcast_limit):
        bench_sh = F.broadcast(bench_sh)
    ts = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(spans_col).alias("s"))
        .filter(F.col("s.kind") == "text")
        .select("doc_id", F.col("s.offset").alias("offset"), F.col("s.text").alias("__t"))
    )
    span_arr = ts.select(
        "doc_id", "offset",
        F.explode(F.array(F.struct(shingle_structs_col("__t", n).alias("arr")))).alias("__b"),
    ).select("doc_id", "offset", F.col("__b.arr").alias("__arr"))
    span_sh = span_arr.select("doc_id", "offset", F.explode("__arr").alias("__h"))
    strikes = span_sh.join(bench_sh, "__h").select("doc_id", "offset").distinct()
    return track_persisted(rewrite_without(docs, strikes), handle)


def scrub_contaminated_oracle_sql(rel: str, bench_filter: str, n: int = 3) -> str:
    """DuckDB mirror of :func:`scrub_contaminated`: benchmark = the text
    spans of `rel` rows matching ``bench_filter`` (a SQL predicate over
    doc_id), corpus = the complement; string-joined grams (equality class
    identical to the engine's struct grams), strike anti-join, row_number
    re-offset."""
    grams = (
        "list_distinct(list_transform("
        f"range(0, greatest(len(toks) - {n}, 0) + 1), "
        f"i -> array_to_string(list_slice(toks, i + 1, i + {n}), ' ')))"
    )
    return f"""
WITH ts AS (
  SELECT doc_id, sp."offset" AS "offset", sp."text" AS txt
  FROM (SELECT doc_id, unnest(spans) AS sp FROM {rel})
  WHERE sp.kind = 'text'
),
bsh AS (
  SELECT DISTINCT unnest({grams}) AS g
  FROM (SELECT string_split_regex(trim(txt), '\\s+') AS toks
        FROM ts WHERE {bench_filter})
),
csh AS (
  SELECT doc_id, "offset", unnest({grams}) AS g
  FROM (SELECT doc_id, "offset", string_split_regex(trim(txt), '\\s+') AS toks
        FROM ts WHERE NOT ({bench_filter}))
),
rm AS (SELECT DISTINCT c.doc_id, c."offset" FROM csh c JOIN bsh b USING (g)),
flat AS (
  SELECT doc_id, sp.kind AS kind, sp."text" AS "text",
         sp.media_ref AS media_ref, sp."offset" AS old_off
  FROM (SELECT doc_id, unnest(spans) AS sp FROM {rel})
  WHERE NOT ({bench_filter})
),
keep AS (
  SELECT f.* FROM flat f
  WHERE NOT EXISTS (
    SELECT 1 FROM rm WHERE rm.doc_id = f.doc_id AND rm."offset" = f.old_off
  )
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY old_off) - 1 AS INT) AS "offset",
       kind, "text", media_ref
FROM keep
"""


def strip_boilerplate_oracle_sql(rel: str, min_doc_freq: int = 3) -> str:
    """DuckDB mirror of :func:`strip_boilerplate` — doc-frequency over the
    exact text (md5 grouping in the engine is a pure re-keying of the same
    equality classes), anti-join strike, row_number re-offset."""
    return f"""
WITH ts AS (
  SELECT doc_id, sp."offset" AS "offset", sp."text" AS txt
  FROM (SELECT doc_id, unnest(spans) AS sp FROM {rel})
  WHERE sp.kind = 'text'
),
boiler AS (
  SELECT txt FROM (
    SELECT txt, COUNT(DISTINCT doc_id) AS df FROM ts GROUP BY txt
  ) WHERE df >= {int(min_doc_freq)}
),
rm AS (SELECT doc_id, "offset" FROM ts JOIN boiler USING (txt)),
flat AS (
  SELECT doc_id, sp.kind AS kind, sp."text" AS "text",
         sp.media_ref AS media_ref, sp."offset" AS old_off
  FROM (SELECT doc_id, unnest(spans) AS sp FROM {rel})
),
keep AS (
  SELECT f.* FROM flat f
  WHERE NOT EXISTS (
    SELECT 1 FROM rm WHERE rm.doc_id = f.doc_id AND rm."offset" = f.old_off
  )
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY old_off) - 1 AS INT) AS "offset",
       kind, "text", media_ref
FROM keep
"""
