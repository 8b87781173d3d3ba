"""End-to-end corpus curation recipes — the composition story.

A user of the reference gets single operators; a training-data pipeline
needs them CHAINED, and the chain must stay deterministic under
repartitioning, retries and resume. ``curate_corpus`` is the canonical
recipe, every stage a pure function of row content:

    exact dedup (keep min doc_id per md5(text))
    -> quality gate (quality_score >= threshold, token-count band)
    -> deterministic stratified split, keep one split
    -> overlapping token-window chunking

All stages compose into ONE lazy plan (two shuffles total: the dedup
window and nothing else — every other stage is narrow), so Catalyst
optimizes across stage boundaries; nothing materializes in between. The
driver gate `curated_chunks` runs the whole chain against a DuckDB oracle
that composes the same four formulas in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .operators import curation
from .operators.text import quality_score, token_count


def _keep_min_per_key(docs: DataFrame, key, id_col: str, gate=None) -> DataFrame:
    """Content-identity dedup (keep the min id per identity key), plus an
    optional content GATE, WITHOUT shuffling the payload: the former
    ``min(id) over (partition by key)`` window moved every document's full
    text through the exchange just to compare ids. This form aggregates
    (key, gate, id) with map-side combine — hashes, booleans and ids are
    all that cross the wire — and re-attaches the keeper set by id
    (size-gated broadcast; past the gate the semi join hash-partitions
    ids, still never text).

    ``gate`` must be a pure function of the content ``key`` hashes (true
    for any text-only predicate under an md5(text)-style key), so it is
    constant within each key group and can ride the aggregation as a
    grouping key. Evaluating it HERE and not as a filter over the join
    output matters: Catalyst pushes filters (but not projections or
    aggregates) below both the semi join and the spread repartition, which
    re-serializes the whole regex/tokenize gate onto a single-split
    scan's one core (measured 0.9 s -> 2.9 s on the 10x corpus); inside
    the aggregation child it evaluates post-spread, in parallel, exactly
    once per doc. Identical rows either way: gate-then-dedup ==
    dedup-then-gate when the gate is constant per group."""
    from .operators.util import _spread
    from .operators.util import broadcastable

    docs = _spread(docs)
    g = gate if gate is not None else F.lit(True)
    # the gate rides INSIDE the min() aggregate (min of when(gate, id)) and
    # the survivor filter tests the AGGREGATE RESULT for null: a plain
    # where(gate-as-grouping-key) is inferred through the aggregate and
    # pushed below the spread exchange onto the scan (re-serializing the
    # regex gate onto one core AND evaluating it twice); a filter on an
    # aggregate output cannot be pushed below the aggregate, so the gate
    # evaluates exactly once, post-spread, in the partial-agg stage
    keep_ids = (
        docs.select(key.alias("__k"), F.when(g, F.col(id_col)).alias("__gid"))
        .groupBy("__k")
        .agg(F.min("__gid").alias(id_col))
        .where(F.col(id_col).isNotNull())
        .select(id_col)
    )
    if broadcastable(keep_ids, 2_000_000):
        keep_ids = F.broadcast(keep_ids)
    return docs.join(keep_ids, id_col, "left_semi")


def curate_corpus(
    docs: DataFrame,
    quality_min: float = 0.45,
    min_tokens: int = 5,
    max_doc_tokens: int = 100_000,
    split_fracs: dict[str, float] | None = None,
    keep_split: str = "train",
    chunk_tokens: int = 32,
    chunk_overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
) -> DataFrame:
    """documents -> training chunks (doc_id, chunk_ix, start_tok,
    n_chunk_tokens, chunk_text). See module docstring."""
    fracs = split_fracs if split_fracs is not None else {"train": 0.9, "val": 0.1}
    t = F.col(text_col)
    gated = _keep_min_per_key(
        docs,
        F.md5(t),
        id_col,
        gate=(
            (quality_score(t) >= quality_min)
            & (token_count(t) >= min_tokens)
            & (token_count(t) <= max_doc_tokens)
        ),
    )
    split = curation.stratified_split(gated, fracs, group_col=group_col, id_col=id_col)
    kept = split.filter(F.col("split") == keep_split).drop("split")
    return curation.chunk_documents(
        kept, max_tokens=chunk_tokens, overlap=chunk_overlap,
        text_col=text_col, id_col=id_col,
    )


def curate_interleaved(
    docs: DataFrame,
    quality_min: float = 0.45,
    min_tokens: int = 5,
    capacity: int = 256,
    media_budget: int = 32,
) -> DataFrame:
    """The end-to-end INTERLEAVED curation recipe: spans-shape documents ->
    packed multimodal context windows.

        content-identity dedup (keep min doc_id per md5 of
            text-spans + kind sequence + media refs)
        -> quality gate on the concatenated text spans
        -> pack_interleaved (concat-then-chop windows)

    The identity key hashes all three components joined by the unit
    separator (chr 31 — cannot appear in the synth vocabulary), so two
    documents that share prose but differ in media or span order are NOT
    merged — the span-sequence invariant (kind, text, media_ref, order)
    IS the document identity. Every stage is a pure function of row
    content (resume/retry stable); the whole chain is ONE lazy plan with
    two shuffles: the dedup window and pack's (doc_id, shard, cost)
    triples. Span text and media refs never shuffle."""
    txt = F.coalesce(
        F.array_join(
            F.transform(
                F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text")),
                lambda s: s["text"],
            ),
            " ",
        ),
        F.lit(""),
    )
    kindseq = F.array_join(F.transform(F.col("spans"), lambda s: s["kind"]), ",")
    refs = F.coalesce(
        F.array_join(
            F.transform(
                F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("media")),
                lambda s: s["media_ref"],
            ),
            ",",
        ),
        F.lit(""),
    )
    key = F.md5(F.concat_ws("\u001f", txt, kindseq, refs))
    gated = _keep_min_per_key(
        docs,
        key,
        "doc_id",
        gate=(
            (quality_score(txt) >= quality_min) & (token_count(txt) >= min_tokens)
        ),
    )
    return curation.pack_interleaved(
        gated, capacity=capacity, media_budget=media_budget
    )
