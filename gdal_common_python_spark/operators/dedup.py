"""Deduplication suite for large-scale document corpora — all JVM-side.

Beyond the reference's surface (it has no text ops), these are the standard
training-data pipeline operators, built to stay inside whole-stage codegen:

- exact: hash-groupBy on md5(text);
- MinHash: k signatures = min over shingles of md5(seed || shingle) — md5 is
  identical in Spark and DuckDB, so the driver oracle reproduces signatures
  bit-for-bit with portable SQL (no engine-specific hash);
- LSH banding: band key = md5 of a signature slice; candidate pairs share a
  band bucket (the classic shingle -> minhash -> band -> bucket-join);
- SimHash: 60-bit majority-vote fingerprint from md5(token) bits;
- n-gram Jaccard: exact verification on candidate pairs via shingle-set
  intersection/union sizes.

At 100 TB these shapes hold: everything is a groupBy/join on a hash key
(uniform by construction — no skew), no Python in the hot path.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from .util import _spread, track_persisted


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", min_count: int = 2
) -> DataFrame:
    """Exact dedup groups: (text_hash, n_docs, keep_id). min_count=2 keeps
    only true duplicate groups; 1 profiles every group."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") >= min_count)
    )


def ngram_structs_col(toks, n: int):
    """Word n-grams WITH duplicates over a token-array column, as
    array<struct<g0..g{n-1}>> — gram i zips the token array against its own
    n-1 shifted slices. The single source of the n-gram formula — the DuckDB
    oracles mirror its string form (`ngram_string` of each struct), so every
    consumer (shingles, repetition stats, decontamination) must share it.

    Why structs and not strings: the natural string form
    (`transform(sequence(...), i -> concat_ws(' ', slice(toks, i+1, n)))`)
    evaluates the lambda INTERPRETED per element — measured 8x slower than
    this zip form on the sf0.1 corpus (4.10 s vs 0.49 s for the exploded
    3-gram stream), and n-gram construction is the dominant cost of every
    shingle consumer at corpus scale. arrays_zip/slice are plain expressions
    (no lambda), and the string only ever materializes AFTER the explode,
    one codegen'd concat_ws per row.

    Semantics (identical to the lambda form, equality-tested in
    tests/test_pipeline_ops.py): docs with >= n tokens yield size-n grams;
    shorter docs yield ONE gram padded with NULL fields, and concat_ws
    skips nulls, reproducing the shortened final gram ("a b" for a 2-token
    doc at n=3). Struct equality treats the null padding consistently, so
    distinct/intersect/join on structs == distinct/intersect/join on the
    joined strings (tokens are split on whitespace and can't contain the
    separator)."""
    m = F.greatest(F.size(toks) - n + 1, F.lit(1))
    return F.arrays_zip(*[F.slice(toks, i + 1, m).alias(f"g{i}") for i in range(n)])


def ngram_string(struct_col, n: int):
    """Materialize the gram text of one (exploded) n-gram struct — a plain
    codegen concat_ws; null padding of short docs drops out."""
    c = F.col(struct_col) if isinstance(struct_col, str) else struct_col
    return F.concat_ws(" ", *[c[f"g{i}"] for i in range(n)])


def shingle_structs_col(text_col: str = "text", n: int = 3, distinct: bool = True):
    """Word n-gram shingles as a DISTINCT array of n-gram structs.

    ``distinct=False`` skips the per-doc ``array_distinct`` — on struct
    arrays that is a pairwise-equality pass (no hash path), and it buys
    nothing for consumers whose downstream already has set semantics (a
    ``.distinct()`` after the explode, or a join feeding a distinct) — the
    corpus_overlap finding, applied to the gram consumers. Keep the
    default for anything that COUNTS per-doc distinct grams
    (``decontaminate``'s n_hits/n_shingles contract)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = ngram_structs_col(toks, n)
    return F.array_distinct(grams) if distinct else grams


def minhash_docs(docs: DataFrame, k: int = 16, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, sig): array of k min-hash values (strings) over the shingle
    set. Component 4i+r is the min over shingles of the r-th 8-hex slice of
    md5(i || ':' || shingle) — one md5 yields four independent 32-bit
    component hashes, so k=16 costs 4 md5 passes instead of 16 (the md5 is
    the dominant cost at corpus scale). The DuckDB oracle mirrors the same
    slicing, so signatures stay bit-identical.

    Shape: explode shingles -> md5 as plain columns -> groupBy(doc_id) with
    k min() aggregates. Everything stays inside whole-stage codegen (HOF
    lambdas over arrays are interpreted per element — measured ~10x slower
    for the same md5 count). The min() runs on the 32-bit INTEGER value of
    each 8-hex component (``conv(hex, 16, 10)``): fixed-width lowercase hex
    sorts identically as string or number, but min(long) keeps the
    aggregate inside codegen HashAggregate with map-side combine, where
    min(string) forces a SortAggregate that sorts every exploded shingle
    row (the profiled cost of every minhash consumer); the post-aggregate
    projection converts the k per-DOC minima back to the identical
    lowercase hex strings, so ``sig`` is byte-for-byte unchanged."""
    assert k % 4 == 0
    # one-element explode barrier (same trick as curation.decontaminate):
    # without it, constraint propagation re-inlines the whole
    # array_distinct(arrays_zip(...)) shingle pipeline PER EXPLODED ROW
    # (measured 4.3 s vs 0.5 s for the exploded stream at the 10x bench
    # scale); below a Generate the array is a bound attribute, computed
    # exactly once per doc
    # NOTE: grams are exploded WITH duplicates — min() over a multiset
    # equals min() over its distinct set, so the per-doc array_distinct the
    # shingle form pays (a pairwise struct-equality pass) buys nothing here
    ex = (
        _spread(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.array(
                    F.struct(
                        ngram_structs_col(
                            F.split(F.trim(F.col(text_col)), r"\s+"), n
                        ).alias("arr")
                    )
                )
            ).alias("__b"),
        )
        .select("doc_id", F.col("__b.arr").alias("__sha"))
        .filter(F.size("__sha") > 0)
        .select("doc_id", F.explode("__sha").alias("__s"))
        .select("doc_id", ngram_string("__s", n).alias("__sh"))
    )
    hashed = ex.select(
        "doc_id",
        *[F.md5(F.concat(F.lit(f"{i}:"), F.col("__sh"))).alias(f"__h{i}") for i in range(k // 4)],
    )
    aggs = [
        F.min(
            F.conv(F.substring(F.col(f"__h{i}"), 1 + 8 * r, 8), 16, 10).cast("long")
        ).alias(f"__c{4 * i + r}")
        for i in range(k // 4)
        for r in range(4)
    ]
    back = [
        F.lpad(F.lower(F.hex(F.col(f"__c{j}"))), 8, "0") for j in range(k)
    ]
    return (
        hashed.groupBy("doc_id")
        .agg(*aggs)
        .select("doc_id", F.array(*back).alias("sig"))
    )


def _banded_sig(signed: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc_id, sig, band, bkey): one row per doc per band, band key =
    md5 of the signature slice."""
    return signed.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(F.concat_ws("|", F.slice("sig", b * rows + 1, rows))).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))


def _lower_band_agrees(rows: int, bands: int):
    """Report-once predicate WITHOUT a dedup shuffle: a pair matching
    several bands is kept only at its MINIMUM agreeing band, decided in
    codegen from the two signatures already on the row (slice equality per
    lower band)."""

    def _band_agree(k: int):
        return F.slice("a_sig", k * rows + 1, rows) == F.slice("b_sig", k * rows + 1, rows)

    return reduce(
        lambda acc, k: acc | ((F.col("band") > k) & _band_agree(k)),
        range(bands - 1),
        F.lit(False),
    )


def _est_jaccard(k: int = 16):
    """Fraction of equal minhash components. Unrolled element comparisons
    (the signature length is fixed and known at plan-build time) — plain
    codegen instead of the interpreted zip_with+filter lambda pair that
    ran per candidate row."""
    matches = reduce(
        lambda acc, j: acc + (F.col("a_sig")[j] == F.col("b_sig")[j]).cast("int"),
        range(1, k),
        (F.col("a_sig")[0] == F.col("b_sig")[0]).cast("int"),
    )
    return matches / F.lit(k).cast("double")


def lsh_candidate_pairs(signed: DataFrame, bands: int = 4, rows: int = 4) -> DataFrame:
    """(a_id, b_id, est_jaccard) for pairs sharing >=1 LSH band bucket.
    est_jaccard = fraction of equal minhash components."""
    banded = _banded_sig(signed, bands, rows)
    # the self-join reads this twice — cache so the shingle+md5 pipeline
    # runs once (cluster-side you would persist the signatures table). The
    # handle rides the result: long-lived pipelines call util.release(out)
    # after consuming it.
    banded = banded.cache()
    a = banded.select(F.col("doc_id").alias("a_id"), F.col("sig").alias("a_sig"), "band", "bkey")
    b = banded.select(F.col("doc_id").alias("b_id"), F.col("sig").alias("b_sig"), "band", "bkey")
    pairs = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(~_lower_band_agrees(rows, bands))
    )
    return track_persisted(
        pairs.select("a_id", "b_id", _est_jaccard(bands * rows).alias("est_jaccard")), banded
    )


def minhash_similarity_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.0,
    k: int = 16,
    n: int = 3,
    bands: int = 4,
    rows: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_limit: int = 1_000_000,
) -> DataFrame:
    """Cross-corpus near-match join — the fuzzy complement to exact n-gram
    decontamination: (a_id from left, b_id from right, est_jaccard) for
    document pairs whose minhash signatures agree on >=1 LSH band and whose
    estimated Jaccard >= threshold. Train/eval overlap estimation at corpus
    scale runs THIS, not an all-pairs comparison.

    Scale shape: band keys bound the candidate set exactly as in the
    self-join case; each side is read ONCE (no cache needed — unlike
    lsh_candidate_pairs there is no self-join), the smaller right side
    broadcasts under the row gate, and the min-agreeing-band predicate
    reports each pair once without a dedup shuffle.
    """
    a = _banded_sig(minhash_docs(left, k=k, n=n, text_col=text_col, id_col=id_col), bands, rows)
    b = _banded_sig(minhash_docs(right, k=k, n=n, text_col=text_col, id_col=id_col), bands, rows)
    a = a.select(F.col("doc_id").alias("a_id"), F.col("sig").alias("a_sig"), "band", "bkey")
    b = b.select(F.col("doc_id").alias("b_id"), F.col("sig").alias("b_sig"), "band", "bkey")
    from .util import broadcastable

    if broadcastable(b, broadcast_limit):
        b = F.broadcast(b)
    pairs = a.join(b, ["band", "bkey"]).filter(~_lower_band_agrees(rows, bands))
    out = pairs.select("a_id", "b_id", _est_jaccard(k).alias("est_jaccard"))
    if threshold > 0.0:
        out = out.filter(F.col("est_jaccard") >= threshold)
    return out


def ngram_jaccard_pairs(
    docs: DataFrame, pairs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact word-n-gram Jaccard for given (a_id, b_id) pairs.

    Intersection/union sizes run directly on the n-gram STRUCT arrays
    (struct equality == joined-string equality, see ngram_structs_col) —
    the gram text never materializes."""
    sh = docs.select(F.col(id_col).alias("doc_id"), shingle_structs_col(text_col, n).alias("sh"))
    j = (
        pairs.join(sh.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sh", "a_sh"), "a_id")
        .join(sh.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sh", "b_sh"), "b_id")
    )
    inter = F.size(F.array_intersect("a_sh", "b_sh")).cast("double")
    union = F.size(F.array_union("a_sh", "b_sh")).cast("double")
    return j.select("a_id", "b_id", (inter / union).alias("jaccard"))


def near_dup_clusters(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 16,
    n: int = 3,
    bands: int = 4,
    rows: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_iters: int = 50,
) -> DataFrame:
    """Corpus-level near-duplicate CLUSTERING — the step after pair
    generation that a real training-data pipeline runs: transitive closure
    over the LSH near-dup pair graph, one canonical document per cluster.
    Returns one row per input doc: (doc_id, cluster_id, is_canonical) with
    cluster_id = min doc_id reachable through pairs whose minhash-estimated
    Jaccard >= threshold (singletons cluster as themselves, canonical).

    Keep `is_canonical` rows and the corpus is near-dup-free with the
    lowest-id representative retained — deterministic under any
    partitioning, so reruns and resumes pick the same survivors.

    Scale shape: LSH banding bounds the pair graph (never all-pairs);
    components run in graph.min_label_components (O(log diameter) rounds,
    checkpointed, O(1)-state convergence probe). Near-dup clusters are
    small and dense in practice, so the round count stays at 2-3; a
    pathological duplicate-chain still converges in log rounds via the
    path-halving hop.
    """
    from .graph import min_label_components

    signed = minhash_docs(docs, k=k, n=n, text_col=text_col, id_col=id_col)
    cand = lsh_candidate_pairs(signed, bands=bands, rows=rows)
    # .filter() returns a fresh DataFrame without cand's release handles —
    # keep cand in scope so its banded cache is forwarded below
    pairs = cand.filter(F.col("est_jaccard") >= threshold)
    edges = pairs.select(F.col("a_id").alias("l_id"), F.col("b_id").alias("r_id"))
    labels = min_label_components(
        docs.sparkSession,
        docs.select(F.col(id_col).alias("doc_id")),
        edges,
        id_col="doc_id",
        max_iters=max_iters,
    )
    out = labels.select(
        "doc_id",
        F.col("component").alias("cluster_id"),
        (F.col("component") == F.col("doc_id")).alias("is_canonical"),
    )
    out._gcp_cc_rounds = getattr(labels, "_gcp_cc_rounds", None)
    # carry the components' + banding's release handles forward
    return track_persisted(
        out,
        *getattr(labels, "_gcp_persisted_handles", ()),
        *getattr(cand, "_gcp_persisted_handles", ()),
    )


def simhash_candidate_pairs(
    signed: DataFrame,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """(a_id, b_id, hamming) near-dup pairs from SimHash fingerprints.

    Banding: the fingerprint splits into `bands` equal bit-slices; any pair
    within `max_hamming < bands` Hamming distance must agree on at least one
    whole band (pigeonhole), so candidates = pairs sharing a band value,
    verified with an exact popcount(xor). All integer codegen — shift/mod
    banding, bitwiseXOR + bit_count verify; shuffle keys are uniform band
    hashes, so the shape holds at corpus scale like the MinHash LSH path."""
    assert bits % bands == 0
    if max_hamming >= bands:
        # pigeonhole needs strictly fewer flipped bits than bands, else a
        # true near-dup pair can differ in every band and silently drop
        raise ValueError(
            f"simhash banding requires max_hamming < bands for completeness "
            f"(got max_hamming={max_hamming}, bands={bands})"
        )
    bw = bits // bands
    banded = signed.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        # mask, not %: shiftright sign-extends and Spark's %
                        # follows the dividend's sign, which would split a
                        # shared band across sign boundaries for 64-bit
                        # fingerprints with the top bit set
                        F.shiftright("simhash", b * bw)
                        .bitwiseAND(F.lit((1 << bw) - 1))
                        .alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    # barrier: without it the self-join re-evaluates the full fingerprint
    # HOF tree (md5 x 32 bit-votes per token) on BOTH sides per candidate
    # pair — measured 14.5s -> sub-second at sf0.1. The handle rides the
    # result (util.release(out) frees it); pipelines invoking this
    # repeatedly should materialize the fingerprint table themselves and
    # manage persistence, as with the MinHash signatures
    banded = banded.cache()
    a = banded.select(F.col("doc_id").alias("a_id"), F.col("simhash").alias("a_sig"), "band", "bkey")
    b = banded.select(F.col("doc_id").alias("b_id"), F.col("simhash").alias("b_sig"), "band", "bkey")
    # report-once WITHOUT a dedup shuffle: keep the pair only at its MINIMUM
    # agreeing band — lower-band agreement is plain shift/mask equality on
    # the two fingerprints already on the row, so a codegen filter replaces
    # the dropDuplicates aggregation
    def _band_agree(k: int):
        m = F.lit((1 << bw) - 1)
        return (
            F.shiftright("a_sig", k * bw).bitwiseAND(m)
            == F.shiftright("b_sig", k * bw).bitwiseAND(m)
        )

    lower_agrees = reduce(
        lambda acc, k: acc | ((F.col("band") > k) & _band_agree(k)),
        range(bands - 1),
        F.lit(False),
    )
    pairs = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(~lower_agrees)
    )
    ham = F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig")))
    return track_persisted(
        pairs.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming"),
        banded,
    )


def simhash_docs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    spread: bool = True,
) -> DataFrame:
    """SimHash fingerprint: per token, md5-derived bit vector; per document,
    the sign of the per-bit sum. Expressed with native HOFs (one aggregate
    over the token array — no explode blow-up).

    ``spread`` repartitions an under-partitioned source so the md5-heavy
    map fans out across cores — pass True when the fingerprints feed a
    self-join/cache barrier (the banding pipeline: measured 3.3x), False
    for a single-pass profile where the added shuffle would dominate the
    wall (measured 2.3x overhead at sf0.1's single-split input)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # per-token bit contribution at bit b: nibble arithmetic on md5 hex so
    # the DuckDB oracle can reproduce it with the same strpos/floor formula
    def tok_bits(t):
        h = F.md5(t)

        def bit(b):
            nib = F.conv(F.substr(h, (F.floor(b / 4) + 1).cast("int"), F.lit(1)), 16, 10).cast("int")
            return F.floor(nib / F.pow(F.lit(2.0), F.lit(3) - (b % 4))) % 2

        return F.transform(
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda b: F.when(bit(b) == 1, F.lit(1)).otherwise(F.lit(-1)),
        )

    if spread:
        docs = _spread(docs)  # small parquet arrives as 1 split; the
        # md5-heavy fingerprint map work must fan out across cores
    votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), bits),
        lambda acc, t: F.zip_with(acc, tok_bits(t), lambda a, v: a + v),
    )
    sim = F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, b: F.when(v > 0, F.pow(F.lit(2.0), b.cast("double")).cast("long")).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.select(F.col(id_col).alias("doc_id"), sim.alias("simhash"))


def dedup_segments(
    docs: DataFrame,
    window: int = 8,
    max_count: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Line/segment-level corpus dedup (the C4/RefinedWeb boilerplate pass):
    split each document into fixed ``window``-token segments, count each
    segment's corpus frequency, and strike EVERY occurrence of segments
    appearing more than ``max_count`` times; rebuild the cleaned text from
    the surviving segments in order.

    Returns (doc_id, clean_text, n_segments, n_removed).

    100 TB shape — the document text shuffles ZERO times:
    - the frequency count groups on ``xxhash64(segment)`` (64-bit, uniform
      keys, map-side combined) — shuffle carries hashes + counts only;
    - the strike-list join ships (doc_id, pos, hash) rows, never text;
    - the rebuild recomputes segments natively on the unshuffled doc side
      and drops struck positions with a single filter HOF.
    The DuckDB oracle groups by the exact segment text; the two agree
    absent a 64-bit xxhash collision (p ~ n^2 / 2^65 — at gate scale
    ~1e-11, and any collision would only ever over-strike).
    """
    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
    toks = F.split(F.col("__text"), " ")
    nseg = F.ceil(F.size(toks) / F.lit(float(window))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.array_join(F.slice(toks, i * window + 1, window), " "),
    )
    seg_rows = base.select(
        "doc_id", F.posexplode(segs.alias("s")).alias("pos", "seg")
    ).select("doc_id", "pos", F.xxhash64("seg").alias("h"))
    dup = (
        seg_rows.groupBy("h")
        .agg(F.count("*").alias("__c"))
        .where(F.col("__c") > max_count)
        .select("h")
    )
    struck = (
        seg_rows.join(dup, "h")
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("__rm"))
    )
    out = base.join(struck, "doc_id", "left")
    rm = F.coalesce(F.col("__rm"), F.array().cast("array<int>"))
    kept = F.filter(segs, lambda s, i: ~F.array_contains(rm, i.cast("int")))
    return out.select(
        "doc_id",
        F.array_join(kept, " ").alias("clean_text"),
        F.size(segs).alias("n_segments"),
        F.size(rm).alias("n_removed"),
    )


def dedup_segments_oracle_sql(
    rel: str,
    window: int = 8,
    max_count: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of :func:`dedup_segments` (groups by exact segment
    text — see the collision note there). Slice bounds are 1-based
    inclusive on both engines (Spark slice(start, len); DuckDB l[a:b])."""
    w = int(window)
    return f"""
WITH t AS (
  SELECT {id_col} AS doc_id, str_split({text_col}, ' ') AS toks
  FROM {rel}
),
segs AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(toks[CAST(i*{w}+1 AS BIGINT):CAST(i*{w}+{w} AS BIGINT)], ' ') AS seg
  FROM t, LATERAL unnest(range(0, CAST(ceil(len(toks) / {float(w)!r}) AS BIGINT))) AS u(i)
),
dup AS (
  SELECT seg FROM segs GROUP BY seg HAVING count(*) > {int(max_count)}
),
struck AS (
  SELECT s.doc_id, s.pos FROM segs s JOIN dup d USING (seg)
)
SELECT t.doc_id,
       coalesce((SELECT string_agg(s.seg, ' ' ORDER BY s.pos)
                 FROM segs s
                 WHERE s.doc_id = t.doc_id
                   AND s.pos NOT IN (SELECT pos FROM struck k WHERE k.doc_id = t.doc_id)),
                '') AS clean_text,
       CAST(ceil(len(toks) / {float(w)!r}) AS INT) AS n_segments,
       CAST((SELECT count(*) FROM struck k WHERE k.doc_id = t.doc_id) AS INT) AS n_removed
FROM t
"""


def duplicate_passages(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicate-passage detection at k-gram granularity (the
    practical form of suffix-array substring dedup a la "Deduplicating
    Training Data Makes Language Models Better" — maximal runs of
    corpus-duplicated k-grams instead of a distributed suffix array):

    a token position participates when the k-gram starting there occurs
    >= ``min_count`` times corpus-wide; consecutive participating
    positions merge into one passage  (doc_id, start_tok, end_tok,
    n_grams)  with ``end_tok = last_pos + k`` (token-exclusive end).

    100 TB shape — fully native, zero UDF, text shuffles once (as whole
    docs, pre-tokenization): the k-gram key is a multi-arg
    ``xxhash64(tok, lead(tok,1), ..., lead(tok,k-1))`` computed in ONE
    window pass over exploded tokens — plain codegen, replacing the
    former ``transform(sequence, i -> xxhash64(array_join(slice(...))))``
    whose lambda is evaluated INTERPRETED per position (and, feeding both
    sides of a join, ran twice: 25.8 s -> ~2 s at the 10x bench scale).
    Hash equality == gram-text equality absent a 2^-64 collision, which
    could only over-merge — the same disclosed caveat as before (the
    DuckDB oracle groups by the exact gram text); the hash values
    themselves never reach the output. k-gram frequency is a count window
    over the hash (hashes only cross the wire — one narrow shuffle instead
    of the groupBy + join that re-evaluated the gram pipeline); the run
    merge is the classic gap-and-islands: one lag window + one running
    sum + one groupBy, all on narrow integer rows.
    """
    if k <= 0 or min_count < 2:
        raise ValueError(f"need k > 0 and min_count >= 2, got k={k}, min_count={min_count}")
    from pyspark.sql.window import Window

    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
    toks = F.split(F.col("__text"), " ")
    n = F.size(toks)
    # shuffle the (small, compressed) doc rows by doc_id BEFORE exploding:
    # the token window below then needs only an in-partition sort, and the
    # exploded token rows never cross the wire
    tok_rows = (
        base.where(n >= k)
        .repartition("doc_id")
        .select("doc_id", F.posexplode(toks).alias("pos", "__t"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("__t")] + [F.lead("__t", j).over(w) for j in range(1, k)]
    pos_rows = (
        tok_rows.select("doc_id", "pos", F.xxhash64(*leads).alias("h"),
                        leads[-1].isNotNull().alias("__full"))
        .where("__full")
        .select("doc_id", "pos", "h")
    )
    hits = (
        pos_rows.withColumn("__c", F.count("*").over(Window.partitionBy("h")))
        .where(F.col("__c") >= min_count)
        .select("doc_id", "pos")
    )
    isl = hits.withColumn(
        "__new", F.when(F.col("pos") > F.lag("pos", 1, -2).over(w) + 1, 1).otherwise(0)
    ).withColumn(
        "__isl",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return isl.groupBy("doc_id", "__isl").agg(
        F.min("pos").alias("start_tok"),
        (F.max("pos") + k).alias("end_tok"),
        F.count("*").alias("n_grams"),
    ).select("doc_id", "start_tok", "end_tok", "n_grams")


def duplicate_passages_oracle_sql(
    rel: str,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror (exact gram text instead of the engine hash — see the
    collision note on :func:`duplicate_passages`)."""
    kk = int(k)
    return f"""
WITH t AS (
  SELECT {id_col} AS doc_id, str_split({text_col}, ' ') AS toks
  FROM {rel}
),
posr AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(toks[CAST(i+1 AS BIGINT):CAST(i+{kk} AS BIGINT)], ' ') AS gram
  FROM t, LATERAL unnest(range(0, len(toks) - {kk} + 1)) AS u(i)
  WHERE len(toks) >= {kk}
),
dup AS (
  SELECT gram FROM posr GROUP BY gram HAVING count(*) >= {int(min_count)}
),
hits AS (
  SELECT p.doc_id, p.pos FROM posr p JOIN dup d USING (gram)
),
flags AS (
  SELECT doc_id, pos,
         CASE WHEN pos > lag(pos, 1, -2) OVER (PARTITION BY doc_id ORDER BY pos) + 1
              THEN 1 ELSE 0 END AS nw
  FROM hits
),
isl AS (
  SELECT doc_id, pos,
         sum(nw) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
  FROM flags
)
SELECT doc_id, min(pos) AS start_tok, max(pos) + {kk} AS end_tok,
       count(*) AS n_grams
FROM isl GROUP BY doc_id, g
"""
