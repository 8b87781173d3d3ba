"""Text analysis for document pipelines — all native Column expressions,
formula-portable to the DuckDB oracle (regexp lengths, md5, arithmetic).

- token_count: whitespace tokens + a BPE-ish subword estimate;
- quality_score: length / punctuation / stopword-ratio composite;
- lang_id: stopword-hit heuristic over small wordlists (deterministic
  argmax with fixed tie order);
- fingerprint: normalized-text md5 prefix (document identity for dedup
  pipelines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T

_STOP = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"],
    "fr": ["le", "la", "et", "les", "des", "est", "dans", "que", "pour", "une"],
}


def tokens(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank text)."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(F.size(tokens(text)))


def subword_estimate(text: Column) -> Column:
    """BPE-ish token estimate: word boundaries + one token per ~4 chars of
    long words (the usual chars/4 heuristic, computed exactly)."""
    toks = tokens(text)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.greatest(F.ceil(F.length(t) / 4.0), F.lit(1).cast("long")),
    )


def stopword_hits(text: Column, lang: str) -> Column:
    arr = F.array(*[F.lit(w) for w in _STOP[lang]])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(arr, t)))


def lang_id(text: Column) -> Column:
    """Deterministic argmax over per-language stopword hits; ties resolve in
    fixed order en > es > de > fr; all-zero -> 'und'."""
    hits = {lang: stopword_hits(text, lang) for lang in _STOP}
    best = F.greatest(*hits.values())
    out = F.lit("und")
    for lang in reversed(list(_STOP)):  # earlier langs win ties: apply last
        out = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def quality_score(text: Column) -> Column:
    """Composite in [0,1]: 0.4*alpha_ratio + 0.3*min(1, tokens/100)
    + 0.3*(1 - punct_ratio). Pure arithmetic, oracle-portable."""
    n = F.length(text).cast("double")
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("double")
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("double")
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    punct_ratio = F.when(n > 0, punct / n).otherwise(F.lit(0.0))
    tok_term = F.least(F.lit(1.0), token_count(text).cast("double") / 100.0)
    return 0.4 * alpha_ratio + 0.3 * tok_term + 0.3 * (1.0 - punct_ratio)


def fingerprint(text: Column, length: int = 16) -> Column:
    """Identity fingerprint of normalized text (lower, collapsed spaces)."""
    norm = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return F.substring(F.md5(norm), 1, length)


def repetition_profile(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher/RefinedWeb-style repetition signals per doc:
    (doc_id, n_tokens, top_tok_frac, dup_2gram_frac, dup_3gram_frac,
    flagged). dup_Ngram_frac = 1 - distinct/total n-grams; top_tok_frac =
    most frequent token's share; flagged applies the usual repetition
    thresholds (top token > 0.3 or duplicated 2-grams > 0.2).

    Scale shape: the n-gram fractions are pure narrow HOF arithmetic (zero
    shuffle); the token-frequency mode is one partial-aggregated
    groupBy(doc, token) + one groupBy(doc) — shuffle keys are (doc, token),
    uniform by construction. Blank docs profile as zeros, unflagged.
    """
    # one-element explode barrier: the token array feeds four consumers —
    # without the Generate, CollapseProject re-inlines the regexp split
    # into every usage (see curation.decontaminate for the measured cost)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(F.struct(tokens(F.col(text_col)).alias("t")))).alias("__b"),
        (F.length(F.trim(F.col(text_col))) == 0).alias("__blank"),
    ).select("doc_id", F.col("__b.t").alias("__toks"), "__blank")

    def dup_frac(n: int) -> Column:
        # struct-form n-grams: size/array_distinct need no gram text at all
        from .dedup import ngram_structs_col

        g = ngram_structs_col(F.col("__toks"), n)
        total = F.size(g).cast("double")
        return F.when(
            F.col("__blank") | (total <= 0), F.lit(0.0)
        ).otherwise(1.0 - F.size(F.array_distinct(g)).cast("double") / total)

    grams = base.select(
        "doc_id",
        F.when(F.col("__blank"), F.lit(0)).otherwise(F.size("__toks")).alias("n_tokens"),
        dup_frac(2).alias("dup_2gram_frac"),
        dup_frac(3).alias("dup_3gram_frac"),
    )
    freq = (
        base.filter(~F.col("__blank"))
        .select("doc_id", F.explode("__toks").alias("__tok"))
        .groupBy("doc_id", "__tok")
        .count()
        .groupBy("doc_id")
        .agg((F.max("count") / F.sum("count")).alias("top_tok_frac"))
    )
    return (
        grams.join(freq, "doc_id", "left")
        .withColumn("top_tok_frac", F.coalesce("top_tok_frac", F.lit(0.0)))
        .withColumn(
            "flagged",
            (F.col("top_tok_frac") > 0.3) | (F.col("dup_2gram_frac") > 0.2),
        )
    )


def text_profile(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    t = F.col(text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        token_count(t).alias("n_tokens"),
        subword_estimate(t).alias("n_subwords"),
        lang_id(t).alias("lang_guess"),
        F.round(quality_score(t), 9).alias("quality"),
        fingerprint(t).alias("fp"),
    )


# PII redaction patterns: (name, regex, replacement token), applied in this
# fixed order. The regexes use only syntax with IDENTICAL semantics in Java
# regex (Spark) and RE2 (DuckDB) — character classes, bounded repetition,
# word boundaries — so the oracle can mirror them verbatim. Categories are
# deliberately simple/high-precision (the C4/Dolma-style scrub pass);
# callers with stricter needs pass their own list.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("card", r"\b\d{13,16}\b", "<CARD>"),
]


def scrub_pii(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """Redact PII-shaped spans (training-data scrub pass): returns
    (doc_id, text, n_<category>...) with every match replaced by its
    category token and per-category match counts measured on the ORIGINAL
    text (categories count independently; replacement applies sequentially
    in pattern order, so an earlier category's token is never re-matched).

    Pure narrow plan — one projection of regexp_count/regexp_replace
    expressions, no shuffle, no Python; output partitioning follows the
    input, so the scrub composes with any downstream op for free.
    """
    pats = patterns if patterns is not None else PII_PATTERNS
    scrubbed = F.col(text_col)
    counts = []
    for name, rx, tok in pats:
        counts.append(
            F.regexp_count(F.col(text_col), F.lit(rx)).cast("long").alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, rx, tok)
    return docs.select(
        F.col(id_col).alias("doc_id"), scrubbed.alias(text_col), *counts
    )


def vocabulary(
    docs: DataFrame,
    top_k: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary: (token, n_occurrences, n_docs), optionally capped
    to the top_k most frequent tokens with a DETERMINISTIC tie order
    (n_occurrences desc, token asc) — the table behind tokenizer training,
    frequency filtering and the unigram LM below.

    Scale shape: explode -> one partial-aggregated groupBy(token); map-side
    combine collapses each partition to its distinct tokens before the
    shuffle, so shuffle volume is ~vocab-size per partition, not corpus
    token count. The top_k cap is a global sort of the (tiny) aggregated
    table only."""
    from .util import _spread

    toks = (
        _spread(docs.filter(F.length(F.trim(F.col(text_col))) > 0))
        .select(F.col("doc_id"), F.explode(tokens(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
    )
    vocab = toks.groupBy("token").agg(
        F.count("*").alias("n_occurrences"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    if top_k is not None:
        vocab = vocab.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(top_k)
    return vocab


def keywords_tfidf(
    docs: DataFrame,
    top_k: int = 5,
    vocab_top_k: int = 1 << 15,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Integer tf-idf keyword extraction:
    (doc_id, rank, token, tf, idf_bits, score) — the `top_k` tokens per
    document by score = tf * idf_bits, with

        idf_bits = floor(log2(n_docs_total)) - floor(log2(df(token)))

    (the surprisal_bits quantization discipline: floor-log2 on integers is
    exact in any IEEE engine, products/sums are integer, so ranking is
    fully deterministic; ties break on token ASC). Tokens outside the
    capped vocabulary score df = 1 — maximum idf, which is what you want
    from rare-term keywords. Stopwords self-select out: df ≈ N gives
    idf_bits 0.

    Scale shape: vocabulary() [one shuffle, map-side combined] -> per-doc
    token counts and the top-k window share ONE doc_id exchange: the doc
    TEXT is hash-repartitioned by doc_id before tokenization (compressed
    docs cross the wire once, exploded tokens never do), and both the
    (doc_id, token) aggregation and the per-doc window are satisfied by
    that partitioning — zero further exchanges after the broadcast vocab
    join."""
    from pyspark.sql.window import Window

    vocab = vocabulary(docs, top_k=vocab_top_k, text_col=text_col)
    n_docs = docs.count() or 1
    nd_bits = int(n_docs).bit_length() - 1  # floor(log2(n_docs))
    doc_tok = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
        .repartition("doc_id")
        .select("doc_id", F.explode(tokens(F.col("__text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    idf = (
        F.lit(nd_bits).cast("long")
        - F.floor(F.log2(F.coalesce("n_docs", F.lit(1)))).cast("long")
    )
    scored = doc_tok.join(
        F.broadcast(vocab.select("token", "n_docs")), "token", "left"
    ).select("doc_id", "token", "tf", idf.alias("idf_bits"))
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tf") * F.col("idf_bits")).desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            "doc_id", "rank", "token",
            F.col("tf").cast("long").alias("tf"),
            "idf_bits",
            (F.col("tf") * F.col("idf_bits")).cast("long").alias("score"),
        )
    )


def surprisal_bits(
    docs: DataFrame,
    vocab_top_k: int = 1 << 15,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Integer-quantized unigram surprisal per document:
    (doc_id, n_tokens, surprisal_bits) with
    surprisal_bits = sum over tokens of
        floor(log2(total_corpus_tokens)) - floor(log2(count(token))),
    out-of-vocabulary tokens scored at count=1 (max surprisal). A cheap,
    fully deterministic LM-quality signal: low bits/token = stereotyped
    boilerplate, high = rare-token-dense text.

    The bit quantization is the point, not a shortcut: floor(log2(n)) on
    integers is exact in ANY IEEE implementation (boundaries are powers of
    two, which doubles represent exactly), and the per-doc score is an
    INTEGER sum — order-independent, so the result is stable under any
    partitioning/merge order, unlike a float log-prob sum.

    Scale shape: vocabulary() [one shuffle] -> per-doc token counts
    [shuffle on (doc, token)] -> broadcast-join the capped vocab -> one
    groupBy(doc). The vocab side is top_k-capped, so the broadcast is
    bounded by construction."""
    vocab = vocabulary(docs, top_k=vocab_top_k, text_col=text_col)
    total = vocab.agg(F.sum("n_occurrences")).collect()[0][0] or 1
    total_bits = int(total).bit_length() - 1  # floor(log2(total))
    doc_tok = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("k"))
    )
    bits = F.lit(total_bits).cast("long") - F.floor(F.log2(F.coalesce("n_occurrences", F.lit(1)))).cast("long")
    scored = (
        doc_tok.join(F.broadcast(vocab.select("token", "n_occurrences")), "token", "left")
        .select("doc_id", "k", bits.alias("bits"))
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_tokens"),
            F.sum(F.col("k") * F.col("bits")).cast("long").alias("surprisal_bits"),
        )
    )
    # blank docs keep their row: 0 tokens, 0 bits (like text_profile)
    base = docs.select(F.col(id_col).alias("doc_id"))
    return (
        base.join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("surprisal_bits", F.lit(0)).cast("long").alias("surprisal_bits"),
        )
    )


def bigram_surprisal_bits(
    docs: DataFrame,
    vocab_top_k: int = 1 << 15,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Integer-quantized BIGRAM (conditional) surprisal per document:
    (doc_id, n_bigrams, surprisal_bits) with per-bigram bits =
    floor(log2 c(w1)) - floor(log2 c(w1 w2)) — the quantized
    -log2 P(w2|w1) of the corpus bigram model. Out-of-table counts floor
    at 1 (both tables capped at ``vocab_top_k`` with the deterministic
    (count desc, key asc) tie order). The same exactness discipline as
    :func:`surprisal_bits`: integer bits, order-independent sums.

    Scale shape: one token shuffle for the unigram table, one bigram
    shuffle for the bigram table (both map-side combined and top-k
    capped), per-doc bigram counts, two bounded broadcasts, one final
    groupBy(doc). Docs with < 2 tokens score 0 over 0 bigrams."""
    toks = tokens(F.col(text_col))
    m = F.size(toks) - 1
    grams = F.when(
        m >= 1,
        F.arrays_zip(
            F.slice(toks, 1, m).alias("w1"), F.slice(toks, 2, m).alias("w2")
        ),
    ).otherwise(F.array())
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(grams).alias("g")
    ).select(
        "doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2")
    ).filter((F.col("w1") != "") & (F.col("w2") != ""))

    uni = (
        docs.select(F.explode(toks).alias("w1"))
        .filter(F.col("w1") != "")
        .groupBy("w1")
        .agg(F.count("*").alias("cu"))
        .orderBy(F.desc("cu"), F.asc("w1"))
        .limit(vocab_top_k)
    )
    big = (
        base.groupBy("w1", "w2")
        .agg(F.count("*").alias("cb"))
        .orderBy(F.desc("cb"), F.asc("w1"), F.asc("w2"))
        .limit(vocab_top_k)
    )
    per_doc = base.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("k"))
    bits = (
        F.floor(F.log2(F.coalesce("cu", F.lit(1)))).cast("long")
        - F.floor(F.log2(F.coalesce("cb", F.lit(1)))).cast("long")
    )
    scored = (
        per_doc.join(F.broadcast(uni), "w1", "left")
        .join(F.broadcast(big), ["w1", "w2"], "left")
        .select("doc_id", "k", bits.alias("bits"))
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.sum(F.col("k") * F.col("bits")).cast("long").alias("surprisal_bits"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("surprisal_bits", F.lit(0)).cast("long").alias("surprisal_bits"),
        )
    )


_BPE_T = T.StructType(
    [
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("lhs", T.StringType(), False),
        T.StructField("rhs", T.StringType(), False),
        T.StructField("merged", T.StringType(), False),
        T.StructField("pair_count", T.LongType(), False),
    ]
)


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Learn the top ``n_merges`` byte-pair-encoding merges over the corpus
    -> (rank, lhs, rhs, merged, pair_count), the merge table a subword
    tokenizer trains (the real form of the `subword_estimate` heuristic).

    Algorithm (greedy BPE on the VOCAB table): words are [a-z]+ whitespace
    tokens with counts; each word is a '|'-separated token sequence seeded
    with its characters; each round counts adjacent token pairs weighted by
    word count, merges the argmax pair — ties broken deterministically
    (count desc, lhs asc, rhs asc) — and rewrites sequences via literal
    `replace('|l|r|' -> '|lr|')`. Replacement is left-to-right
    non-overlapping in BOTH engines (Java and DuckDB `replace` share the
    scan-resume rule), which for runs of the same pair ('a a a a') merges
    alternate occurrences exactly like canonical BPE's left-to-right rule.

    100 TB shape: ONE corpus pass builds the word-count vocab (map-side
    combined, shuffle ~ vocab size); the k iterative rounds then run on
    the dimension-sized vocab only — corpus size never re-enters. Each
    round is one pair aggregation plus a 1-row argmax collect (the same
    driver-coordinated loop discipline as the median-cut palette).

    Exact: pair counts are integer sums of integer word counts; the gate
    emits only strings and integers."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    spark = docs.sparkSession
    merges, _vocab, base = _bpe_loop(docs, n_merges, text_col)
    base.unpersist()
    return spark.createDataFrame(merges, schema=_BPE_T)


def _bpe_loop(docs: DataFrame, n_merges: int, text_col: str):
    """Shared greedy loop: returns (merges, final vocab DF with merged
    seqs, persisted base handle). Caller owns releasing ``base``."""
    words = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    base = words.select(
        "w", "cnt", F.regexp_replace("w", "(.)(?=.)", "$1||").alias("seq")
    ).persist()
    vocab = base
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        toks = vocab.select("cnt", F.split("seq", r"\|\|").alias("ts")).filter(
            F.size("ts") >= 2
        )
        pairs = toks.select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 1),"
                    " i -> struct(ts[i - 1] AS l, ts[i] AS r))"
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
        merges.append((rank, l, r, l + r, c))
        vocab = vocab.withColumn(
            "seq",
            F.expr(
                "trim(BOTH '|' FROM replace(concat('||', seq, '||'),"
                f" '|{l}||{r}|', '|{l}{r}|'))"
            ),
        )
    return merges, vocab, base


def bpe_segment(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply the learned BPE merge table to the corpus -> per-document
    TRUE subword token counts (doc_id, n_words, n_bpe_tokens): the exact
    form of `subword_estimate`, for token-budget packing and pricing.

    Shape: the merge loop runs on the dimension-sized vocab
    (:func:`_bpe_loop`); the segmented vocab (word -> subword count) joins
    the per-document word stream size-gated broadcast, so the corpus pass
    adds ONE map-side-combined groupBy(doc_id) — word text never shuffles.
    Words outside the trainable class ([a-z]+, len >= 2) count 1 token.
    Integer-only output, hash-exact vs the unrolled oracle."""
    from .util import broadcastable, track_persisted

    _merges, vocab, base = _bpe_loop(docs, n_merges, text_col)
    seg = vocab.select(
        "w", F.size(F.split("seq", r"\|\|")).cast("long").alias("n_sub")
    )
    ws = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
    )
    if broadcastable(seg, row_limit=50_000_000):
        seg = F.broadcast(seg)
    out = (
        ws.join(seg, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.coalesce("n_sub", F.lit(1).cast("long"))).alias("n_bpe_tokens"),
        )
    )
    return track_persisted(out, base)


def bpe_train_oracle_sql(docs_rel: str, n_merges: int = 8) -> str:
    """DuckDB oracle for :func:`bpe_train`: the greedy loop unrolled
    ``n_merges`` times (fixed literal rounds, like the compact_cells
    oracle), each round an ORDER/LIMIT-1 argmax CTE and a literal-pattern
    sequence rewrite driven by that CTE."""
    parts = [
        f"""w0 AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt,
         array_to_string(list_transform(range(1, length(w) + 1),
                                        i -> w[i]), '||') AS seq
  FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
    FROM {docs_rel} WHERE length(trim(text)) > 0
  )
  WHERE regexp_full_match(w, '[a-z]+') AND length(w) >= 2
  GROUP BY w
)"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(f"""p{r} AS (
  SELECT ts[i] AS l, ts[i + 1] AS r2, CAST(sum(cnt) AS BIGINT) AS c
  FROM (
    SELECT cnt, ts, unnest(range(1, len(ts))) AS i
    FROM (SELECT cnt, string_split(seq, '||') AS ts FROM w{r - 1})
    WHERE len(ts) >= 2
  )
  GROUP BY 1, 2
)""")
        parts.append(
            f"b{r} AS (SELECT l, r2, c FROM p{r} ORDER BY c DESC, l, r2 LIMIT 1)"
        )
        parts.append(f"""w{r} AS (
  SELECT w, cnt,
         trim(replace('||' || seq || '||', '|' || l || '||' || r2 || '|',
                      '|' || l || r2 || '|'), '|') AS seq
  FROM w{r - 1}, b{r}
)""")
    finals = "\nUNION ALL\n".join(
        f"SELECT {r} AS rank, l AS lhs, r2 AS rhs, l || r2 AS merged,"
        f" c AS pair_count FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + finals


def bpe_segment_oracle_sql(docs_rel: str, n_merges: int = 8) -> str:
    """DuckDB oracle for :func:`bpe_segment`: the same unrolled merge
    rounds, then the per-document word stream left-joined to the segmented
    vocab (non-trainable words count 1)."""
    train = bpe_train_oracle_sql(docs_rel, n_merges)
    with_block = train[: train.rindex("\nSELECT 1 AS rank")]
    return f"""{with_block},
seg AS (
  SELECT w, CAST(len(string_split(seq, '||')) AS BIGINT) AS n_sub
  FROM w{n_merges}
),
ws AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM {docs_rel} WHERE length(trim(text)) > 0
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(coalesce(n_sub, 1)) AS BIGINT) AS n_bpe_tokens
FROM (SELECT * FROM ws WHERE w != '') ws2
LEFT JOIN seg USING (w)
GROUP BY doc_id
"""
