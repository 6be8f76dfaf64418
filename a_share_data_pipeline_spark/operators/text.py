"""Text analysis operators over `documents` (SURVEY.md §2.12): language
ID, quality scoring, token counting, fingerprinting.

Every feature is a deterministic JVM-side expression (no UDFs, no
model weights, no transcendental functions) so (a) it runs at full
codegen speed over 100 TB and (b) the DuckDB oracle reproduces it
exactly — including tie-breaks in the language argmax.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..functions.rounding import dround

# marker stopwords per language, priority order breaks ties
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "los", "que", "de", "y"),
}
LANG_PRIORITY = ("en", "fr", "de", "es")
# NOTE: literal characters, not \u escapes — Java regex would parse
# 一 but DuckDB's RE2 would not; literal chars mean one pattern
# string works in both engines.
CJK_PATTERN = "[一-鿿]"


def _tokens() -> Column:
    return F.split(F.col("text"), " ")


def marker_count(markers: tuple[str, ...]) -> Column:
    toks = _tokens()

    def is_marker(x):  # OR chain — lambda runs JVM-side via F.filter
        out = x == F.lit(markers[0])
        for m in markers[1:]:
            out = out | (x == F.lit(m))
        return out

    return F.size(F.filter(toks, is_marker))


def lang_id(df: DataFrame) -> DataFrame:
    """Rule-based language ID: CJK chars → zh, else argmax of marker
    stopword counts (fixed priority tie-break), else 'und'."""
    out = df.withColumn("cjk_n", F.regexp_count(F.col("text"), F.lit(CJK_PATTERN)))
    for lang, markers in LANG_MARKERS.items():
        out = out.withColumn(f"{lang}_n", marker_count(markers))
    pred = F.when(F.col("cjk_n") > 0, F.lit("zh"))
    for i, lang in enumerate(LANG_PRIORITY):
        cond = F.col(f"{lang}_n") > 0
        for other in LANG_PRIORITY[i + 1 :]:
            cond = cond & (F.col(f"{lang}_n") >= F.col(f"{other}_n"))
        for other in LANG_PRIORITY[:i]:
            cond = cond & (F.col(f"{lang}_n") > F.col(f"{other}_n"))
        pred = pred.when(cond, F.lit(lang))
    return out.withColumn("pred_lang", pred.otherwise(F.lit("und")))


def quality_features(df: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a linear
    quality score (rational arithmetic only — oracle-reproducible)."""
    toks = _tokens()
    n_tokens = F.size(toks)
    n_chars = F.length(F.col("text"))
    nonspace = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    punct_n = F.regexp_count(F.col("text"), F.lit("[.,!?;:]"))
    stop_n = marker_count(LANG_MARKERS["en"])
    return (
        df.withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("n_chars_m", n_chars.cast("long"))
        .withColumn("avg_token_len", dround(nonspace / n_tokens, 4))
        .withColumn("punct_ratio", dround(punct_n / n_chars, 6))
        .withColumn("stopword_ratio", dround(stop_n / n_tokens, 6))
        .withColumn(
            "quality_score",
            dround(
                F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.5
                + (stop_n / n_tokens) * 0.3
                + F.greatest(F.lit(0.0), F.lit(1.0) - punct_n / n_tokens) * 0.2,
                4,
            ),
        )
    )


# BPE-ish token pattern: word pieces, digit runs, single non-alnum marks
BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def token_counts(df: DataFrame) -> DataFrame:
    return df.withColumn("ws_tokens", F.size(_tokens()).cast("long")).withColumn(
        "bpe_tokens", F.regexp_count(F.col("text"), F.lit(BPE_PATTERN)).cast("long")
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """64-bit document fingerprint: md5 prefix of the whitespace- and
    case-normalized text (reference-free analog of a rolling hash)."""
    normalized = F.lower(F.trim(F.regexp_replace(F.col("text"), " +", " ")))
    return df.withColumn("fp", F.substring(F.md5(normalized), 1, 16))


# Unigram-LM quality scoring (CCNet-style proxy): score each document
# by its average per-token negative log2-probability under the corpus's
# own unigram distribution — low-probability token soup (boilerplate,
# mojibake, keyword stuffing) scores high, fluent text low. The full
# vocabulary of a 100 TB corpus does not broadcast (billions of distinct
# tokens), so the model keeps only the top-K head and gives every OOV
# token a fixed half-count probability (0.5/N) — the standard
# truncated-vocab + floor construction.
LM_VOCAB_K = 1000


def unigram_nll(df: DataFrame) -> DataFrame:
    """Per-doc (doc_id, n_tokens, nll_per_token): two aggregation passes
    over one tokenization.

    Pass 1 counts tokens (partial-aggregated shuffle on the token
    string — the vocab shape, same as text_vocab_topk); the top-K head
    comes out through TakeOrdered (never a full sort) and broadcasts;
    the corpus token total N is a second aggregation over the
    vocab-sized counts frame (tiny), broadcast as one row. Pass 2
    re-joins tokens to the broadcast head (left join, OOV → null) and
    aggregates per doc. nll_per_token = log2(N) - avg(log2(count_w)),
    with count_w = 0.5 for OOV."""
    tok = df.select("doc_id", F.explode(_tokens()).alias("w"))
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    vocab = counts.orderBy(F.col("n").desc(), "w").limit(LM_VOCAB_K)
    total = counts.agg(F.sum("n").alias("nn"))
    per_doc = (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log2(F.coalesce(F.col("n"), F.lit(0.5)))).alias("avg_l2"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        dround(F.log2("nn") - F.col("avg_l2"), 4).alias("nll_per_token"),
    )


# Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the MOSS
# fingerprint-selection algorithm): hash every k-token shingle, then in
# each sliding window of W consecutive hashes keep the minimum
# (rightmost occurrence on ties). Guarantees: any shared run of at
# least W + K - 1 tokens between two documents yields at least one
# IDENTICAL selected fingerprint, while storing only ~2/(W+1) of the
# hashes — the position-robust middle ground between one md5 per doc
# (fingerprint()) and all shingles (MinHash's input).
WINNOW_K = 3
WINNOW_W = 4


def _winnow_selected(df: DataFrame) -> DataFrame:
    """(doc_id, __npos, __wins): per-doc array of position-encoded window
    minima (``md5hex || lpad(10^8 - pos)``), built entirely map-side —
    one transform emits the shingle hashes, a second slides the
    w-slice/array_min window over the array. Shared by the summary
    (winnow_fingerprints) and the posting-list (winnow_fp_rows) forms.

    The hash array is LET-BOUND through a single-element transform
    (``transform(array(enc), e -> ...)``): a higher-order function
    evaluates its input array once and binds it to the lambda
    variable, so the m window starts reference a computed VALUE.
    Referencing a named column instead looks identical but is O(m)
    times slower: CollapseProject inlines the aliased expression into
    every ``slice`` reference, so each of the m starts re-evaluates
    all m md5s — O(m²) interpreted hash work per document (measured:
    24 ms/doc at m≈52, 500× the let-bound form; HOF lambdas do not
    enter whole-stage codegen, which is why the blowup is invisible
    in small fixtures)."""
    k, w = WINNOW_K, WINNOW_W
    toks = F.split(F.lower(F.col("text")), " ")
    npos = F.size(toks) - k + 1
    big = 100000000
    enc_arr = F.transform(
        F.sequence(F.lit(1), npos),
        lambda p: F.concat(
            F.md5(F.concat_ws(" ", F.slice(toks, p, k))),
            F.lpad((F.lit(big) - p).cast("string"), 8, "0"),
        ),
    )
    wins = F.element_at(
        F.transform(
            F.array(enc_arr),
            lambda e: F.transform(
                F.sequence(F.lit(1), npos - (w - 1)),
                lambda s: F.array_min(F.slice(e, s, w)),
            ),
        ),
        1,
    )
    return df.filter(npos >= w).select("doc_id", npos.alias("__npos"), wins.alias("__wins"))


def winnow_fp_rows(df: DataFrame) -> DataFrame:
    """(doc_id, fp) rows: the DISTINCT winnowing fingerprint HASHES per doc
    (position encoding stripped — cross-doc matching compares content
    hashes, not positions). This is the posting-list form a
    candidate-pair matcher or overlap index consumes.

    Unlike the summary form (array-HOF, zero exchange), this path
    explodes shingle POSITIONS first and computes every hash with
    plain codegen expressions (slice/concat_ws/md5 are not
    higher-order functions), then takes the window minimum with one
    doc-keyed Window: HOF lambdas run interpreted, so the hash work
    here is ~4-5x faster in codegen (measured 0.8-1.2s vs 4-5s at
    sf0.1). The explode duplicates the token array per position row —
    acceptable because the rows stay in their input partition until
    the (already-required) window exchange; at 100 TB the _spread
    repartition gives the fan-out the cluster's parallelism, exactly
    like dedup.exploded_shingles."""
    from .common import spread as _spread

    toks = F.split(F.lower(F.col("text")), " ")
    base = (
        _spread(df, "doc_id")
        .select("doc_id", toks.alias("__toks"), (F.size(toks) - WINNOW_K + 1).alias("__npos"))
        .filter(F.col("__npos") >= WINNOW_W)
    )
    pos = base.select(
        "doc_id", "__npos", "__toks",
        F.explode(F.sequence(F.lit(1), F.col("__npos"))).alias("pos"),
    )
    big = 100000000
    enc = pos.select(
        "doc_id", "__npos", "pos",
        F.concat(
            F.md5(F.concat_ws(" ", F.slice("__toks", F.col("pos"), WINNOW_K))),
            F.lpad((F.lit(big) - F.col("pos")).cast("string"), 8, "0"),
        ).alias("enc"),
    )
    wspec = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    wins = enc.withColumn("wmin", F.min("enc").over(wspec)).filter(
        F.col("pos") <= F.col("__npos") - (WINNOW_W - 1)
    )
    return wins.select("doc_id", F.substring("wmin", 1, 32).alias("fp")).distinct()


def winnow_fingerprints(df: DataFrame) -> DataFrame:
    """Per-doc winnowing summary: (doc_id, n_grams, n_fp, min_fp,
    fp_checksum).

    Entirely map-only — ZERO exchanges (plan-gated). The whole
    selection runs inside per-row array expressions: one transform
    builds the position-encoded shingle hashes, a second slides the
    w-slice/array_min window over that array, array_distinct dedups
    the selections, and the summary columns fold over the result.
    A row never leaves its input partition, so at 100 TB this is an
    embarrassingly parallel scan (the explode+window formulation costs
    two doc-keyed shuffles for identical output — the DuckDB oracle
    keeps that formulation as the independent semantic witness).
    Ties break to the RIGHTMOST position by encoding each hash as
    ``md5hex || lpad(10^8 - pos)`` — lexicographic min on the encoding
    is (min hash, max pos), so both engines agree without an arg-min
    window primitive. Per-doc work is O(tokens·w) comparisons; the
    output keeps ~2/(w+1) of the hashes — the set a plagiarism/overlap
    index would store.
    """
    base = _winnow_selected(df)
    fps = F.array_distinct(F.col("__wins"))
    return base.select(
        "doc_id",
        F.col("__npos").cast("long").alias("n_grams"),
        F.size(fps).cast("long").alias("n_fp"),
        F.array_min(F.transform(fps, lambda s: F.substring(s, 1, 32))).alias("min_fp"),
        F.aggregate(
            F.transform(fps, lambda s: F.conv(F.substring(s, 1, 12), 16, 10).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("fp_checksum"),
    )
