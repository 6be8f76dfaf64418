"""Corpus-curation operators for LLM training-data pipelines
(SURVEY.md §2.12 extensions): repetition signals, composite quality
gates, benchmark decontamination, and sequence packing.

These are the standard published curation steps (Gopher/RefinedWeb-
style heuristic filters, n-gram test-set decontamination, concat-and-
chunk packing) re-expressed as Spark expression trees / built-in
operators — no Python in any hot path, every output reproducible by
the DuckDB oracle.

Scale notes:
- repetition signals: two explodes (words, bigrams) each followed by a
  partial-aggregated groupBy on (doc_id, gram) — shuffle keys are
  md5-free short strings, volume ~tokens, same budget as TF-IDF.
- quality gates: pure per-row expressions — map-only, zero shuffle.
- decontamination: the benchmark gram set is tiny relative to the
  corpus (eval sets are MBs, corpora are TBs) → broadcast hash join
  against the training grams; nothing all-pairs.
- packing: per-shard (source) running token count — one window
  exchange partitioned by shard, the packing itself is arithmetic on
  the cumsum. A single global ORDER BY would serialize 100 TB through
  one partition; per-shard is how production packers run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.rounding import dround
from .common import spread as _spread
from .text import LANG_MARKERS, marker_count

# Gopher-style gate thresholds (stated constants, mirrored in oracles)
MIN_WORDS = 15
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 12.0
MAX_SYMBOL_RATIO = 0.1
MIN_STOP_HITS = 1

TOP_WORD_FRAC_MAX = 0.20  # most frequent word may cover <= 20% of doc
DUP_BIGRAM_FRAC_MAX = 0.50  # bigrams occurring 2+ times may cover <= 50%
DUP_GRAM_N = 2  # the repetition signal counts word bigrams

DECON_N = 5  # decontamination matches on shared word 5-grams


def _word_grams() -> Column:
    """NON-distinct word DUP_GRAM_N-grams of ``text`` (repetition needs
    multiplicities). Guarded like dedup.word_shingles_col: F.sequence(1, 0) would emit a
    DESCENDING [1, 0] for too-short docs, not an empty array. Token
    array let-bound like word_shingles_col (SCALE.md let-binding
    lesson)."""

    def build(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(toks) - (DUP_GRAM_N - 1))
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(toks, i + k) for k in range(DUP_GRAM_N)]
        )
        return F.when(F.size(toks) >= DUP_GRAM_N, F.transform(idx, gram)).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(
        F.transform(F.array(F.split(F.col("text"), " ")), build), 1
    )


def repetition_signals(df: DataFrame) -> DataFrame:
    """Per-doc repetition metrics: fraction of the doc covered by its
    most frequent word, and fraction covered by bigrams that occur more
    than once — the Gopher repetition-removal signals."""
    df = _spread(df, "doc_id")
    words = df.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("g"))
    wc = words.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    word_sig = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        (F.max("c") / F.sum("c")).alias("top_word_frac"),
    )
    bigrams = df.select("doc_id", F.explode(_word_grams()).alias("g"))
    bc = bigrams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    bigram_sig = bc.groupBy("doc_id").agg(
        (
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))) / F.sum("c")
        ).alias("dup_bigram_frac")
    )
    out = word_sig.join(bigram_sig, "doc_id", "left")
    # threshold the ROUNDED fractions — the emitted columns and the
    # DuckDB oracle both carry ROUND(...,6), so gating on the raw values
    # could contradict them for a doc landing within 5e-7 of a threshold
    top_r = dround("top_word_frac", 6)
    dup_r = dround(F.coalesce("dup_bigram_frac", F.lit(0.0)), 6)
    return out.select(
        "doc_id",
        "n_words",
        top_r.alias("top_word_frac"),
        dup_r.alias("dup_bigram_frac"),
        (
            (top_r <= TOP_WORD_FRAC_MAX) & (dup_r <= DUP_BIGRAM_FRAC_MAX)
        ).alias("passes_repetition"),
    )


def quality_gates(df: DataFrame) -> DataFrame:
    """Gopher-style composite quality gate — every signal a per-row
    expression (map-only, zero shuffle): word-count bounds, mean word
    length bounds, symbol ratio, minimum stopword hits."""
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks)
    nonspace = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    mean_wl = nonspace / n_words
    symbols = F.regexp_count(F.col("text"), F.lit("[^a-zA-Z0-9 ]"))
    symbol_ratio = symbols / F.length(F.col("text"))
    stop_hits = marker_count(LANG_MARKERS["en"])
    gates = {
        "gate_word_count": (n_words >= MIN_WORDS) & (n_words <= MAX_WORDS),
        "gate_word_len": (mean_wl >= MIN_MEAN_WORD_LEN) & (mean_wl <= MAX_MEAN_WORD_LEN),
        "gate_symbols": symbol_ratio <= MAX_SYMBOL_RATIO,
        "gate_stopwords": stop_hits >= MIN_STOP_HITS,
    }
    keep = None
    for g in gates.values():
        keep = g if keep is None else keep & g
    return df.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        dround(mean_wl, 4).alias("mean_word_len"),
        dround(symbol_ratio, 6).alias("symbol_ratio"),
        stop_hits.cast("long").alias("stop_hits"),
        *[c.alias(n) for n, c in gates.items()],
        keep.alias("keep"),
    )


def decontaminate(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word
    DECON_N-gram with the benchmark (eval-set) docs.

    The benchmark's distinct gram set is broadcast (eval sets are MBs
    vs TB corpora); the corpus side stays a distinct-gram explode +
    broadcast semi-ish join + per-doc aggregate. Returns one row per
    CONTAMINATED doc: hit count, total grams, hit fraction."""
    from .dedup import word_shingles_col

    bench_grams = (
        benchmark.select(F.explode(word_shingles_col(DECON_N)).alias("g")).distinct()
    )
    corpus_grams = _spread(corpus, "doc_id").select(
        "doc_id", F.explode(word_shingles_col(DECON_N)).alias("g")
    )
    # the gram set feeds BOTH the per-doc totals and the hit join —
    # materialize it once instead of re-running the explode lineage
    # twice. Lazy localCheckpoint (eager=False), not persist: the first
    # consuming job materializes the blocks (no separate eager job) and
    # the ContextCleaner frees them when the result frame is dropped,
    # while persist() would pin them in the CacheManager until an
    # unpersist() that no caller of a lazily-returned plan can safely
    # place.
    corpus_grams = corpus_grams.localCheckpoint(eager=False)
    per_doc = corpus_grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        hits.join(per_doc, "doc_id")
        .select(
            "doc_id",
            "n_hits",
            "n_grams",
            dround(F.col("n_hits") / F.col("n_grams"), 6).alias("hit_frac"),
        )
    )


def pack_sequences(df: DataFrame, context_len: int) -> DataFrame:
    """Concat-and-chunk sequence packing: within each shard (`source`),
    documents are laid out in `doc_id` order and the token stream is cut into
    `context_len`-token windows. Emits each doc's start offset, the
    window (bin) it starts in, and whether it straddles a boundary.

    One window exchange on the shard key; everything after the cumsum
    is arithmetic. Per-shard (not global) ordering is the scale form —
    a global ORDER BY would serialize the corpus through one task."""
    n_tokens = F.size(F.split(F.col("text"), " "))
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    out = df.select("source", "doc_id", n_tokens.alias("n_tokens")).select(
        "source",
        "doc_id",
        "n_tokens",
        start.alias("start_tok"),
    )
    bin_id = F.floor(F.col("start_tok") / context_len)
    end_bin = F.floor((F.col("start_tok") + F.col("n_tokens") - 1) / context_len)
    return out.select(
        "source",
        "doc_id",
        "n_tokens",
        "start_tok",
        bin_id.cast("long").alias("bin_id"),
        (end_bin > bin_id).alias("crosses_boundary"),
    )


# PII redaction patterns — RE2-compatible (no backreferences/lookarounds)
# so the SAME pattern string runs in Spark's Java regex AND DuckDB's RE2
# oracle. Order matters: emails go first (their domains would otherwise
# feed the IPv4/phone digit patterns on already-half-redacted text).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d-]{7,}\d", "<PHONE>"),
)


def redact_pii(df: DataFrame) -> DataFrame:
    """PII scrubbing — the curation step every published pipeline runs
    before training: emails, IPv4 addresses, and international phone
    numbers replaced with typed placeholder tokens.

    Pure map-only regexp expressions (zero shuffle, whole-stage
    codegen); each pattern's hit count is taken on the text state it
    actually sees (sequential semantics: the email pass runs first, so
    an address inside an email never double-counts as a phone)."""
    cols = [F.col(c) for c in df.columns if c != "text"]
    red = F.col("text")
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(F.regexp_count(red, F.lit(pat)).cast("long").alias(f"n_{name}"))
        red = F.regexp_replace(red, pat, token)
    return df.select(*cols, *counts, red.alias("text_redacted"))


def chunk_documents(df: DataFrame, chunk_len: int = 64, overlap: int = 16) -> DataFrame:
    """Sliding-window document chunking with overlap — the RAG /
    long-context prep step (pack_sequences cuts a concatenated token
    stream at hard boundaries; this keeps each doc intact and emits
    overlapping windows so no span is ever split without context).

    chunk i covers tokens [i·stride, i·stride + chunk_len) with
    stride = chunk_len - overlap; every doc emits at least one chunk
    (short docs yield one short chunk). Pure expression fan-out —
    split → bounded sequence → explode → slice — no shuffle beyond the
    explode-parallelism repartition, so at 100 TB chunking rides the
    same scan as the rest of the per-doc pipeline."""
    stride = chunk_len - overlap
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    # ceil((n - overlap) / stride), floored at 1 — double division is
    # exact for any realistic token count (integers < 2^52)
    n_chunks = F.greatest(
        F.lit(1).cast("long"),
        F.floor((n - overlap + stride - 1) / F.lit(float(stride))),
    )
    fanned = _spread(df, "doc_id").select(
        "doc_id",
        toks.alias("__toks"),
        n.alias("__n"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * stride
    return fanned.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        start.cast("long").alias("start_tok"),
        F.least(F.lit(chunk_len).cast("long"), F.col("__n") - start).alias("n_chunk_tokens"),
        F.concat_ws(" ", F.slice("__toks", (start + 1).cast("int"), chunk_len)).alias("chunk_text"),
    )


def dedup_lines(df: DataFrame, seg_tokens: int = 16, min_count: int = 3) -> DataFrame:
    """Corpus-level line dedup (the C4 / RefinedWeb boilerplate-removal
    step): split every document into lines, drop each line that occurs
    ``min_count``+ times ACROSS the corpus (navigation chrome, cookie
    banners, license footers), and reassemble the surviving lines in
    order. Since the synthetic corpus has no newline structure, a
    "line" here is a fixed ``seg_tokens``-token segment — the segmenter
    is the pluggable part, the corpus-wide counting/removal/reassembly
    is the operator.

    Scale shape: the segment explode shuffles on md5(segment) (32-byte
    keys, not the text) for the corpus-wide count; the hot-line set is
    tiny by construction (only text repeated >= min_count times — MBs
    of boilerplate vs TBs of corpus) → broadcast left join back onto
    the segments; reassembly is ONE per-doc aggregation of (idx, seg)
    structs — array_sort + filter + concat_ws, no window."""
    stride = seg_tokens
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    n_segs = F.greatest(
        F.lit(1).cast("long"), F.floor((n + stride - 1) / F.lit(float(stride)))
    )
    segs = _spread(df, "doc_id").select(
        "doc_id",
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_segs - 1)).alias("seg_idx"),
    ).select(
        "doc_id",
        "seg_idx",
        F.concat_ws(
            " ", F.slice("__toks", (F.col("seg_idx") * stride + 1).cast("int"), stride)
        ).alias("seg"),
    ).withColumn("fp", F.md5("seg"))
    hot = (
        segs.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("fp", F.lit(True).alias("__hot"))
    )
    flagged = segs.join(F.broadcast(hot), "fp", "left").select(
        "doc_id",
        "seg_idx",
        "seg",
        F.coalesce("__hot", F.lit(False)).alias("is_hot"),
    )
    rows = F.array_sort(
        F.collect_list(F.struct("seg_idx", "seg", "is_hot"))
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("is_hot").cast("long")).alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.filter(rows, lambda s: ~s["is_hot"]), lambda s: s["seg"]
            ),
        ).alias("text_clean"),
    )


def mixture_rates(
    counts: DataFrame,
    weights: dict[str, float],
    default_weight: float,
    budget_docs: Column,
) -> DataFrame:
    """Per-group keep-rates that shape a corpus toward a target mixture:
    group g with weight w_g receives rate = min(1, budget·w_g / n_g).

    `counts` is the tiny per-group (`source`, n) count frame (one partial-aggregated
    shuffle over a handful of keys); the returned frame is rates-only —
    broadcast it against the corpus and filter with a deterministic
    hash fraction for a map-only, RNG-free downsample. Rates round to
    9 decimals so an oracle engine reproduces the comparison exactly."""
    w = F.lit(float(default_weight))
    for g, wg in weights.items():
        w = F.when(F.col("source") == g, F.lit(float(wg))).otherwise(w)
    rate = F.least(F.lit(1.0), dround(budget_docs * w / F.col("n"), 9))
    return counts.select("source", rate.alias("keep_rate"))


COMPRESSION_SCHEMA = "doc_id long, n_bytes long, comp_bytes long, comp_ratio double"


def compression_ratio(documents: DataFrame) -> DataFrame:
    """zlib compression ratio per doc, Arrow-batched (stdlib zlib is
    in every executor's Python; level fixed so reruns agree on one
    installation). Map-only — rides the corpus scan."""
    import zlib
    from collections.abc import Iterator

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            raw = [t.encode("utf-8") for t in pdf["text"]]
            comp = [len(zlib.compress(b, 6)) for b in raw]
            n = [len(b) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": n,
                    "comp_bytes": comp,
                    "comp_ratio": [c / max(1, r) for c, r in zip(comp, n)],
                }
            )

    return documents.select("doc_id", "text").mapInPandas(run, schema=COMPRESSION_SCHEMA)
