"""Deduplication operators for training-data pipelines (SURVEY.md §2.12).

All hashes are md5-based so the DuckDB oracle can recompute them
exactly (see functions/hashing.py). Everything stays JVM-side —
built-in expression trees only, no Python UDFs in any hot path.

Scale design:
- exact dedup groups on md5(text), not the full text → the shuffle
  carries 32-byte keys instead of multi-KB documents,
- MinHash/LSH: shingle explode → groupBy(doc) agg of k min-hashes →
  band join. The candidate join is on (band_id, band_hash), so only
  colliding docs meet — never an all-pairs product,
- LSH candidates are verified map-only (verify_pairs: broadcast pair
  frames, array_intersect of shingle arrays); all-pairs n-gram Jaccard runs
  shingle-bucket joins with a minimum-overlap prune (HAVING n >= k)
  before the ratio.
"""

from __future__ import annotations

import logging
import sys

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_BAND_SIZE, MINHASH_SEEDS
from ..session import pin
from .common import spread as _spread

_LOG = logging.getLogger(__name__)

# Substring dedup: SUBSTR_WIN-token windows, every SUBSTR_STRIDE tokens
# for the stats (disjoint for removal); a window is duplicated when it
# occurs in SUBSTR_MIN_DOCS or more distinct documents.
SUBSTR_WIN = 16
SUBSTR_STRIDE = 8
SUBSTR_MIN_DOCS = 2


def word_shingles_col(n: int = 3) -> "F.Column":
    """`array<string>` of distinct word n-grams as a Column expression.

    The token array is LET-BOUND through a single-element transform so
    the ~3·m element_at references hit a bound VALUE — referencing the
    raw split() expression instead re-evaluates the split per reference
    (the CollapseProject inlining hazard measured on winnowing,
    SCALE.md "let-binding lesson")."""

    def build(toks: "F.Column") -> "F.Column":
        idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(toks, i + off) for off in range(n)]
        )
        return F.when(
            F.size(toks) >= n, F.array_distinct(F.transform(idx, gram))
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(
        F.transform(F.array(F.split(F.col("text"), " ")), build), 1
    )


def exploded_shingles(df: DataFrame, spread: bool = True) -> DataFrame:
    """(doc_id, shingle) pairs, distinct per doc.

    Repartitions the input first (common.spread): document tables often
    arrive in a handful of file splits, and the explode fans out
    50-100× — without the repartition all that expansion (and the md5
    work downstream) runs in as few tasks as there are splits.
    ``spread=False`` skips that shuffle — for callers exploding a
    handful of docs (one stream micro-batch), where the repartition
    costs a whole extra stage to balance work that fits in one task
    anyway.
    """
    if spread:
        df = _spread(df, "doc_id")
    # explode the EXPRESSION, not a withColumn alias: exploding a named
    # column makes Catalyst infer `size(c)>0 AND c IS NOT NULL`,
    # substitute the full shingle expression into it, and push that
    # below the exchange — evaluating the array construction 3× per
    # row on the pre-repartition (often single) partition
    return df.select("doc_id", F.explode(word_shingles_col()).alias("shingle"))


def minhash_signatures(shingled: DataFrame, with_counts: bool = False) -> DataFrame:
    """k min-hashes per doc: h_i = min(md5(i || '|' || shingle)) over the
    HEX STRING order — a uniform permutation family reproducible in SQL.

    with_counts=True also emits `n_sh` (distinct-shingle count) from the
    SAME aggregation — callers that need both (LSH verify) save a second
    full pass over the exploded shingle set."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"h{i}")
        for i in MINHASH_SEEDS
    ]
    if with_counts:
        aggs.append(F.count(F.lit(1)).alias("n_sh"))
    return shingled.groupBy("doc_id").agg(*aggs)


def _drop_hot_buckets(df: DataFrame, size: "F.Column", max_bucket: int, unit: str) -> DataFrame:
    """The hot-bucket guard (standard stop-shingle filter): ``df``'s
    rows whose bucket size ``size`` is at or under ``max_bucket``.

    ``df`` is pinned once, and the count of rows over the cap is
    observed on that pin's own job, so the guard reads its input once
    and runs no second job. A non-zero count is logged as ``unit`` (what
    one row of ``df`` is) under the caller's name — never silent."""
    df, seen = pin(df, hot=F.count(F.when(size > max_bucket, 1)))
    if seen["hot"]:
        _LOG.warning(
            "%s: dropping %d %s with > %d members (stop-shingle filter)",
            sys._getframe(1).f_code.co_name,
            seen["hot"],
            unit,
            max_bucket,
        )
    return df.filter(size <= max_bucket)


def _bucket_pairs(
    bucketed: DataFrame, id_col: str, max_bucket: int | None = None
) -> DataFrame:
    """(a, b) ordered pairs of ids sharing a bucket, via ONE aggregation:
    groupBy(bucket) → collect ids → drop singletons → expand pairs with
    an array-combinator expression. Versus a bucket self-join this halves
    the shuffles, and the overwhelmingly-singleton buckets are discarded
    in the (partially aggregated) groupBy instead of surviving into a
    join probe side.

    ``max_bucket`` is the hot-bucket guard: a bucket shared by n ids
    expands to n(n-1)/2 pairs INSIDE one aggregate row, so a single
    stop-shingle shared by 1M docs would materialize ~5·10¹¹ pairs in
    one task. The grouped buckets are pinned by
    :func:`_drop_hot_buckets`, which counts and logs the buckets over
    the cap on the pin's own job and drops them BEFORE expansion; the
    expansion then reads the pin. None skips the guard and its pin."""
    grouped = (
        bucketed.groupBy("bucket")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is not None:
        grouped = _drop_hot_buckets(grouped, F.size("ids"), max_bucket, "hot bucket(s)")
    return (
        grouped
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) ->"
                    " transform(slice(ids, i + 2, size(ids)),"
                    "  y -> struct(least(x, y) AS a, greatest(x, y) AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )


def band_buckets(signatures: DataFrame) -> DataFrame:
    """(doc_id, bucket) rows: one bucket per LSH band, via a single
    posexplode of the band-hash array (a union-per-band shape would
    make Catalyst execute the upstream aggregation once per band)."""
    n_bands = len(MINHASH_SEEDS) // MINHASH_BAND_SIZE
    band_cols = [
        F.concat_ws(
            ",",
            *[f"h{i}" for i in MINHASH_SEEDS[b * MINHASH_BAND_SIZE : (b + 1) * MINHASH_BAND_SIZE]],
        )
        for b in range(n_bands)
    ]
    return signatures.select(
        F.col("doc_id"), F.posexplode(F.array(*band_cols)).alias("band", "band_hash")
    ).select("doc_id", F.concat_ws("#", F.col("band"), F.col("band_hash")).alias("bucket"))


def lsh_band_candidates(signatures: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Candidate pairs (a < b) sharing any band bucket — one pass over
    the signatures, then bucket-pair expansion."""
    return _bucket_pairs(band_buckets(signatures), "doc_id", max_bucket=max_bucket).distinct()


def lsh_incremental_candidates(
    bands: DataFrame,
    new_bands: DataFrame,
    max_bucket: int | None = None,
) -> DataFrame:
    """Incremental-corpus candidates: pairs sharing a band bucket where
    at least ONE side is a new doc. ``bands`` is the :func:`band_buckets`
    table of the whole corpus, new docs included; ``new_bands`` is its
    rows for the new docs. The standing corpus's old×old pairs are
    never formed (they were checked when those docs arrived) — the
    cost of absorbing a batch scales with the batch, not the corpus.
    The new batch's buckets broadcast (a batch is small vs the corpus);
    the corpus side stays a streamed probe of the bucket join.

    Only buckets TOUCHED by a new doc can form a pair, so the corpus is
    read once, map-side semi-joined to the touched buckets: every later
    step (bucket sizes, the join) shuffles O(touched) rows, never
    O(corpus).

    ``max_bucket`` is the hot-bucket guard. Band buckets go hot exactly
    when the corpus carries mass-duplicated boilerplate — the thing
    dedup targets — and here the pairs form through a bucket JOIN
    rather than an array expansion, so the guard is a pre-join
    bucket-size filter: the touched rows are sized with a window count
    and go through :func:`_drop_hot_buckets` (one pinned pass, the
    dropped rows counted and logged on the pin's job), and the join
    reads only buckets at or under the cap. Only the corpus side is
    filtered: ``new_bands`` is a subset of ``bands``, so a new doc in a
    hot bucket finds no corpus row to pair with through it."""
    # no .distinct(): a broadcast left-semi build ignores duplicate keys
    touched = new_bands.select("bucket")
    bands = bands.join(F.broadcast(touched), "bucket", "left_semi")
    if max_bucket is not None:
        bands = _drop_hot_buckets(
            bands.withColumn("__bn", F.count(F.lit(1)).over(Window.partitionBy("bucket"))),
            F.col("__bn"),
            max_bucket,
            "row(s) of hot band buckets touched by this batch",
        ).drop("__bn")
    n = new_bands.select(F.col("doc_id").alias("__n_id"), "bucket")
    pairs = (
        bands.join(F.broadcast(n), "bucket")
        .filter(F.col("__n_id") != F.col("doc_id"))
        .select(
            F.least("__n_id", "doc_id").alias("a"),
            F.greatest("__n_id", "doc_id").alias("b"),
        )
    )
    return pairs.distinct()


def verify_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """(a, b, jaccard) of word-3-gram sets for each candidate pair
    (a, b) of ``docs`` (doc_id, text) — the LSH verify step. Pairs
    sharing no shingle are not emitted (as :func:`pair_jaccard` never
    emits them), so a doc with fewer than 3 tokens pairs with nothing.

    Map-only: the pairs broadcast onto the docs, which pick up the
    a-side :func:`word_shingles_col` array (already distinct); those
    rows broadcast onto the docs again for the b-side array, and
    |A∩B| = size(array_intersect) — the same integers and the same
    division as the shingle-bucket join, so the ratio is bit-identical,
    with no explode, no per-pair aggregation and no shuffle. ``docs``
    is scanned twice, once per side; restricting it by a broadcast
    left-semi join instead would be pushed into each branch of a
    unioned ``docs`` (a stream's store) and broadcast once per branch."""
    text = docs.select("doc_id", "text")
    pairs = F.broadcast(pairs.select("a", "b"))
    with_a = text.join(pairs, F.col("doc_id") == F.col("a")).select(
        "a", "b", word_shingles_col().alias("sa")
    )
    both = text.join(F.broadcast(with_a), F.col("doc_id") == F.col("b")).select(
        "a", "b", "sa", word_shingles_col().alias("sb")
    )
    n_inter = F.size(F.array_intersect("sa", "sb"))
    return (
        both.select(
            "a", "b", n_inter.alias("n_inter"), F.size("sa").alias("n_a"), F.size("sb").alias("n_b")
        )
        .filter(F.col("n_inter") > 0)
        .select(
            "a",
            "b",
            (
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def pair_overlap(
    shingled: DataFrame,
    min_overlap: int = 1,
    counts: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """(a, b, n_inter, n_a, n_b) per doc pair sharing >= ``min_overlap``
    shingles — the shared core every set-resemblance measure divides
    from (:func:`pair_jaccard` is a thin ratio selection over this
    output; containment callers pick their directional ratio from it).
    Every pair sharing a shingle is considered; candidate pairs are
    verified by :func:`verify_pairs`.

    `counts` (doc_id, n_sh) can be supplied by a caller that already
    aggregated the shingle set (minhash_signatures with_counts=True).
    ``max_bucket``: stop-shingle guard — a shingle shared by more than
    this many docs is dropped (logged) before the quadratic pair
    expansion; intersections through such shingles are not counted,
    which is the standard near-dup trade (stop-shingles carry no signal
    and their buckets are the OOM risk).
    """
    if counts is None:
        counts = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    else:
        counts = counts.select("doc_id", "n_sh")
    inter = (
        _bucket_pairs(
            shingled.select("doc_id", F.col("shingle").alias("bucket")),
            "doc_id",
            max_bucket=max_bucket,
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .filter(F.col("n_inter") >= min_overlap)
    )
    ca = counts.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(F.broadcast(ca), "a")
        .join(F.broadcast(cb), "b")
        .select("a", "b", "n_inter", "n_a", "n_b")
    )


def pair_jaccard(
    shingled: DataFrame,
    min_overlap: int = 1,
    counts: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Jaccard similarity per doc pair via shingle-bucket join — the
    symmetric-resemblance ratio over :func:`pair_overlap`'s counts
    (|A∩B| / |A∪B|); see that function for the guard parameters."""
    return pair_overlap(
        shingled, min_overlap=min_overlap, counts=counts, max_bucket=max_bucket
    ).select(
        "a",
        "b",
        (
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        ).alias("jaccard"),
    )


def substring_dup_stats(df: DataFrame) -> DataFrame:
    """Substring-level duplication stats (the suffix-array exact-
    substring dedup of Lee et al., approximated with rolling windows):
    fingerprint every SUBSTR_WIN-token window at SUBSTR_STRIDE offsets,
    and count per doc how many of its windows also occur in >=
    SUBSTR_MIN_DOCS - 1 OTHER documents — the cross-document duplicated-
    span signal line dedup misses when boilerplate is not segment-
    aligned. Only FULL windows fingerprint (a 3-token tail is not a
    16-token substring); docs shorter than the window report 0 windows.

    Scale shape: window explode fans out n/SUBSTR_STRIDE per doc
    (shuffles on md5 keys); the duplicated-fingerprint set is distinct-doc-counted
    in one partial-aggregated groupBy and broadcasts back (duplicated
    text is small vs the corpus); per-doc rollup is one aggregation."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    n_wins = F.when(
        n >= SUBSTR_WIN,
        F.floor((n - SUBSTR_WIN) / F.lit(float(SUBSTR_STRIDE))).cast("long") + 1,
    ).otherwise(F.lit(0).cast("long"))
    base = _spread(df.select(F.col("doc_id"), toks.alias("__toks"), n_wins.alias("__w")), "doc_id")
    wins = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.col("__w") > 0,
                F.sequence(F.lit(0).cast("long"), F.col("__w") - 1),
            ).otherwise(F.array().cast("array<long>"))
        ).alias("wi"),
        F.col("__toks"),
    ).select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ",
                F.slice("__toks", (F.col("wi") * SUBSTR_STRIDE + 1).cast("int"), SUBSTR_WIN),
            )
        ).alias("fp"),
    )
    hot = (
        wins.groupBy("fp")
        .agg(F.count_distinct(F.col("doc_id")).alias("nd"))
        .filter(F.col("nd") >= SUBSTR_MIN_DOCS)
        .select("fp", F.lit(True).alias("__hot"))
    )
    per = (
        wins.join(F.broadcast(hot), "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("__hot"), F.lit(False)).cast("long")).alias("n_dup"),
        )
    )
    from ..functions.rounding import dround

    return (
        df.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"),
            dround(
                F.when(
                    F.col("n_windows") > 0, F.col("n_dup") / F.col("n_windows")
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
    )


def remove_dup_substrings(df: DataFrame) -> DataFrame:
    """Span REMOVAL companion to ``substring_dup_stats`` — the actual
    Lee et al. exact-substring dedup outcome: cut each doc into
    DISJOINT SUBSTR_WIN-token windows (tail remainder kept as a
    short final window), drop every window whose fingerprint occurs in
    >= SUBSTR_MIN_DOCS DISTINCT documents, and reassemble the survivors in
    order. Stats use overlapping windows (stride < win) for detection
    sensitivity; removal uses disjoint windows so dropping one
    duplicated span never deletes tokens a neighboring clean span still
    owns, and a fully-clean doc reassembles byte-identical.

    Only FULL SUBSTR_WIN-token windows are removal candidates: a
    short tail window is a handful of tokens that collides across
    unrelated documents by chance (measured on the synthetic corpus),
    which is why Lee et al. impose a minimum duplicated-span length —
    tails always survive reassembly.

    Scale shape = dedup_lines' (curation.py): window explode shuffles
    md5 keys (32 bytes, not text) for the corpus-wide distinct-doc
    count; the hot set is tiny by construction (cross-doc duplicated
    text — MBs vs a TB corpus) and broadcasts back; reassembly is ONE
    per-doc aggregation of (idx, seg) structs — array_sort + filter +
    concat_ws, no window function."""
    stride = SUBSTR_WIN
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    n_wins = F.greatest(
        F.lit(1).cast("long"), F.floor((n + stride - 1) / F.lit(float(stride)))
    )
    wins = (
        _spread(df, "doc_id")
        .select(
            "doc_id",
            toks.alias("__toks"),
            n.alias("__n"),
            F.explode(F.sequence(F.lit(0).cast("long"), n_wins - 1)).alias("wi"),
        )
        .select(
            "doc_id",
            "wi",
            (F.col("wi") * stride + stride <= F.col("__n")).alias("is_full"),
            F.concat_ws(
                " ", F.slice("__toks", (F.col("wi") * stride + 1).cast("int"), stride)
            ).alias("seg"),
        )
        .withColumn("fp", F.md5("seg"))
    )
    # hot set from FULL windows only; a tail's fp can never equal a
    # full window's (different token counts → different text), so the
    # left join below is naturally tail-safe
    hot = (
        wins.filter("is_full")
        .groupBy("fp")
        .agg(F.count_distinct(F.col("doc_id")).alias("nd"))
        .filter(F.col("nd") >= SUBSTR_MIN_DOCS)
        .select("fp", F.lit(True).alias("__hot"))
    )
    flagged = wins.join(F.broadcast(hot), "fp", "left").select(
        "doc_id", "wi", "seg", F.coalesce("__hot", F.lit(False)).alias("is_hot")
    )
    rows = F.array_sort(F.collect_list(F.struct("wi", "seg", "is_hot")))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum(F.col("is_hot").cast("long")).alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(F.filter(rows, lambda s: ~s["is_hot"]), lambda s: s["seg"]),
        ).alias("text_clean"),
    )


def simhash16(df: DataFrame) -> DataFrame:
    """16-bit SimHash over distinct tokens, md5-derived bits.

    bit_j(token) = bit (j%4) of hex digit (j//4) of md5(token); the
    doc's simhash sets bit j iff sum over tokens of (2*bit_j - 1) > 0.
    Pure integer expression tree → identical in Spark and DuckDB.
    """
    tok = df.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("w")
    ).withColumn("hx", F.md5(F.col("w")))
    # hex digit d (0-based) of the md5, as an int 0..15
    digit_val = lambda d: F.conv(F.substring("hx", 1 + d, 1), 16, 10).cast("int")  # noqa: E731
    aggs = []
    for j in range(16):
        d, b = j // 4, j % 4
        bit = F.shiftright(digit_val(d), b).bitwiseAND(F.lit(1))
        aggs.append(F.sum(bit * 2 - 1).alias(f"s{j}"))
    sums = tok.groupBy("doc_id").agg(*aggs)
    simhash = None
    for j in range(16):
        term = F.when(F.col(f"s{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return sums.select("doc_id", simhash.cast("long").alias("simhash"))
