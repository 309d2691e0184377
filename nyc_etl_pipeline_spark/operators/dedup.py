"""Deduplication operators: exact, n-gram Jaccard (exact near-dup),
MinHash+LSH (approximate near-dup), SimHash.

Design for 100 TB:
- exact dedup is a hash group-by on the dedup key (one shuffle; at
  scale, group on a digest of the text rather than the text itself so
  shuffle rows stay small).
- n-gram Jaccard uses an inverted shingle index (explode -> self-join
  on shingle -> pair overlap counts). The hot-shingle blowup is capped
  with `max_doc_freq`: shingles appearing in more than that many docs
  carry almost no signal but quadratic join cost — standard trick from
  near-dup literature. With the cap off the result is exact (that is
  the oracle-checked configuration at test SF).
- MinHash banding turns all-pairs into per-bucket candidate pairs:
  cost ~ sum over buckets |bucket|^2, tunable by (bands, rows). The
  signature computation is one explode + group-by with k min-aggregates
  — all JVM-side; no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.hygiene import (
    register_checkpointed,
    release_checkpoint_now,
    scratch_persist,
)
from nyc_etl_pipeline_spark.functions import md5_long, round_half_up
from nyc_etl_pipeline_spark.operators.text import tokens

MERSENNE31 = 2147483647  # 2^31 - 1


def minhash_base_coeffs(i: int) -> tuple[int, int]:
    """(a_i, b_i) of the i-th universal hash mh_i = (a_i*h + b_i) mod p.
    Knuth/Fibonacci-style integer mixing of i — deterministic, and
    exposed so oracle SQL can be generated from the SAME constants."""
    a = (i * 2654435761 + 1) % MERSENNE31
    b = (i * 40503 + 2654435769) % MERSENNE31
    return a, b


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: canonical (min) id + copy count.

    At scale, group by md5(text) instead of text to keep shuffle keys
    at 16 bytes; collision probability is negligible at 2^64 docs.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep only new documents whose content digest is absent from the
    existing corpus AND unique within the batch (first-id wins) — the
    batch-vs-corpus dedup step of an incremental ingestion pipeline
    (the documents-table analogue of the NYC watermark pattern,
    reference gold.py:56-65 — dedup against what's already loaded).

    Both sides join on a 16-byte md5 digest: the corpus side can be a
    stored digest index rather than the raw text (at 100 TB you never
    re-ship document bodies through a shuffle to dedup them).
    """
    new_hashed = new_docs.withColumn("__h", F.md5(F.col(text_col)))
    corpus_hashes = corpus.select(F.md5(F.col(text_col)).alias("__h")).dropDuplicates()
    survivors = new_hashed.join(corpus_hashes, on="__h", how="left_anti")
    first_in_batch = survivors.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return (
        survivors.join(first_in_batch, on=["__h", id_col], how="inner")
        .drop("__h")
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct contiguous n-grams over an ALREADY-MATERIALIZED token
    array column, as strings.

    Gram assembly uses n element_at reads per position, NOT
    slice(toks, i, n): slice allocates a fresh n-element array per
    position inside the transform (measured 6x, same output).

    `toks` MUST be a materialized column (a projection alias), not an
    inline `tokens(text)` expression: codegen re-evaluates a non-
    trivial lambda-captured expression at every element_at read, so an
    inline split() re-tokenizes the document ~3x per gram position —
    measured 10.2 s vs 0.7 s for the sf0.1 shingle table, 14x, for
    byte-identical output. `word_shingles` wraps this correctly;
    `_shingle_table` is the two-step projection all dedup consumers
    share."""
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(k - n, F.lit(-1))),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
    )
    return F.array_distinct(F.when(k >= n, grams).otherwise(F.array().cast("array<string>")))


def positional_windows(toks: Column, k: int) -> Column:
    """ALL contiguous k-token windows of a materialized token array —
    positional, NOT distinct (the same passage appearing twice in one
    document yields two windows). Same element_at assembly as
    `shingles_from_tokens` (see its docstring for why `toks` must be a
    staged projection); the only difference is the absence of
    array_distinct, because passage-level dedup counts *occurrences*."""
    m = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(m - k, F.lit(-1))),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(k)]),
    )
    return F.when(m >= k, grams).otherwise(F.array().cast("array<string>"))


def duplicated_passage_stats(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Passage-level exact duplicate detection: how much of each
    document consists of k-token passages that also appear verbatim in
    at least one OTHER document.

    The sub-document analogue of exact dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"
    approximated at fixed window granularity instead of suffix
    arrays): a window is "duplicated" when its k-gram hash occurs in
    >= 2 distinct documents. Returns one row per document with >= 1
    window: (doc_id, n_windows, n_dup_windows, dup_frac).

    Scale shape: windows are built per-row inside a `transform` (no
    token-array duplication through the explode), keyed by the 60-bit
    `md5_long` hash (8-byte shuffle keys, oracle-reproducible). Two
    hash-partitioned aggregations + one equi-join on the hash — the
    duplicated-hash set is a tiny fraction of all windows, and AQE
    handles hot-window skew. No per-group buffering anywhere.
    """
    toks = df.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__t"))
    # Windows table feeds BOTH the duplicated-hash set and the per-doc
    # rollup; persist so the explode+hash runs once (see
    # ngram_jaccard_pairs for the persist-vs-checkpoint measurement).
    wins = (
        toks.select("doc_id", F.explode(positional_windows(F.col("__t"), k)).alias("__w"))
        .select("doc_id", md5_long("__w").alias("__h"))
        .transform(scratch_persist)
    )
    dup = (
        wins.groupBy("__h")
        .agg(F.count_distinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("__h", F.lit(1).alias("__dup"))
    )
    return (
        wins.join(dup, on="__h", how="left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("__dup"), F.lit(0))).cast("bigint").alias("n_dup_windows"),
        )
        .withColumn(
            "dup_frac",
            round_half_up(F.col("n_dup_windows") / F.col("n_windows"), 4),
        )
    )


def _covered_window_hits(
    df: DataFrame,
    l_tokens: int,
    id_col: str,
    text_col: str,
    min_occurrences: int,
) -> DataFrame:
    """Shared core of the exact-substring-dedup family: the HIT
    windows — every positional l-token window (doc_id, __pos
    [1-based]) whose content occurs >= min_occurrences times ANYWHERE
    in the corpus (a GLOBAL occurrence count, so a passage repeated
    within one document is duplicated too — the suffix-array
    semantics, unlike duplicated_passage_stats' cross-doc-only
    criterion). The window table is persisted for exactly its two
    window-scale consumers (the occurrence aggregate and the hit
    join-back); nothing else may aggregate it — per-doc window counts
    are positional arithmetic (see substring_dedup_report)."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__t")
    )
    wins = (
        toks.select(
            "doc_id",
            F.posexplode(positional_windows(F.col("__t"), l_tokens)).alias(
                "__p0", "__w"
            ),
        )
        .select(
            "doc_id",
            (F.col("__p0") + 1).alias("__pos"),
            md5_long("__w").alias("__h"),
        )
        .transform(scratch_persist)
    )
    dup = (
        wins.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= min_occurrences)
        .select("__h")
    )
    return wins.join(dup, on="__h").select("doc_id", "__pos")


def _merged_spans(hits: DataFrame, l_tokens: int) -> DataFrame:
    """Gaps-and-islands interval merge of the l-token windows starting
    at `hits.__pos`: consecutive window starts whose intervals
    [pos, pos+l) overlap or touch chain into one covered run. Starts
    are sorted per doc and every interval has the same length, so the
    running max end is just the previous start + l — one lag + one
    running sum, no self-join. Returns one row per maximal covered run
    (doc_id, span_start [1-based], span_end [exclusive], span_len)."""
    from pyspark.sql import Window as W

    w_seq = W.partitionBy("doc_id").orderBy("__pos")
    islands = hits.withColumn(
        "__new",
        (F.col("__pos").cast("bigint")
         - F.lag(F.col("__pos").cast("bigint"), 1, -(1 << 40)).over(w_seq)
         > l_tokens)
        .cast("int"),
    ).withColumn(
        "__isl",
        F.sum("__new").over(w_seq.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        islands.groupBy("doc_id", "__isl")
        .agg(
            F.min("__pos").alias("span_start"),
            (F.max("__pos") + l_tokens).alias("span_end"),
        )
        .select(
            "doc_id",
            F.col("span_start").cast("bigint").alias("span_start"),
            F.col("span_end").cast("bigint").alias("span_end"),
            (F.col("span_end") - F.col("span_start"))
            .cast("bigint")
            .alias("span_len"),
        )
    )


def duplicated_substring_spans(
    df: DataFrame,
    l_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_occurrences: int = 2,
) -> DataFrame:
    """EXACT substring-level duplicate spans — the Spark-shaped form
    of suffix-array training-data dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): every
    token position covered by some l-token window whose exact content
    occurs >= min_occurrences times in the corpus is duplicated, and
    overlapping/touching duplicated windows merge into maximal covered
    runs. Any duplicated substring of length >= l_tokens has ALL its
    l-windows duplicated, so covered runs are a superset-exact
    recovery of the suffix-array method's removable spans at
    granularity l (the published tools remove exactly this cover).

    Returns one row per maximal covered run: (doc_id, span_start
    [1-based token index], span_end [exclusive], span_len).

    Scale shape: window hashes (60-bit md5, 8-byte keys) shuffle once
    with map-side combine for the occurrence count; the duplicated-
    hash set joins back hash-partitioned (a tiny fraction of windows —
    AQE handles hot-window skew); the interval merge is one lag + one
    running sum per doc over its HIT windows only (not all windows),
    so per-doc window state is proportional to duplication, not
    document length. Nothing is ever pairwise and no suffix array —
    O(corpus) rows end to end, where the SA construction itself is the
    scale bottleneck of the published implementation."""
    hits = _covered_window_hits(df, l_tokens, id_col, text_col, min_occurrences)
    return _merged_spans(hits, l_tokens)


def substring_dedup_report(
    df: DataFrame,
    l_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_occurrences: int = 2,
) -> DataFrame:
    """Per-document rollup of `duplicated_substring_spans`: every
    input doc gets one row — (doc_id, n_tokens, n_windows,
    n_dup_windows, n_spans, dup_tokens, longest_run, dup_ratio) —
    zeros when nothing is duplicated (docs shorter than l_tokens have
    n_windows = 0). dup_tokens counts tokens inside merged covered
    runs; dup_ratio = dup_tokens / n_tokens rounded 4 (0.0 for empty
    docs)."""
    hits = _covered_window_hits(df, l_tokens, id_col, text_col, min_occurrences)
    spans = _merged_spans(hits, l_tokens)
    per_doc_hits = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_windows")
    )
    per_doc_spans = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").alias("dup_tokens"),
        F.max("span_len").alias("longest_run"),
    )
    # n_windows is purely POSITIONAL — max(0, n_tokens - l + 1) — so
    # it comes from the per-doc token count, NOT from aggregating the
    # corpus-scale window table. The r11 20M/30M probes caught the
    # aggregate form as a third window-scale consumer of the persisted
    # `wins`: the moment `wins` stops fitting the storage fraction
    # (just past 10M docs on one 96g JVM) every consumer re-reads it
    # from disk, and this one was pure waste.
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).cast("bigint").alias("n_tokens"),
    ).withColumn(
        "n_windows",
        F.greatest(F.lit(0), F.col("n_tokens") - F.lit(l_tokens) + 1).cast(
            "bigint"
        ),
    )
    z = F.lit(0)
    out = (
        base.join(per_doc_hits, on="doc_id", how="left")
        .join(per_doc_spans, on="doc_id", how="left")
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "n_windows",
        F.coalesce("n_dup_windows", z).cast("bigint").alias("n_dup_windows"),
        F.coalesce("n_spans", z).cast("bigint").alias("n_spans"),
        F.coalesce("dup_tokens", z).cast("bigint").alias("dup_tokens"),
        F.coalesce("longest_run", z).cast("bigint").alias("longest_run"),
        F.when(F.col("n_tokens") > 0,
               round_half_up(F.coalesce("dup_tokens", z) / F.col("n_tokens"), 4))
        .otherwise(F.lit(0.0))
        .alias("dup_ratio"),
    )


def exact_substring_dedup(
    df: DataFrame,
    l_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_occurrences: int = 2,
) -> DataFrame:
    """The removal half: drop every token inside a covered run and
    rejoin the survivors with single spaces — what the suffix-array
    dedup pipeline writes back out. Returns the input's id column plus
    (text_dedup, removed_tokens). NOTE this removes ALL copies of a
    duplicated span (the conservative variant of Lee et al.'s tooling;
    keeping one canonical copy needs a global occurrence ordering —
    compose with exact_dedup/first-id-wins if that is wanted).

    The token filter is a higher-order expression over the collected
    per-doc span list (merged maximal runs — at most n_tokens /
    l_tokens per doc), so removal adds one docs⋈spans hash join and
    zero extra shuffles of token data; text never leaves its row."""
    spans = duplicated_substring_spans(
        df, l_tokens, id_col, text_col, min_occurrences
    )
    span_lists = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = F.col("__t")
    covered = lambda i: F.exists(  # noqa: E731 — 1-based token index i
        F.col("__spans"),
        lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
    )
    kept = F.filter(toks, lambda t, i0: ~covered(i0 + 1))
    return (
        df.select(
            F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__t")
        )
        .join(span_lists, on="doc_id", how="left")
        .select(
            "doc_id",
            F.when(F.col("__spans").isNull(), F.concat_ws(" ", toks))
            .otherwise(F.concat_ws(" ", kept))
            .alias("text_dedup"),
            F.when(F.col("__spans").isNull(), F.lit(0))
            .otherwise(F.size(toks) - F.size(kept))
            .cast("bigint")
            .alias("removed_tokens"),
        )
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams of a raw text column. Column-level API —
    cannot stage a projection, so the token array is re-evaluated per
    gram read; ONLY use this for single-expression contexts. Row-scale
    pipelines should project tokens first and call
    `shingles_from_tokens` (see `_shingle_table`)."""
    return shingles_from_tokens(tokens(text), n)


def _shingle_table(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, shingle-hash) inverted-index rows. Shingles are joined by
    a 60-bit md5-derived hash rather than by string — 8-byte shuffle
    keys instead of ~20-40-byte strings; a cross-doc overlap miscount
    needs a collision between two distinct shingles in the same pair
    (~n_shingles^2 / 2^61 — negligible at any realistic corpus). The
    hash is `md5_long`, reproducible outside Spark, so every consumer
    (q18/q23/q41/q47/q51) stays DuckDB-oracle-checkable end to end.

    Tokenization is staged as its own projection so the token array is
    computed once per document (see shingles_from_tokens — 14x)."""
    return (
        df.select(F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__toks"))
        .select("__id", F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("__sh_str"))
        .select("__id", md5_long("__sh_str").alias("__sh"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via inverted shingle index.

    Returns (a_id, b_id, jaccard) with a_id < b_id and
    jaccard >= threshold, jaccard rounded to 3.

    With max_doc_freq=None the result is exact. Setting it drops
    shingles shared by more than that many documents before the
    self-join — the standard scalability/recall trade for web-scale
    corpora (hot shingles are stopword-ish n-grams).
    """
    sh = _shingle_table(df, id_col, text_col, n)
    if max_doc_freq is not None:
        freq = sh.groupBy("__sh").agg(F.count(F.lit(1)).alias("__df"))
        sh = sh.join(freq.filter(F.col("__df") <= max_doc_freq), on="__sh", how="inner").select(
            "__id", "__sh"
        )
    # The shingle table feeds three subtrees (sizes + both join sides);
    # without persist Spark re-runs the explode+distinct generation 3x
    # (measured: 3x the query's total join cost). persist(), NOT
    # localCheckpoint: checkpoint was tried for leak hygiene (r7) and
    # measured 1.8-4x SLOWER across the dedup family (q24 1.9->7.5 s,
    # q18 1.5->2.7 s at sf0.1) — RDD checkpoint blocks are
    # row-serialized and carry no stats, losing the columnar cache and
    # degrading downstream join choice. The cache entry outlives the
    # result until hygiene's epoch registry releases it.
    sh = sh.transform(scratch_persist)
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))

    a = sh.select(F.col("__id").alias("a_id"), "__sh")
    b = sh.select(F.col("__id").alias("b_id"), "__sh")
    overlap = (
        a.join(b, on="__sh", how="inner")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("__ov"))
    )
    sa = sizes.select(F.col("__id").alias("a_id"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col("__id").alias("b_id"), F.col("__n").alias("__nb"))
    jac = F.col("__ov") / (F.col("__na") + F.col("__nb") - F.col("__ov"))
    return (
        overlap.join(sa, on="a_id")
        .join(sb, on="b_id")
        .filter(jac >= threshold)
        .select("a_id", "b_id", F.round(jac, 3).alias("jaccard"))
    )


def jaccard_prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via PPJoin-style PREFIX FILTERING
    — same output contract as `ngram_jaccard_pairs` (a_id < b_id,
    jaccard >= threshold, rounded to 3), different candidate plan.

    Where `ngram_jaccard_pairs` self-joins the FULL inverted index (and
    offers only the lossy `max_doc_freq` cap against hot shingles),
    this generates candidates from each document's PREFIX: its
    |A| - ceil(t*|A|) + 1 rarest shingles under a global
    (doc_freq, hash) order. If J(A,B) >= t then |A∩B| >= t*|A|, so the
    overlap cannot fit entirely in the |A|'s non-prefix tail — every
    qualifying pair shares a shingle inside BOTH prefixes, making the
    filter LOSSLESS (Chaudhuri/Xiao ppjoin bound). Candidates are then
    exactly verified against the full index.

    Why this matters at 100 TB: the join cost of the inverted-index
    formulation is sum(df(s)^2) over shingles — dominated by hot,
    signal-free shingles. Under rarity order those hot shingles sort to
    the END of every document, i.e. into no document's prefix, so the
    worst skew buckets vanish from the candidate join WITHOUT the
    recall loss of `max_doc_freq`. Prefix length shrinks as threshold
    rises (t=0.9 keeps ~10% of each doc's shingles on the join).
    """
    sh = _shingle_table(df, id_col, text_col, n)
    # feeds: doc-freq, rarity ranking, sizes, and both exact-verify
    # sides — persist or the shingle generation re-runs 5x (persist,
    # not checkpoint: see ngram_jaccard_pairs' measurement).
    sh = sh.transform(scratch_persist)
    freq = sh.groupBy("__sh").agg(F.count(F.lit(1)).alias("__df"))
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    from pyspark.sql.window import Window

    ranked = (
        sh.join(freq, on="__sh")
        .withColumn(
            "__rk",
            F.row_number().over(Window.partitionBy("__id").orderBy("__df", "__sh")),
        )
    )
    # Prefix length |A| - ceil(t*|A|) + 1. The 1e-9 slack guards the
    # float product landing one ulp ABOVE an exact integer boundary
    # (ceil one too high would shorten the prefix and lose pairs); a
    # too-LONG prefix only admits extra candidates, which the exact
    # verify then discards — correctness never depends on this float.
    pref_len = F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n") - F.lit(1e-9)) + 1
    pref = (
        ranked.join(sizes, on="__id")
        .filter(F.col("__rk") <= pref_len)
        .select("__id", "__sh")
    )
    cand = (
        pref.select(F.col("__id").alias("a_id"), "__sh")
        .join(pref.select(F.col("__id").alias("b_id"), "__sh"), on="__sh")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    # Exact verify: overlap counted only for surviving candidates.
    ov = (
        cand.join(sh.select(F.col("__id").alias("a_id"), "__sh"), on="a_id")
        .join(sh.select(F.col("__id").alias("b_id"), "__sh"), on=["b_id", "__sh"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("__ov"))
    )
    sa = sizes.select(F.col("__id").alias("a_id"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col("__id").alias("b_id"), F.col("__n").alias("__nb"))
    # identical scoring expression to ngram_jaccard_pairs (oracle parity)
    jac = F.col("__ov") / (F.col("__na") + F.col("__nb") - F.col("__ov"))
    return (
        ov.join(sa, on="a_id")
        .join(sb, on="b_id")
        .filter(jac >= threshold)
        .select("a_id", "b_id", F.round(jac, 3).alias("jaccard"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: containment(A in B) = |A∩B| / |A|.
    Jaccard misses a short document quoted wholesale inside a much
    longer one (the union dilutes the score); containment is the
    standard signal for quote/boilerplate/subset detection. Returns
    (a_id, b_id, cont_a_in_b, cont_b_in_a) for pairs where EITHER
    direction reaches `threshold`, a_id < b_id, scores rounded to 3.

    Same inverted-shingle-index shape (and the same `max_doc_freq`
    hot-shingle scale knob) as `ngram_jaccard_pairs` — only the final
    scoring expression differs."""
    sh = _shingle_table(df, id_col, text_col, n)
    if max_doc_freq is not None:
        freq = sh.groupBy("__sh").agg(F.count(F.lit(1)).alias("__df"))
        sh = sh.join(freq.filter(F.col("__df") <= max_doc_freq), on="__sh", how="inner").select(
            "__id", "__sh"
        )
    sh = sh.transform(scratch_persist)  # sizes + both join sides (see ngram_jaccard_pairs)
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    a = sh.select(F.col("__id").alias("a_id"), "__sh")
    b = sh.select(F.col("__id").alias("b_id"), "__sh")
    overlap = (
        a.join(b, on="__sh", how="inner")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("__ov"))
    )
    sa = sizes.select(F.col("__id").alias("a_id"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col("__id").alias("b_id"), F.col("__n").alias("__nb"))
    c_ab = F.col("__ov") / F.col("__na")
    c_ba = F.col("__ov") / F.col("__nb")
    return (
        overlap.join(sa, on="a_id")
        .join(sb, on="b_id")
        .filter((c_ab >= threshold) | (c_ba >= threshold))
        .select(
            "a_id",
            "b_id",
            round_half_up(c_ab, 3).alias("cont_a_in_b"),
            round_half_up(c_ba, 3).alias("cont_b_in_a"),
        )
    )


def _minhash_signature_cols(num_hashes: int) -> list[Column]:
    """k universal-hash min-aggregates over the base shingle hash h:
    mh_i = min((a_i * h + b_i) mod p). h is the non-negative md5_long
    shingle hash, so plain `%` matches across engines; a_i*h + b_i
    stays under 2^62 (a_i < 2^31, h mod p < 2^31) — no overflow."""
    # Expressions are built as SQL strings parsed in ONE py4j call
    # each: the previous nested-Column form cost ~7 py4j round-trips
    # per hash — ~0.85 s of DRIVER time to construct 128 aggregates,
    # paid on EVERY plan build (r13 build-time profile; the bench pays
    # it twice per query). Same operators, same integer arithmetic,
    # value-identical — pmod(a*pmod(__sh,p)+b, p) over non-negative
    # md5_long input.
    p = MERSENNE31
    cols = []
    for i in range(num_hashes):
        a, b = minhash_base_coeffs(i)
        cols.append(
            F.expr(f"min(pmod({a} * pmod(__sh, {p}) + {b}, {p}))").alias(f"mh_{i}")
        )
    return cols


def _minhash_sig_table(sh: DataFrame, num_hashes: int, id_out: str) -> DataFrame:
    """(id_out, mh_0..mh_{k-1}) from a (__id, __sh) shingle table:
    the plain k-wide JVM min-aggregate, shared by all signature
    consumers.

    An Arrow partial-summaries alternative (per-batch numpy
    (rows x k) modular matmul + minimum.reduceat, then a final k-wide
    min over ~|docs| partial rows) was built and MEASURED against
    this on an idle host: at 3M docs / 168M shingles / k=64 the JVM
    agg took 4.2 s vs Arrow 27 s; at 1M docs / 56M shingles / k=128,
    2.7 s vs 34.2 s. k min-agg expressions stay inside whole-stage
    codegen with map-side partial combine (unlike the higher-order
    fold trees of the _nearest_cell lesson), so the JVM path wins by
    6-12x and the Arrow path was removed. An earlier contended-host
    reading (201 s for the JVM agg at 3M docs) did not reproduce."""
    return sh.groupBy(F.col("__id").alias(id_out)).agg(
        *_minhash_signature_cols(num_hashes)
    )


def _melt_bands(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(__id, band_idx, band_key) from a signature table. Band key =
    md5_long of the comma-joined row values: an 8-byte bigint join/
    shuffle key instead of the 32-byte md5 hex string (same
    construction in any engine with md5 — oracles mirror it via
    sql_md5_long). The key only needs equality semantics; a 2^-60
    cross-band collision merely adds a candidate pair that exact
    Jaccard verification then rejects, so output is unaffected."""
    # SQL-string construction for the same reason as
    # _minhash_signature_cols: the nested-Column band builder cost
    # ~0.9 s of driver time per plan build at 32 bands. `CAST(conv(
    # substring(md5(x),1,15),16,10) AS BIGINT)` is md5_long verbatim.
    band_exprs = [
        "CAST(conv(substring(md5(concat_ws(',', {cols})), 1, 15), 16, 10)"
        " AS BIGINT) AS band_{b}".format(
            cols=", ".join(f"mh_{b * rows + r}" for r in range(rows)), b=b
        )
        for b in range(bands)
    ]
    banded = sig.selectExpr("__id", *band_exprs)
    structs = ", ".join(
        f"named_struct('band_idx', {b}, 'band_key', band_{b})" for b in range(bands)
    )
    return banded.selectExpr(
        "__id", f"explode(array({structs})) AS bk"
    ).select("__id", "bk.band_idx", "bk.band_key")


def minhash_band_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    sh: DataFrame | None = None,
) -> DataFrame:
    """(id, band_idx, band_key) LSH index rows — the STORED artifact
    of near-dup dedup at scale: the corpus is indexed once (and the
    index appended per accepted batch); arriving batches join their
    bands against it instead of ever re-signaturing the corpus.
    Pass `sh` to reuse an already-built shingle table."""
    rows = num_hashes // bands
    if sh is None:
        sh = _shingle_table(df, id_col, text_col, n)
    sig = _minhash_sig_table(sh, num_hashes, "__id")
    return _melt_bands(sig, bands, rows).withColumnRenamed("__id", id_col)


def _doc_shingle_arrays(sh: DataFrame) -> DataFrame:
    """Per-doc hashed-shingle set + size, for O(|A|+|B|) exact
    verification via array_intersect (never a row-level shingle
    cross join per candidate pair)."""
    return sh.groupBy("__id").agg(
        F.collect_set("__sh").alias("__arr"), F.count(F.lit(1)).alias("__n")
    )


def incremental_neardup_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """Batch-vs-corpus NEAR-dup dedup — the MinHash companion of
    `incremental_exact_dedup` (q48): keep only arriving documents that
    are not a near-duplicate (verified n-gram Jaccard >= threshold) of
    (a) any corpus document, or (b) any EARLIER (lower-id) document in
    the same batch. Returns the surviving new_docs rows.

    Within-batch the rule is the greedy pairwise filter (first id
    wins); transitive chains are deliberately NOT collapsed here —
    clustering whole near-dup families is `neardup_clusters`' job,
    while the incremental gate must stay a single bounded pass.

    Scale shape: candidates come from equi-joins on (band_idx,
    band_key) — batch bands vs the corpus band INDEX (stored, see
    `minhash_band_table`; rebuilt here from `corpus` for the
    self-contained form) and batch vs itself. Only candidate ids'
    shingle arrays are materialized for verification (semi-join
    pruned). Cost is proportional to the BATCH plus its candidate
    fan-out, never to corpus size.
    """
    # ids must be globally unique across BOTH inputs: the verification
    # stage unions the two shingle tables and groups by id, so a shared
    # id would pool two documents' shingles (inflated sizes -> silently
    # UNDER-scored Jaccard -> kept near-dups). Fail fast instead; the
    # probe is an id-projection join stopped at the first overlap.
    clash = (
        new_docs.select(F.col(id_col))
        .join(corpus.select(F.col(id_col)), on=id_col)
        .limit(1)
        .collect()
    )
    if clash:
        raise ValueError(
            f"{id_col}={clash[0][0]!r} appears in BOTH new_docs and corpus; "
            "ids must be disjoint (re-ingestions need a fresh id or an "
            "upstream exact-dedup pass)"
        )
    new_sh = _shingle_table(new_docs, id_col, text_col, n).transform(scratch_persist)
    cor_sh = _shingle_table(corpus, id_col, text_col, n)
    # nb feeds BOTH candidate joins (vs-corpus and within-batch) but
    # must NOT be persisted: the signature agg's shuffle is shared
    # across the two subtrees as a ReusedExchange, so the recompute is
    # nearly free, while materializing the exploded band rows measured
    # 2x SLOWER (8.5 s vs 4.5 s, sf0.1 best-of-2) than letting the
    # plan share the exchange.
    nb = minhash_band_table(new_docs, id_col, text_col, n, num_hashes, bands, sh=new_sh)
    cb = minhash_band_table(corpus, id_col, text_col, n, num_hashes, bands, sh=cor_sh)

    vs_corpus = (
        nb.select(F.col(id_col).alias("new_id"), "band_idx", "band_key")
        .join(cb.select(F.col(id_col).alias("other_id"), "band_idx", "band_key"),
              on=["band_idx", "band_key"])
        .select("new_id", "other_id")
    )
    within = (
        nb.select(F.col(id_col).alias("new_id"), "band_idx", "band_key")
        .join(nb.select(F.col(id_col).alias("other_id"), "band_idx", "band_key"),
              on=["band_idx", "band_key"])
        .filter(F.col("other_id") < F.col("new_id"))
        .select("new_id", "other_id")
    )
    # cands feeds three consumers (two id prunes + the verify join):
    # persist the pair list (candidate-fan-out-sized, tiny next to the
    # shingle tables) so the band joins run once.
    cands = vs_corpus.unionByName(within).dropDuplicates().transform(scratch_persist)

    # Explicit semi-join prune BEFORE the collect_set aggregate: only
    # candidate ids' shingle arrays are ever materialized. Without
    # this, the per-doc array agg runs over the ENTIRE corpus — the
    # one corpus-sized cost in a path whose contract is "batch +
    # candidate fan-out, never corpus size" (measured at 1M corpus /
    # 10k batch: the prune is what keeps verification batch-bounded).
    # The new side only ever holds batch ids; the other side can hold
    # corpus ids (vs_corpus) or batch ids (within).
    cand_new_ids = cands.select(F.col("new_id").alias("__id")).dropDuplicates()
    cand_other_ids = cands.select(F.col("other_id").alias("__id")).dropDuplicates()
    new_side = _doc_shingle_arrays(
        new_sh.join(cand_new_ids, on="__id", how="leftsemi")
    ).select(
        F.col("__id").alias("new_id"), F.col("__arr").alias("__arr_a"), F.col("__n").alias("__na")
    )
    other_side = _doc_shingle_arrays(
        new_sh.unionByName(cor_sh).join(cand_other_ids, on="__id", how="leftsemi")
    ).select(
        F.col("__id").alias("other_id"), F.col("__arr").alias("__arr_b"), F.col("__n").alias("__nb")
    )
    ovc = F.size(F.array_intersect("__arr_a", "__arr_b"))
    jac = ovc / (F.col("__na") + F.col("__nb") - ovc)
    dropped = (
        cands.join(new_side, on="new_id")
        .join(other_side, on="other_id")
        .filter(jac >= threshold)
        .select(F.col("new_id").alias(id_col))
        .dropDuplicates()
    )
    return new_docs.join(dropped, on=id_col, how="left_anti")


def bloom_bits(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 1 << 16,
    k_hashes: int = 4,
) -> DataFrame:
    """The Bloom filter over a benchmark corpus's distinct word
    n-grams, as a (bit) table of the set positions: each shingle sets
    k_hashes bits at pmod(md5_long(shingle || '|j'), m_bits).

    The table is the STORED decontamination artifact at 100 TB scale:
    its size is bounded by m_bits rows (a few MB) regardless of
    benchmark size, so it broadcasts to every executor and the corpus
    probe is a map-side broadcast join — no shuffle of either side's
    shingles. md5-derived positions are reproducible outside Spark
    (the q177 oracle rebuilds the filter bit-for-bit in SQL).

    The only distinct runs AFTER hashing, on the integer bit
    positions: partial aggregation caps each map task's output at
    m_bits ints, so the build shuffles o(m_bits × partitions)
    regardless of benchmark size — shingle STRINGS are never
    deduplicated or shuffled (a string-level dropDuplicates here is
    the same distinct-string cliff the probe side's first cut hit)."""
    bsh = (
        benchmark.select(tokens(F.col(text_col)).alias("__toks"))
        .select(F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("__sh_str"))
    )
    probes = F.array(*[
        F.pmod(
            md5_long(F.concat(F.col("__sh_str"), F.lit(f"|{j}"))), F.lit(m_bits)
        )
        for j in range(k_hashes)
    ])
    return bsh.select(F.explode(probes).alias("bit")).dropDuplicates()


def bloom_contamination_scores(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 1 << 16,
    k_hashes: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """`contamination_scores` through a Bloom filter instead of the
    exact benchmark shingle set — the form that survives a benchmark
    suite too large to broadcast as raw shingles: the filter is
    m_bits-bounded however many eval sets it absorbs, and admits a
    deterministic, oracle-replicable false-positive rate (a shingle
    counts as a hit iff ALL k_hashes bits are set), so contamination
    is over- but never under-estimated — the safe direction for a
    drop-if-contaminated gate.

    Same output shape as contamination_scores: (id, n_shingles,
    n_hit, contamination rounded to 3, is_contaminated). Scale shape:
    the corpus pays ONE shingle pass — posexplode keeps each
    occurrence's identity, so the hit test and the per-doc denominator
    fold out of the same subtree (the exact-form sibling's 8.8→3.4 s
    single-pass lesson); each occurrence emits its k_hashes positions,
    the broadcast bit-table LEFT join marks them map-side, and a
    (doc, position) aggregate keeps occurrences whose k probes all
    matched — shuffle keys are ~16 bytes, shingle STRINGS never
    shuffle. An occurrence of a contaminated shingle counts every
    time it appears (the oracle's `csh WHERE s IN hitsh` semantics —
    a (doc, shingle-hash) grouping would collapse repeats within a
    doc). (A first cut routed a distinct shingle-string dictionary
    through the membership test to probe each unique n-gram once; on
    near-unique-shingle corpora — most real text — the dictionary is
    corpus-sized, and its two string shuffles measured a super-linear
    cliff between 200k and 1M docs. The per-occurrence bigint form
    replaced it.)"""
    bits = bloom_bits(benchmark, text_col, n, m_bits, k_hashes).withColumn(
        "__b", F.lit(1)
    )
    csh = (
        docs.select(F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__toks"))
        .select(
            "__id",
            F.posexplode(shingles_from_tokens(F.col("__toks"), n)).alias(
                "__pos", "__sh_str"
            ),
        )
    )
    pos_rows = csh.select(
        "__id",
        "__pos",
        F.explode(F.array(*[
            F.pmod(
                md5_long(F.concat(F.col("__sh_str"), F.lit(f"|{j}"))),
                F.lit(m_bits),
            )
            for j in range(k_hashes)
        ])).alias("bit"),
    )
    per_doc = (
        pos_rows.join(F.broadcast(bits), on="bit", how="left")
        .groupBy("__id", "__pos")
        .agg((F.count("__b") == k_hashes).cast("bigint").alias("__is_hit"))
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__is_hit").alias("__hit"),
        )
    )
    rate = F.col("__hit") / F.col("__n")
    return (
        docs.select(F.col(id_col).alias("__id"))
        .join(per_doc, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("__n", F.lit(0)).cast("bigint").alias("n_shingles"),
            F.coalesce("__hit", F.lit(0)).cast("bigint").alias("n_hit"),
            F.when(F.col("__n").isNull(), F.lit(0.0))
            .otherwise(round_half_up(rate, 3))
            .alias("contamination"),
            F.when(F.col("__n").isNull(), F.lit(False))
            .otherwise(rate >= threshold)
            .alias("is_contaminated"),
        )
    )


def incremental_neardup_dedup_indexed(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    corpus_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """`incremental_neardup_dedup` against a STORED corpus band index
    (minhash_band_table rows, e.g. the table a streaming
    `band_index_maintainer` grows per batch) instead of re-signaturing
    the corpus. This is the at-scale form: the corpus contributes

      * candidate generation — an equi-join of batch bands against the
        index (index-sized, never re-derived), and
      * verification text — `corpus_docs` is semi-join pruned to the
        candidate ids BEFORE shingling, so only candidate documents'
        text is ever tokenized (at 100 TB that prune pushes down to an
        id-keyed scan; the corpus is never re-read in full).

    `corpus_index` must have been built with the SAME (n, num_hashes,
    bands) — band keys are positional. Decision semantics (greedy
    first-id-wins within batch, verified Jaccard >= threshold) are
    identical to the self-contained form; q176 hash-matches this path
    against q127's full-chain SQL oracle.
    """
    clash = (
        new_docs.select(F.col(id_col))
        .join(corpus_index.select(F.col(id_col)).dropDuplicates(), on=id_col)
        .limit(1)
        .collect()
    )
    if clash:
        raise ValueError(
            f"{id_col}={clash[0][0]!r} appears in BOTH new_docs and the "
            "corpus index; ids must be disjoint (re-ingestions need a fresh "
            "id or an upstream exact-dedup pass)"
        )
    new_sh = _shingle_table(new_docs, id_col, text_col, n).transform(scratch_persist)
    nb = minhash_band_table(new_docs, id_col, text_col, n, num_hashes, bands, sh=new_sh)
    cb = corpus_index.select(id_col, "band_idx", "band_key")

    vs_corpus = (
        nb.select(F.col(id_col).alias("new_id"), "band_idx", "band_key")
        .join(cb.select(F.col(id_col).alias("other_id"), "band_idx", "band_key"),
              on=["band_idx", "band_key"])
        .select("new_id", "other_id")
    )
    within = (
        nb.select(F.col(id_col).alias("new_id"), "band_idx", "band_key")
        .join(nb.select(F.col(id_col).alias("other_id"), "band_idx", "band_key"),
              on=["band_idx", "band_key"])
        .filter(F.col("other_id") < F.col("new_id"))
        .select("new_id", "other_id")
    )
    cands = vs_corpus.unionByName(within).dropDuplicates().transform(scratch_persist)

    cand_new_ids = cands.select(F.col("new_id").alias("__id")).dropDuplicates()
    cand_other_ids = cands.select(F.col("other_id").alias("__id")).dropDuplicates()
    # Corpus text is pruned to candidate ids FIRST, then shingled —
    # the only corpus-doc access in the whole path is this id-keyed
    # semi-join (contrast the self-contained form, which shingles the
    # full corpus because it also has to build the bands from it).
    cand_corpus_sh = _shingle_table(
        corpus_docs.join(
            cand_other_ids.select(F.col("__id").alias(id_col)),
            on=id_col, how="leftsemi",
        ),
        id_col, text_col, n,
    )
    new_side = _doc_shingle_arrays(
        new_sh.join(cand_new_ids, on="__id", how="leftsemi")
    ).select(
        F.col("__id").alias("new_id"), F.col("__arr").alias("__arr_a"), F.col("__n").alias("__na")
    )
    other_side = _doc_shingle_arrays(
        new_sh.unionByName(cand_corpus_sh).join(cand_other_ids, on="__id", how="leftsemi")
    ).select(
        F.col("__id").alias("other_id"), F.col("__arr").alias("__arr_b"), F.col("__n").alias("__nb")
    )
    ovc = F.size(F.array_intersect("__arr_a", "__arr_b"))
    jac = ovc / (F.col("__na") + F.col("__nb") - ovc)
    dropped = (
        cands.join(new_side, on="new_id")
        .join(other_side, on="other_id")
        .filter(jac >= threshold)
        .select(F.col("new_id").alias(id_col))
        .dropDuplicates()
    )
    return new_docs.join(dropped, on=id_col, how="left_anti")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, then EXACT Jaccard
    verification of the candidates.

    Probabilistic recall (a pair is a candidate iff some band matches
    exactly); precision is exact because candidates are re-verified
    against true n-gram Jaccard. Returns (a_id, b_id, jaccard).
    """
    rows = num_hashes // bands
    # Shared by the signature build and the exact-verification join.
    # DELIBERATE leak-until-eviction: the result DataFrame is lazy, so
    # this function cannot unpersist (that would cancel the cache before
    # the caller materializes). Blocks are MEMORY_AND_DISK, evicted LRU
    # under memory pressure; long-lived sessions issuing many of these
    # should call spark.catalog.clearCache() between corpus-scale dedup
    # passes (persist, not checkpoint — see ngram_jaccard_pairs).
    sh_cached = _shingle_table(df, id_col, text_col, n).transform(scratch_persist)
    sig = _minhash_sig_table(sh_cached, num_hashes, "__id")
    melted = _melt_bands(sig, bands, rows)

    a = melted.select(F.col("__id").alias("a_id"), "band_idx", "band_key")
    b = melted.select(F.col("__id").alias("b_id"), "band_idx", "band_key")
    cands = (
        a.join(b, on=["band_idx", "band_key"], how="inner")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates()
        .transform(scratch_persist)  # three consumers: id prune x2 + the verify join
    )

    # exact verification: recompute Jaccard only for candidate pairs.
    # Shingle sets ride as per-doc arrays so each pair costs
    # O(|A|+|B|) via array_intersect — a row-level shingle join here
    # would cross |A|x|B| rows per pair and erase the LSH win.
    # Semi-join prune first: in a mostly-unique corpus most docs share
    # no band bucket with anyone, so aggregating ONLY candidate ids'
    # arrays skips the corpus-sized collect_set (the dominant
    # verification cost at volume).
    cand_ids = (
        cands.select(F.col("a_id").alias("__id"))
        .unionByName(cands.select(F.col("b_id").alias("__id")))
        .dropDuplicates()
    )
    doc_arrays = _doc_shingle_arrays(
        sh_cached.join(cand_ids, on="__id", how="leftsemi")
    )
    a_side = doc_arrays.select(
        F.col("__id").alias("a_id"), F.col("__arr").alias("__arr_a"), F.col("__n").alias("__na")
    )
    b_side = doc_arrays.select(
        F.col("__id").alias("b_id"), F.col("__arr").alias("__arr_b"), F.col("__n").alias("__nb")
    )
    ovc = F.size(F.array_intersect("__arr_a", "__arr_b"))
    jac = ovc / (F.col("__na") + F.col("__nb") - ovc)
    return (
        cands.join(a_side, on="a_id")
        .join(b_side, on="b_id")
        .filter(jac >= threshold)
        .select("a_id", "b_id", F.round(jac, 3).alias("jaccard"))
    )


def contamination_scores(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination: for every candidate training document,
    the fraction of its distinct word n-grams that appear ANYWHERE in
    the benchmark corpus — the standard n-gram-overlap contamination
    check run before training on scraped data (a doc that substantially
    contains an eval set must be dropped, not trained on).

    Returns (id, n_shingles, n_hit, contamination rounded to 3,
    is_contaminated). Docs too short to produce an n-gram score 0.

    Scale shape: the benchmark side is distinct-shingle-hashed and
    BROADCAST (eval sets are tiny by definition — that asymmetry is the
    whole design); the corpus side streams through one hash-join probe
    + one groupBy on doc id. No corpus self-join, no shuffle of the
    benchmark, corpus cost is one shingle pass — O(corpus tokens).
    """
    doc_sh = _shingle_table(docs, id_col, text_col, n)
    bench_sh = (
        _shingle_table(benchmark, id_col, text_col, n)
        .select("__sh")
        .dropDuplicates()
        .withColumn("__b", F.lit(1))
    )
    # ONE pass over the corpus shingles: broadcast-left-join marks hits,
    # a single groupBy counts total and hit shingles together. (A
    # semi-join + separate size aggregate would regenerate the corpus
    # shingle table twice — measured 8.8 s -> 3.4 s at sf0.1.)
    per_doc = (
        doc_sh.join(F.broadcast(bench_sh), on="__sh", how="left")
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("__n"), F.count("__b").alias("__hit"))
    )
    rate = F.col("__hit") / F.col("__n")
    return (
        docs.select(F.col(id_col).alias("__id"))
        .join(per_doc, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("__n", F.lit(0)).cast("bigint").alias("n_shingles"),
            F.coalesce("__hit", F.lit(0)).cast("bigint").alias("n_hit"),
            F.when(F.col("__n").isNull(), F.lit(0.0))
            .otherwise(round_half_up(rate, 3))
            .alias("contamination"),
            F.when(F.col("__n").isNull(), F.lit(False))
            .otherwise(rate >= threshold)
            .alias("is_contaminated"),
        )
    )


# Large-star/small-star converges in O(log n) rounds, so this covers
# any graph that fits on hardware; hitting it is a bug or bad input.
CC_MAX_ROUNDS = 50


def neardup_clusters(
    nodes: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Connected components over near-dup pairs: every document gets a
    cluster representative (the minimum doc id reachable through the
    pair graph) — the canonical-document selection step of a dedup
    pipeline. Returns (id_col, cluster_rep); singletons are their own
    representative.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond"). It converges in O(log n)
    rounds, where min-label propagation needs one full edge join per
    unit of diameter, and each round REWRITES the edge list into a
    flatter one, so hot nodes shed degree as roots absorb their
    components. Both stars are one groupBy + one join over the
    current edges; nothing driver-side except the fixpoint check.
    Each round localCheckpoints to truncate lineage.

    large-star: every node u links its LARGER neighbors to
      m(u) = min(N(u) ∪ {u});
    small-star: every node u (on the >=-oriented edge list) links its
      smaller-or-equal neighbors and itself to m(u).
    At fixpoint the edges form stars rooted at component minima.
    """
    # canonical undirected edge set, self-loops dropped
    e = (
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .dropDuplicates()
        .localCheckpoint()
    )
    for _ in range(CC_MAX_ROUNDS):
        # ---- large-star on the symmetric view -------------------------
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.min("v").alias("__mn"))
        m = m.select("u", F.least("u", "__mn").alias("__m"))
        ls = (
            sym.join(m, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("__m").alias("u"), F.col("v").alias("v"))
        )
        e1 = ls.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")).filter(
            F.col("u") != F.col("v")
        ).dropDuplicates()
        # ---- small-star on the >=-oriented view -----------------------
        # orient every edge big -> small, group by the big end
        ori = e1.select(F.col("v").alias("big"), F.col("u").alias("small"))
        ms = ori.groupBy("big").agg(F.min("small").alias("__m"))
        ss = (
            ori.join(ms, on="big")
            .select(F.col("small").alias("a"), F.col("__m").alias("b"))
            .unionByName(ms.select(F.col("big").alias("a"), F.col("__m").alias("b")))
        )
        e2 = (
            ss.filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .dropDuplicates()
            .localCheckpoint()  # truncate per-round lineage
        )
        fixpoint = e2.exceptAll(e).union(e.exceptAll(e2)).isEmpty()
        # the fixpoint probe was this round's action: the previous
        # edge table's checkpoint blocks are now provably dead
        release_checkpoint_now(e)
        e = e2
        if fixpoint:
            break
    else:
        # Returning labels from a non-fixpoint edge set would be
        # silently WRONG (stars not yet rooted at component minima).
        raise RuntimeError(
            f"large-star/small-star did not converge in {CC_MAX_ROUNDS} rounds"
        )
    # at fixpoint: stars rooted at component minima -> rep = min neighbor
    # (the final edge checkpoint feeds the returned plan -> epoch-released)
    register_checkpointed(e)
    rep = e.groupBy(F.col("v").alias("node")).agg(F.min("u").alias("rep"))
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(rep, on="node", how="left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("rep", "node").alias("cluster_rep"),
        )
    )


def _simhash_vote_table(
    df: DataFrame, id_col: str, text_col: str, bits: int
) -> DataFrame:
    """Per-doc per-bit ±1 vote sums over token hashes: one row per doc
    with columns __v0..__v{bits-1}. explode + groupBy with `bits`
    partial-agg sum columns — map-side combine keeps the shuffle at one
    row per doc. The 64 hash bits come from two NON-NEGATIVE 32-bit
    md5_long halves (lo = hex digits 1-8, hi = 9-16), so every shift /
    mask is on small positive ints and the whole vote computation is
    reproducible in any engine with md5 — no engine-specific hash, no
    signed-shift semantics to match. (shiftright takes literal bit
    counts, hence the Python loop over bit positions.)"""
    exploded = df.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(F.col(text_col))).alias("__tok"),
    ).select(
        "__id",
        md5_long("__tok", 1, 8).alias("__h_lo"),
        md5_long("__tok", 9, 8).alias("__h_hi"),
    )
    # SQL-string construction (the _minhash_signature_cols lesson):
    # 64 nested-Column vote aggregates cost ~6 py4j round-trips each
    # per plan build; one parsed string each is value-identical
    votes = []
    for j in range(bits):
        h = "__h_lo" if j < 32 else "__h_hi"
        votes.append(
            F.expr(
                f"sum(CASE WHEN (shiftright({h}, {j % 32}) & 1) = 1"
                " THEN 1 ELSE -1 END)"
            ).alias(f"__v{j}")
        )
    return exploded.groupBy("__id").agg(*votes)


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """SimHash over whitespace tokens (bits <= 64): per-bit vote sum of
    token hashes, sign -> bit, assembled into one bigint signature."""
    if bits > 64:
        raise ValueError("simhash supports at most 64 bits")
    agg = _simhash_vote_table(df, id_col, text_col, bits)
    # one parsed string (the _minhash_signature_cols lesson); the j=63
    # term stays the two's-complement top bit: 1<<63 overflows signed
    # 64-bit, so the literal is -(1<<63)
    terms = " | ".join(
        "(CASE WHEN __v{j} > 0 THEN CAST({v} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)".format(
            j=j, v=(1 << j) if j < 63 else -(1 << 63)
        )
        for j in range(bits)
    )
    return agg.select(
        F.col("__id").alias(id_col), F.expr(terms).alias("simhash")
    )


def simhash_blocks(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_blocks: int = 8
) -> DataFrame:
    """64-bit SimHash represented as n_blocks block keys (block b =
    bits [b*w, (b+1)*w), w = 64/n_blocks), each a small non-negative
    int. Equivalent information to the packed bigint signature, but
    every value stays in unsigned-small-int range — the form both the
    block-trick join and an external oracle can reproduce exactly.
    Returns (id, __blk0..__blk{n-1})."""
    width = 64 // n_blocks
    agg = _simhash_vote_table(df, id_col, text_col, 64)
    # one parsed string per block key (same 0 + CASE... chain the
    # Column form built, value-identical; see _minhash_signature_cols)
    block_cols = []
    for b in range(n_blocks):
        terms = " + ".join(
            f"(CASE WHEN __v{b * width + i} > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(width)
        )
        block_cols.append(F.expr(f"CAST(0 + {terms} AS BIGINT)").alias(f"__blk{b}"))
    return agg.select(F.col("__id").alias(id_col), *block_cols)


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 7,
    n_blocks: int = 8,
) -> DataFrame:
    """Candidate pairs whose 64-bit SimHash differs in <= max_hamming
    bits, found by the block trick (a pair within Hamming distance
    n_blocks-1 must agree exactly on at least one of n_blocks blocks —
    pigeonhole), then verified with bit_count on the XOR.

    Default 8 blocks of 8 bits guarantees recall for max_hamming <= 7.

    SCALE KNOB — block width bounds the bucket count: 8-bit blocks
    give only 256 buckets per block, so past ~10^5 documents every
    bucket holds thousands of docs and the candidate join goes
    quadratic (measured: 17 s at 100k docs, runaway at 1M). For large
    corpora use n_blocks=4 (16-bit blocks, 65536 buckets — recall to
    Hamming <= 3), or move to a 128-bit signature if both wide blocks
    and a high Hamming budget are required.
    """
    if max_hamming > n_blocks - 1:
        raise ValueError("block trick guarantees recall only for max_hamming <= n_blocks-1")
    # Both join sides derive from sig; without persist the 64-column
    # vote aggregation runs twice (measured ~2x the query cost).
    # DELIBERATE leak-until-eviction — same contract as
    # minhash_lsh_pairs' sh_cached (persist, not checkpoint: the r7
    # checkpoint experiment made THIS query 4x slower, 1.9->7.5 s).
    sig = simhash_blocks(df, id_col, text_col, n_blocks).transform(scratch_persist)
    blk_arr = F.array(*[F.col(f"__blk{b}") for b in range(n_blocks)])
    blocks = sig.select(
        F.col(id_col).alias("__id"),
        blk_arr.alias("__blks"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("blk_idx"),
                    F.col(f"__blk{b}").alias("blk_key"),
                )
                for b in range(n_blocks)
            ])
        ).alias("bk"),
    ).select("__id", "__blks", "bk.blk_idx", "bk.blk_key")
    a = blocks.select(F.col("__id").alias("a_id"), F.col("__blks").alias("__blks_a"), "blk_idx", "blk_key")
    b = blocks.select(F.col("__id").alias("b_id"), F.col("__blks").alias("__blks_b"), "blk_idx", "blk_key")
    # full-signature hamming = sum of per-block popcounts of the XOR —
    # identical to bit_count on the packed 64-bit signatures, but all
    # operands are small non-negative ints.
    hamming = F.aggregate(
        F.zip_with("__blks_a", "__blks_b", lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, on=["blk_idx", "blk_key"], how="inner")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", hamming.cast("int").alias("hamming"))
        # row-local hamming filter BEFORE the dedup shuffle: far-apart
        # candidate pairs (the vast majority) never enter the exchange
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates()
    )


def canonical_per_cluster(
    docs: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """The "keep best" finish of a dedup pipeline: one surviving
    document per near-dup cluster — the member with the highest
    score_col (ties broken by lowest id, so selection is total-order
    deterministic). Output carries cluster_rep, the winner's id and
    score, and the cluster size.

    clusters is (id_col, cluster_rep) as produced by
    neardup_clusters. Scale: one shuffle on cluster_rep;
    the per-cluster window sorts only that cluster's members (near-dup
    clusters are small by construction — a pathological giant cluster
    means the pairing threshold is wrong, not the plan).
    """
    from pyspark.sql import Window as W

    cols = keep_cols or []
    joined = docs.select(id_col, score_col, *cols).join(clusters, id_col)
    w = W.partitionBy("cluster_rep").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(W.partitionBy("cluster_rep")))
        .filter(F.col("__rn") == 1)
        .select("cluster_rep", id_col, score_col, "cluster_size", *cols)
    )


def strip_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Cross-document LINE-level dedup — the boilerplate-removal stage
    of web-corpus curation (CCNet / RefinedWeb style): a line occurring
    in more than `max_doc_freq` DISTINCT documents is boilerplate
    (headers, nav bars, license banners, cookie notices) and is removed
    from EVERY document; each document's surviving lines are rejoined
    in their original order. This is a different axis from document
    dedup (exact_dedup/minhash) and passage dedup (intra-corpus
    windows): it edits documents instead of dropping them.

    Output: (id_col, clean_text, n_lines, n_kept). A document whose
    every line is boilerplate comes back with clean_text = '' and
    n_kept = 0 — kept, not dropped (dropping empties is a separate
    quality-gate decision). Blank lines count as lines and are
    boilerplate as soon as enough documents contain one.

    Scale shape: lines ride as (doc, pos, 8-byte md5_long line hash)
    rows; document frequency is a two-level aggregate (distinct
    (line,doc) then count — both map-side combinable); the boilerplate
    filter is a left-anti equi join on the hash (NOT assumed broadcast:
    at web scale the boilerplate set is huge); the rebuild is one
    groupBy(doc) with an array_sort over (pos, line) structs. Three
    hash shuffles total, no window functions, no skew pivot (the
    hottest line hash appears once per containing doc, bounded by
    corpus doc count).
    """
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__line"),
    ).withColumn("__lh", md5_long("__line"))
    boiler = (
        lines.select("__lh", "__id")
        .dropDuplicates()
        .groupBy("__lh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("__lh")
    )
    kept = lines.join(boiler, on="__lh", how="left_anti")
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = lines.groupBy("__id").agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        totals.join(rebuilt, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.col("n_lines"),
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        )
    )
