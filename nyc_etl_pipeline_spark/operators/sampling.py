"""Deterministic sampling and dataset splitting for training-data
pipelines.

`sample()`/`split()` hash a stable key instead of using rand():
- reproducible across runs, executors, and retries (a rand()-based
  sample changes under task re-execution — silent train/test leakage
  on speculative retries);
- consistent across tables: sampling orders and lineitem by the same
  order key keeps referential integrity in the sample;
- no coordination: pure per-row projection, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.functions import md5_long

_BUCKETS = 1_000_000


def _bucket(key_cols: list[str], salt: str, portable: bool = False) -> Column:
    """Stable bucket in [0, 1M). Default is xxhash64 (fastest JVM
    path). `portable=True` hashes md5 over salt + stringified keys
    joined with unit separator \\x1f — bit-identical in any engine
    with md5 (see `sql_bucket`), at ~2-3x the hash cost; use it when
    split assignment must be reproducible OUTSIDE Spark (audits,
    cross-engine pipelines)."""
    if portable:
        joined = F.concat_ws("\x1f", F.lit(salt), *[F.col(c).cast("string") for c in key_cols])
        return F.pmod(md5_long(joined), F.lit(_BUCKETS))
    return F.pmod(F.xxhash64(F.lit(salt), *[F.col(c) for c in key_cols]), F.lit(_BUCKETS))


def sql_bucket(key_exprs: list[str], salt: str) -> str:
    """DuckDB fragment computing the identical portable bucket."""
    joined = ", ".join(f"CAST({e} AS VARCHAR)" for e in key_exprs)
    return (
        f"CAST('0x' || substr(md5(concat_ws(chr(31), '{salt}', {joined})), 1, 15) AS BIGINT) "
        f"% {_BUCKETS}"
    )


def sample(
    df: DataFrame,
    key_cols: list[str],
    fraction: float,
    salt: str = "v1",
    portable: bool = False,
) -> DataFrame:
    """Deterministic ~fraction sample keyed on key_cols. Same key ->
    same in/out decision, always."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    return df.filter(_bucket(key_cols, salt, portable) < int(fraction * _BUCKETS))


def _split_bounds(weights: dict[str, float]) -> list[tuple[str, int, int]]:
    """Cumulative [lo, hi) integer bucket bounds for named splits —
    the SINGLE source of truth shared by `split`, `assign_split`,
    `sql_split_case`, and the suite oracles (q50/q167/q168): the same
    float->int truncation order everywhere, or two call sites could
    disagree about a boundary bucket."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    bounds: list[tuple[str, int, int]] = []
    lo = 0.0
    items = list(weights.items())
    for i, (name, w) in enumerate(items):
        hi = lo + w
        lo_b = int(lo * _BUCKETS)
        hi_b = _BUCKETS if i == len(items) - 1 else int(hi * _BUCKETS)
        bounds.append((name, lo_b, hi_b))
        lo = hi
    return bounds


def split(
    df: DataFrame,
    key_cols: list[str],
    weights: dict[str, float],
    salt: str = "v1",
    portable: bool = False,
) -> dict[str, DataFrame]:
    """Disjoint, exhaustive named splits (e.g. train/val/test).
    Weights must sum to 1. Each key lands in exactly one split,
    deterministically — adding rows later never moves existing keys
    between splits (stable assignment under dataset growth)."""
    bucket = _bucket(key_cols, salt, portable)
    return {
        name: df.filter((bucket >= lo_b) & (bucket < hi_b))
        for name, lo_b, hi_b in _split_bounds(weights)
    }


def assign_split(
    df: DataFrame,
    key_cols: list[str],
    weights: dict[str, float],
    salt: str = "v1",
    portable: bool = False,
    out_col: str = "split",
) -> DataFrame:
    """Split ASSIGNMENT as a column (one pass over the data) instead of
    `split`'s per-split filtered frames — the shape joins and audits
    need. Identical bucket + bounds as `split`, so the two agree row
    for row. Pure projection: no shuffle, linear at any scale."""
    bucket = _bucket(key_cols, salt, portable)
    expr = None
    for name, lo_b, hi_b in _split_bounds(weights):
        cond = (bucket >= lo_b) & (bucket < hi_b)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn(out_col, expr)


def sql_split_case(bucket_expr: str, weights: dict[str, float]) -> str:
    """DuckDB CASE fragment mirroring `assign_split` (same bounds from
    `_split_bounds`); `bucket_expr` should be a `sql_bucket` twin of
    the Spark-side key."""
    arms = " ".join(
        f"WHEN ({bucket_expr}) >= {lo_b} AND ({bucket_expr}) < {hi_b} THEN '{name}'"
        for name, lo_b, hi_b in _split_bounds(weights)
    )
    return f"CASE {arms} END"


def leakage_safe_assign(
    df: DataFrame,
    clusters: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    rep_col: str = "cluster_rep",
    salt: str = "v1",
    portable: bool = False,
    out_col: str = "split",
) -> DataFrame:
    """Cluster-aware train/val/test assignment: hash the near-dup
    cluster REPRESENTATIVE instead of the document, so every member of
    a near-duplicate cluster lands in the same split. A per-document
    hash split (q50) silently places near-copies of the same document
    on both sides of a train/test boundary — memorized-duplicate
    leakage that inflates eval scores; assigning whole clusters is the
    standard fix (the dedup-then-split step of LLM data pipelines).

    `clusters` is (id_col, rep_col) as produced by
    dedup.neardup_clusters (singletons included — every doc has a
    row). Docs missing from `clusters` are treated as singletons
    (rep = own id), so a pair-graph-only cluster map also works.

    Scale shape: one equi join on the doc id (sort-merge/shuffle-hash;
    both sides are corpus-sized and co-keyed) followed by a pure
    projection — no extra shuffle beyond the join, and the join
    disappears entirely if `clusters` is written bucketed by id."""
    rep = F.coalesce(F.col(rep_col), F.col(id_col)).alias(rep_col)
    joined = df.join(
        clusters.select(id_col, rep_col), on=id_col, how="left"
    ).withColumn(rep_col, rep)
    return assign_split(joined, [rep_col], weights, salt, portable, out_col)


def split_leakage_audit(
    pairs: DataFrame,
    assigned: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """Near-dup pairs whose endpoints landed in DIFFERENT splits — the
    train/test-leakage audit a split strategy is judged by (zero rows
    under `leakage_safe_assign`, non-zero under a per-doc hash split
    whenever a cluster straddles a boundary).

    Output: (a_id, b_id, split_a, split_b). Two equi joins of the pair
    list against the assignment map (pair-graph-sized, not
    corpus-sized), then a filter — broadcastable when the assignment
    map is small, sort-merge otherwise."""
    asg = assigned.select(id_col, split_col)
    a = asg.select(
        F.col(id_col).alias(a_col), F.col(split_col).alias("split_a")
    )
    b = asg.select(
        F.col(id_col).alias(b_col), F.col(split_col).alias("split_b")
    )
    return (
        pairs.select(a_col, b_col)
        .join(a, on=a_col)
        .join(b, on=b_col)
        .filter(F.col("split_a") != F.col("split_b"))
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_cols: list[str],
    default_fraction: float = 1.0,
    salt: str = "v1",
    portable: bool = False,
) -> DataFrame:
    """Deterministic per-stratum sampling — the corpus-rebalancing
    step (downsample overrepresented languages/sources). The keep
    decision hashes only `key_cols` (not the stratum), so a doc's
    fate never changes when strata are re-labeled, and the same key
    is kept/dropped consistently across tables sampled with the same
    salt. Pure projection+filter: no shuffle, scales linearly.

    fractions maps stratum value -> keep fraction in [0,1]; strata
    absent from the map use default_fraction."""
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {name!r} must be in [0,1], got {frac}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(f"default_fraction must be in [0,1], got {default_fraction}")
    bucket = _bucket(key_cols, salt, portable)
    threshold = F.lit(int(default_fraction * _BUCKETS))
    for name, frac in sorted(fractions.items()):
        threshold = F.when(
            F.col(strata_col) == name, F.lit(int(frac * _BUCKETS))
        ).otherwise(threshold)
    return df.filter(bucket < threshold)


def shard_shuffle(
    df: DataFrame,
    key_cols: list[str],
    n_shards: int,
    salt: str = "v1",
    portable: bool = False,
) -> DataFrame:
    """Deterministic global shuffle for training-example ordering:
    adds `shard` (hash bucket in [0, n_shards)) and `pos` (dense 1-based
    position within the shard, ordered by the hash then by key).

    Changing the salt reshuffles everything; the same salt always
    produces the same (shard, pos) for a given key — reshardable,
    resumable, retry-stable, unlike orderBy(rand()).

    Scale: ONE shuffle, hash-partitioned on `shard`; ordering is a
    per-shard window sort, never a global sort. Pick n_shards at or
    above cluster parallelism (training pipelines want thousands of
    shards anyway) so each shard's sort fits in executor memory —
    rows/shard ~ N/n_shards by hash uniformity."""
    from pyspark.sql import Window as W

    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    b = _bucket(key_cols, salt, portable)
    w = W.partitionBy("shard").orderBy("__bkt", *key_cols)
    return (
        df.withColumn("__bkt", b)
        .withColumn("shard", F.pmod(F.col("__bkt"), F.lit(n_shards)).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .drop("__bkt")
    )


def sql_stratified_threshold(
    strata_expr: str, fractions: dict[str, float], default_fraction: float = 1.0
) -> str:
    """DuckDB fragment computing the identical per-stratum threshold."""
    whens = " ".join(
        f"WHEN {strata_expr} = '{name}' THEN {int(frac * _BUCKETS)}"
        for name, frac in sorted(fractions.items())
    )
    return f"CASE {whens} ELSE {int(default_fraction * _BUCKETS)} END"


def per_key_topn_sample(
    df: DataFrame,
    key_cols: list[str],
    n: int,
    id_cols: list[str],
    salt: str = "v1",
) -> DataFrame:
    """Deterministic N rows per key — the per-domain/per-source
    rebalancing cut ("keep at most N docs from every domain").

    Priority = portable md5 over (salt, id_cols): uniform,
    reproducible in any engine, and independent of the key, so a row
    keeps the same priority if keys are relabeled. Keep the n lowest
    priorities per key (id tie-break for exactness).

    Scale: one exchange on the key; ranking is a per-key window sort,
    never global. A pathologically hot key sorts only its own rows;
    for heavy-hitter keys far above n, pre-filter with a cheap
    priority threshold (priority < n/|key| quantile) before the
    window — same two-level treatment as q72's top-K.
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    from pyspark.sql import Window as W

    joined = F.concat_ws("\x1f", F.lit(salt), *[F.col(c).cast("string") for c in id_cols])
    pr = md5_long(joined)
    w = W.partitionBy(*key_cols).orderBy(F.col("__pr").asc(), *[F.col(c).asc() for c in id_cols])
    return (
        df.withColumn("__pr", pr)
        .withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= n)
        .drop("__pr")
    )


def weighted_sample(
    df: DataFrame,
    id_cols: list[str],
    weight_col: str,
    n: int,
    salt: str = "v1",
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement of n rows —
    inclusion probability proportional to weight (Efraimidis-Spirakis
    A-Res: key = u^(1/w) with u uniform, keep the n largest keys).

    u derives from the portable md5 bucket over (salt, id_cols):
    reproducible across engines, runs, and task retries — a
    rand()-based weighted sample silently changes membership under
    speculative re-execution. Rows with non-positive weight are
    excluded (they can never win).

    Scale: pure per-row projection + top-n TakeOrderedAndProject
    (per-partition heap, driver merge of n rows) — no global sort, no
    window. The priority column is dropped from the output: ranking
    is stable at any ulp (md5 gaps are ~1/rows^2, astronomically
    above double noise), while emitting the float itself would be the
    only cross-engine parity risk.
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    joined = F.concat_ws("\x1f", F.lit(salt), *[F.col(c).cast("string") for c in id_cols])
    u = (F.pmod(md5_long(joined), F.lit(_BUCKETS)).cast("double") + 0.5) / _BUCKETS
    key = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__key", key)
        .orderBy(F.desc("__key"), *[F.asc(c) for c in id_cols])
        .limit(n)
        .drop("__key")
    )


def _weight_case(source_col: str, weights: dict[str, float]) -> Column:
    """Validated per-source weight expression (0.0 for unlisted)."""
    for name, wt in weights.items():
        if wt < 0:
            raise ValueError(f"weight for {name!r} must be >= 0, got {wt}")
    if float(sum(weights.values())) <= 0:
        raise ValueError("mixture weights must sum to a positive value")
    w = F.lit(0.0)
    for name, wt in sorted(weights.items()):
        w = F.when(F.col(source_col) == name, F.lit(float(wt))).otherwise(w)
    return w


def _fraction_thresholds(
    per_source: DataFrame,
    source_col: str,
    weights: dict[str, float],
    total: int,
    denom_col: str,
) -> DataFrame:
    """Shared threshold core of mixture_fractions / token_budget_
    fractions: threshold = least(1M, floor((total * w / wsum) / denom
    * 1M)) with the float expression ORDER fixed (the q126/q138
    oracles replicate it verbatim). A zero denominator (a weighted
    source whose measure sums to 0 — e.g. all-empty documents under a
    token budget) keeps everything: the source consumes none of the
    budget, and the division would otherwise raise DIVIDE_BY_ZERO
    under ANSI mode."""
    wsum = float(sum(weights.values()))
    w = _weight_case(source_col, weights)
    desired = F.lit(float(total)) * w / F.lit(wsum)
    return per_source.withColumn(
        "threshold",
        F.when(F.col(denom_col) == 0, F.lit(_BUCKETS).cast("bigint")).otherwise(
            F.least(
                F.lit(_BUCKETS).cast("bigint"),
                F.floor(desired / F.col(denom_col) * F.lit(float(_BUCKETS))).cast("bigint"),
            )
        ),
    )


def _threshold_filter(
    df: DataFrame,
    thr: DataFrame,
    source_col: str,
    key_cols: list[str],
    salt: str,
    portable: bool,
) -> DataFrame:
    """Broadcast the per-source thresholds back and keep rows whose
    stable bucket falls under their source's cutoff. Pure
    projection+filter after a broadcast join: no shuffle of the
    corpus, retry-stable, reproducible outside Spark with
    portable=True."""
    bucket = _bucket(key_cols, salt, portable)
    return (
        df.join(F.broadcast(thr.select(source_col, "threshold")), on=source_col)
        .filter(bucket < F.col("threshold"))
        .drop("threshold")
    )


def mixture_fractions(
    df: DataFrame,
    source_col: str,
    weights: dict[str, float],
    total_out: int,
) -> DataFrame:
    """Per-source keep THRESHOLDS realizing a target training mixture:
    a source with weight w should contribute total_out * w / sum(w)
    examples. Sources absent from `weights` are dropped (weight 0);
    a source smaller than its target keeps everything — downsampling
    only, never upsampling (repeating data is an epochs/loader
    decision, not a sampling one, and duplicating rows here would
    silently break dedup invariants downstream).

    Output: (source, n_src, threshold) where threshold is the portable
    md5-bucket cutoff in [0, 1M]. One tiny aggregate over the corpus;
    the expression order of the float math is fixed so any engine
    reproduces the exact integer threshold (see suite/training.py
    q126's oracle)."""
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_src"))
    return _fraction_thresholds(counts, source_col, weights, total_out, "n_src")


def mixture_sample(
    df: DataFrame,
    source_col: str,
    weights: dict[str, float],
    total_out: int,
    key_cols: list[str],
    salt: str = "v1",
    portable: bool = False,
) -> DataFrame:
    """Deterministic mixture-weighted downsample: join each row to its
    source's threshold (broadcast — thresholds are one row per source)
    and keep rows whose stable bucket falls under it."""
    thr = mixture_fractions(df, source_col, weights, total_out)
    return _threshold_filter(df, thr, source_col, key_cols, salt, portable)


def token_budget_fractions(
    df: DataFrame,
    source_col: str,
    token_count_col: str,
    weights: dict[str, float],
    total_tokens: int,
) -> DataFrame:
    """Per-source keep thresholds realizing a TOKEN budget: source s
    with weight w gets a budget of total_tokens * w / sum(w) tokens,
    and its keep fraction is budget / current_token_count — the
    token-denominated twin of `mixture_fractions` (LLM training mixes
    are specified in tokens, not documents; a source of long documents
    must keep fewer of them). Downsampling only: a source under budget
    keeps everything, and a source whose tokens sum to ZERO keeps
    everything too (it consumes no budget — see _fraction_thresholds).
    Document-level keep decisions mean the realized token count is the
    budget in expectation, not exactly (documented contract; the kept
    SET itself is fully deterministic).

    Scale shape: one map-side-combinable aggregate (source -> token
    sum), thresholds broadcast back. Float expression order is fixed
    ((total * w / wsum) / tok_src * 1M, then floor), mirroring the
    q126 oracle convention."""
    toks = df.groupBy(source_col).agg(F.sum(token_count_col).alias("tok_src"))
    return _fraction_thresholds(toks, source_col, weights, total_tokens, "tok_src")


def token_budget_sample(
    df: DataFrame,
    source_col: str,
    token_count_col: str,
    weights: dict[str, float],
    total_tokens: int,
    key_cols: list[str],
    salt: str = "v1",
    portable: bool = False,
) -> DataFrame:
    """Deterministic token-budget downsample (same broadcast-threshold
    + stable-bucket filter shape as mixture_sample)."""
    thr = token_budget_fractions(df, source_col, token_count_col, weights, total_tokens)
    return _threshold_filter(df, thr, source_col, key_cols, salt, portable)


def largest_remainder_plan(
    avail: DataFrame,
    budget_tokens: int,
    source_col: str = "source",
    tokens_col: str = "avail_tokens",
    weight_col: str = "weight",
) -> DataFrame:
    """Integer-exact largest-remainder (Hamilton) allocation of a
    token budget across sources — the mixture-PLANNING step upstream
    of token_budget_sample: given per-source available tokens and
    integer mixture weights, produce per-source token quotas that sum
    EXACTLY to the budget (floor allocations, then one extra token to
    the largest fractional remainders), plus the implied epoch factor
    (quota/available — > 1 means multi-epoch upsampling of that
    source).

    Everything except the final 6-dp epoch ratio is bigint arithmetic
    (base = budget*w // W, remainder = budget*w % W), so the plan is
    reproducible in any engine bit-for-bit and immune to float-weight
    drift. Ties on the remainder break by source name. Input `avail`
    is one row per source — the output of a per-source aggregate, so
    this whole operator runs on a vocabulary-of-sources-sized table
    (a window over n_sources rows, nothing data-sized).
    """
    from pyspark.sql import Window as W

    tot = avail.agg(F.sum(weight_col).alias("__W"))
    # bigint DIV / % — NOT floor(double division), whose last-ulp error
    # can misfloor once budget*weight outgrows 2^53
    base = avail.crossJoin(F.broadcast(tot)).select(
        source_col,
        tokens_col,
        weight_col,
        F.expr(f"CAST(({budget_tokens} * {weight_col}) DIV __W AS BIGINT)").alias("__base"),
        F.expr(f"({budget_tokens} * {weight_col}) % __W").alias("__rem"),
    )
    leftover = base.agg(
        (F.lit(budget_tokens) - F.sum("__base")).alias("__left")
    )
    w = W.orderBy(F.desc("__rem"), F.asc(source_col))
    return (
        base.crossJoin(F.broadcast(leftover))
        .withColumn("__rk", F.row_number().over(w))
        .select(
            source_col,
            F.col(tokens_col).cast("bigint").alias("avail_tokens"),
            F.col(weight_col).cast("bigint").alias("weight"),
            (F.col("__base") + F.when(F.col("__rk") <= F.col("__left"), 1).otherwise(0))
            .cast("bigint")
            .alias("quota_tokens"),
        )
        .withColumn(
            "epochs",
            F.when(
                F.col("avail_tokens") > 0,
                F.floor(
                    F.col("quota_tokens") / F.col("avail_tokens") * 1000000.0 + 0.5
                )
                / 1000000.0,
            ).otherwise(F.lit(None).cast("double")),
        )
    )
