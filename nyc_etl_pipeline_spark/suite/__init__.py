"""Query suite: every operator family from SURVEY.md §2 expressed twice
— once as the engine's Spark plan, once as ANSI SQL for the DuckDB
oracle (the driver's correctness gate).

Each entry is a QuerySpec:
  name    — stable key (CORRECTNESS_r{N}.json key)
  fn      — (spark, sf_dir) -> DataFrame, the engine implementation
  oracle  — DuckDB SQL over views named after the parquet tables, or
            None for ops whose semantics aren't SQL-expressible
            (probabilistic LSH candidates, streaming state) — the
            driver then records a weaker rows-only check.

Column names are aliased identically on both sides (the driver's
compare sorts columns by name before hashing).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


def _with_epoch(fn: Callable[[SparkSession, str], DataFrame]):
    """Wrap a query builder so every declared-query invocation starts a
    new scratch epoch: hygiene.new_epoch() releases the persist/
    localCheckpoint scratch registered KEEP_EPOCHS builds ago (the r12
    degradation probe traced the suite-wide progressive slowdown to
    exactly this unreleased accumulation — and the leaked CacheManager
    entries silently warmed the bench's second best-of-2 run)."""
    import functools

    from nyc_etl_pipeline_spark import hygiene

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        # tag = query name: back-to-back rebuilds of the SAME query
        # (bench best-of-2) share an epoch; a DIFFERENT query advances
        # it and releases stale scratch (see hygiene.new_epoch).
        hygiene.new_epoch(getattr(fn, "__name__", None))
        return fn(spark, sf_dir)

    return wrapped


def all_specs() -> list[QuerySpec]:
    from nyc_etl_pipeline_spark.suite import (
        advanced,
        complextypes,
        corpus,
        curation,
        events,
        graphq,
        pandasops,
        relational,
        retrieval,
        scalar,
        textops,
        tpch,
        training,
        vectors,
    )

    specs = (
        relational.SPECS
        + events.SPECS
        + textops.SPECS
        + vectors.SPECS
        + advanced.SPECS
        + pandasops.SPECS
        + scalar.SPECS
        + curation.SPECS
        + complextypes.SPECS
        + training.SPECS
        + tpch.SPECS
        + retrieval.SPECS
        + corpus.SPECS
        + graphq.SPECS
    )
    return [QuerySpec(s.name, _with_epoch(s.fn), s.oracle, s.doc) for s in specs]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {s.name: s.fn for s in all_specs()}


def oracle_sql() -> dict[str, str]:
    return {s.name: s.oracle for s in all_specs() if s.oracle is not None}
