"""Replicates the driver's correctness gate locally: every suite query
vs its DuckDB oracle at sf0.001 (fast; the driver runs sf0.01)."""

import pytest

from tests import oracle_harness


def test_all_queries_match_oracle(spark, sf_dir):
    results = oracle_harness.run(sf_dir)
    failed = {k: v for k, v in results.items() if v}
    assert not failed, f"oracle mismatches: {failed}"


def test_queries_and_oracles_are_wired():
    import __spark_entry__ as entry

    from nyc_etl_pipeline_spark import suite

    qs = entry.queries()
    os_ = entry.oracle_sql()
    assert len(qs) >= 27
    names = [s.name for s in suite.all_specs()]
    assert len(names) == len(set(names)), "duplicate spec names"
    assert set(os_) <= set(qs)
    # EVERY query has an oracle — the probabilistic chains
    # (MinHash/SimHash/vector-LSH) are md5-derived and replicated
    # exactly in DuckDB; sketch/IVF queries emit verifiable
    # error-bound contracts instead of raw estimates; and round 7
    # closed the last gap by unrolling q125's fixed-round BPE
    # training loop into chained CTEs. A query without an oracle is
    # a bug.
    no_oracle = set(qs) - set(os_)
    assert no_oracle == set(), no_oracle


def test_harness_is_dtype_strict():
    """The harness must replicate the driver's TYPED hash: int64 42 vs
    float64 42.0 is a driver hash mismatch even though str() compares
    equal — exactly how five uncast-HUGEINT oracles passed '132/132'
    local sweeps while three of them failed the round-5 driver gate
    (VERDICT r5 items 1-3). Self-test: a deliberately float-typed
    oracle against an int-typed result must FAIL the compare."""
    import pandas as pd

    from tests.oracle_harness import compare_pandas

    spark_like = pd.DataFrame({"k": ["a", "b"], "id_sum": pd.array([3, 7], dtype="int64")})
    oracle_like = pd.DataFrame({"k": ["a", "b"], "id_sum": [3.0, 7.0]})
    probs = compare_pandas("selftest", spark_like, oracle_like)
    assert probs and "dtype-family mismatch" in probs[0], probs
    # identical families still pass
    assert compare_pandas("selftest2", spark_like, spark_like.copy()) == []
    # bool vs int is also a typed-hash divergence
    b = pd.DataFrame({"f": [True, False]})
    i = pd.DataFrame({"f": [1, 0]})
    assert compare_pandas("selftest3", b, i)
