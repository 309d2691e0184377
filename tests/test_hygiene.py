"""Epoch-based scratch-cache hygiene (nyc_etl_pipeline_spark.hygiene).

Unreleased persist()/localCheckpoint() scratch used to accumulate
across the suite (persistent-RDD count climbing monotonically, late
queries running ~2.5-3x their isolated times). These tests pin the
one release rule the operators rely on: the epoch registry owns every
cache and checkpoint behind a returned plan.
"""

from __future__ import annotations

import logging

import pytest

from nyc_etl_pipeline_spark import hygiene as H


def _npersistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@pytest.fixture(autouse=True)
def _clean_registry(spark):
    H.release_all()
    yield
    H.release_all()


def test_persist_released_after_keep_epochs(spark):
    # other test files legitimately leave persistent RDDs in the shared
    # session -> assert DELTAS, not totals
    base = _npersistent(spark)
    H.new_epoch()
    df = H.scratch_persist(spark.range(100).selectExpr("id", "id * 2 AS y"))
    _noop(df)
    assert _npersistent(spark) >= base + 1
    H.new_epoch()
    assert _npersistent(spark) >= base + 1  # within KEEP_EPOCHS: still aided
    H.new_epoch()
    assert _npersistent(spark) == base  # epoch distance 2: released
    # releasing a persist is value-safe: the frame recomputes
    assert df.count() == 100


def test_checkpoint_blocks_released_only_after_materialization(spark):
    base = _npersistent(spark)
    H.new_epoch()
    ck = H.scratch_checkpoint(spark.range(100).selectExpr("id * 3 AS z"))
    # never executed: epoch sweeps must NOT poison the plan
    H.new_epoch()
    H.new_epoch()
    H.new_epoch()
    _noop(ck)  # late first action still works
    assert _npersistent(spark) >= base + 1
    H.new_epoch()
    H.new_epoch()
    H.new_epoch()
    assert _npersistent(spark) == base


def test_release_now_drops_blocks_and_entry(spark):
    base = _npersistent(spark)
    ck = H.scratch_checkpoint(spark.range(64).selectExpr("id AS n"), eager=True)
    df = H.scratch_persist(spark.range(32))
    _noop(df)
    assert _npersistent(spark) >= base + 2
    H.release_now(ck)
    H.release_now(df)
    assert _npersistent(spark) == base
    assert not any(e[1] is ck or e[1] is df for e in H._ENTRIES)
    H.release_now(spark.range(8))  # never registered: no-op


def test_dropped_deferral_logs_warning(spark, caplog):
    """A lazy checkpoint that never runs is re-deferred MAX_DEFERS
    sweeps, then its registration is dropped with a WARNING."""
    H.new_epoch()
    ck = H.scratch_checkpoint(spark.range(10))
    jrdd = H._ENTRIES[-1][2]
    msg = f"checkpoint RDD {jrdd.id()}:"
    with caplog.at_level(logging.WARNING, logger=H.__name__):
        for _ in range(H.KEEP_EPOCHS + H.MAX_DEFERS - 1):
            H.new_epoch()
        assert any(e[1] is ck for e in H._ENTRIES)
        assert not any(msg in r.getMessage() for r in caplog.records)
        H.new_epoch()  # sweep MAX_DEFERS + 1: dropped
    assert not any(e[1] is ck for e in H._ENTRIES)
    assert [r.levelno for r in caplog.records if msg in r.getMessage()] == [
        logging.WARNING
    ]
    # the marked RDD stays in getPersistentRDDs until JVM GC: unmark it
    # so later tests' counts do not depend on GC timing
    jrdd.unpersist(False)


def test_iterative_operators_bound_inflight_checkpoints(spark, sf_dir):
    """kcore/label-prop/CC loops release round N-1's checkpoint as soon
    as round N's is materialized: after the caller's action plus two
    epochs, nothing lingers."""
    from nyc_etl_pipeline_spark.operators.graph import label_propagation

    H.release_all()
    edges = spark.createDataFrame(
        [(a, b) for a, b in [(1, 2), (2, 1), (2, 3), (3, 2), (4, 5), (5, 4)]],
        "src long, dst long",
    )
    base = _npersistent(spark)
    H.new_epoch()
    out = label_propagation(edges, n_rounds=3)
    _noop(out)
    assert out.count() == 5  # still re-executable within its epoch
    # in-flight state is bounded: only the final round's checkpoint
    # (the operator unpersists its edge table before returning)
    assert _npersistent(spark) <= base + 1
    H.new_epoch()
    H.new_epoch()
    assert _npersistent(spark) == base


def test_suite_builders_advance_epochs(spark, sf_dir):
    """The suite registry wraps every declared query's builder with an
    epoch advance: two builds of the same query are two epochs."""
    from nyc_etl_pipeline_spark import suite

    specs = {s.name: s for s in suite.all_specs()}
    before = H.new_epoch()
    specs["q17_exact_dedup"].fn(spark, sf_dir)
    specs["q17_exact_dedup"].fn(spark, sf_dir)
    assert H.new_epoch() == before + 3


def test_nonconverged_cc_leaves_only_registered_scratch(spark, monkeypatch):
    """A CC loop that raises (non-convergence) must not strand its
    checkpoints: every round's edge table is registered, so two epochs
    later the persistent-RDD count is back to base."""
    from nyc_etl_pipeline_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 1)
    nodes = spark.range(40).withColumnRenamed("id", "doc_id")
    pairs = spark.range(39).selectExpr("id AS a_id", "id + 1 AS b_id")
    base = _npersistent(spark)
    H.new_epoch()
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.neardup_clusters(nodes, pairs, id_col="doc_id")
    H.new_epoch()
    H.new_epoch()
    assert _npersistent(spark) == base


# declared queries whose operators register scratch with the registry
SCRATCH_QUERIES = {
    "q41_neardup_clusters",
    "q112_cluster_canonical",
    "q141_jaccard_prefix",
    "q162_kcore",
    "q163_label_prop",
    "q165_kmeans",
    "q178_sparse_cosine",
    "q206_kendall_tau",
}


def test_scratch_queries_do_not_accumulate(spark, sf_dir):
    """Build and run the scratch-heavy queries in declaration order,
    twice over: the second pass must peak no higher in persistent RDDs
    than the first (nothing accumulates across passes), two epochs
    release everything, and every result keeps its oracle row count."""
    from nyc_etl_pipeline_spark import suite
    from tests.oracle_harness import duck_con

    specs = [s for s in suite.all_specs() if s.name in SCRATCH_QUERIES]
    assert {s.name for s in specs} == SCRATCH_QUERIES
    con = duck_con(sf_dir)
    expected = {s.name: len(con.sql(s.oracle).fetchall()) for s in specs}
    base = _npersistent(spark)
    peaks = []
    for _ in range(2):
        peak = 0
        for spec in specs:
            rows = spec.fn(spark, sf_dir).collect()
            assert len(rows) == expected[spec.name], spec.name
            peak = max(peak, _npersistent(spark))
        peaks.append(peak)
    assert peaks[1] <= peaks[0], peaks
    H.new_epoch()
    H.new_epoch()
    assert _npersistent(spark) == base
