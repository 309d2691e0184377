"""End-to-end Engine runs over real green data into a tmp warehouse:
full run, incremental no-op, incremental month arrival, idempotent
re-run."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.engine import Engine

GREEN_DIR = "/root/reference/data/green_data"
ZONE_CSV = "/root/reference/data/taxi_zone.csv"


@pytest.fixture()
def two_month_dir(tmp_path):
    # only the tests that read reference data skip without it; the
    # dim-guard test below builds its own input
    if not os.path.isdir(GREEN_DIR):
        pytest.skip("reference green data not present")
    d = tmp_path / "raw"
    d.mkdir()
    for f in ("2023-01.parquet", "2023-02.parquet"):
        shutil.copy(os.path.join(GREEN_DIR, f), d / f)
    return str(d)


def test_engine_full_then_incremental(spark, tmp_path, two_month_dir):
    wh_root = str(tmp_path / "wh")
    eng = Engine(spark, wh_root)
    eng.run_all(green_dir=two_month_dir, zone_csv=ZONE_CSV)

    n_fact_1 = eng.wh.read("fact_nyc").count()
    n_monthly_1 = eng.wh.read("monthly_report").count()
    assert n_fact_1 > 100_000
    assert n_monthly_1 > 0
    months_1 = {
        r["month"]: r["n"]
        for r in eng.wh.read("fact_nyc").groupBy("month").agg(F.count("*").alias("n")).collect()
    }
    # real TLC files carry strays: the Feb file holds one 2023-03-01
    # trip (kept — in-dim-year), plus 2008/2009/2022 strays (dropped by
    # the date-dim inner join, Q10)
    assert set(months_1) == {1, 2, 3}

    # incremental re-run with no new data: fact unchanged
    eng.run_fact(incremental=True)
    assert eng.wh.read("fact_nyc").count() == n_fact_1

    # a new month arrives -> every month whose silver content changed is
    # rebuilt. The real 2023-03 TLC file carries a few LATE January
    # trips (pickup before the loaded maximum): digest-based change
    # detection loads them — a pickup-time watermark silently dropped
    # them (the month-1 count below used to stay frozen).
    shutil.copy(os.path.join(GREEN_DIR, "2023-03.parquet"), two_month_dir + "/2023-03.parquet")
    eng.run_silver(green_dir=two_month_dir)
    eng.run_fact(incremental=True)
    fact = eng.wh.read("fact_nyc")
    months = {r["month"]: r["n"] for r in fact.groupBy("month").agg(F.count("*").alias("n")).collect()}
    assert set(months) >= {1, 2, 3}
    assert months[1] >= months_1[1]  # late Jan strays from the Mar file may add
    assert months[2] >= months_1[2]
    assert months[3] > months_1[3]  # March rebuilt with the full file

    # and the load converges: a second incremental run is a no-op
    eng.run_fact(incremental=True)
    months_again = {
        r["month"]: r["n"]
        for r in eng.wh.read("fact_nyc").groupBy("month").agg(F.count("*").alias("n")).collect()
    }
    assert months_again == months

    # full re-run of everything is idempotent (Q6 fixed)
    n_total = fact.count()
    eng.run_all(green_dir=two_month_dir, zone_csv=ZONE_CSV)
    assert eng.wh.read("fact_nyc").count() == n_total


def test_engine_dim_upsert_keeps_existing_names(spark, tmp_path, two_month_dir):
    eng = Engine(spark, str(tmp_path / "wh2"))
    eng.run_silver(green_dir=two_month_dir)
    eng.run_dims(zone_csv=ZONE_CSV)
    vend = {r["VendorID"]: r["VendorName"] for r in eng.wh.read("dim_vendor").collect()}
    assert vend[1] == "Creative Mobile Technologies, LLC"
    assert vend[2] == "VeriFone Inc."
    rates = {r["RatecodeID"]: r["RatecodeName"] for r in eng.wh.read("dim_rate").collect()}
    assert rates[99] == "Unknown"
    assert 0 not in rates  # sentinel dropped (Q4)
    pays = {r["paymentID"]: r["payment_type"] for r in eng.wh.read("dim_payment").collect()}
    assert pays[0] == "Flex Fare trip"  # sentinel kept for payment dim


def test_engine_refuses_exploded_dim(spark, tmp_path):
    """_existing materializes dims to the driver for same-path
    overwrite; a dim whose cardinality exploded (corrupt upstream
    keys) must fail at the row-count guard, not OOM the collect."""
    eng = Engine(spark, str(tmp_path / "wh_guard"))
    big = spark.range(eng.MAX_DIM_ROWS + 1).select(
        F.col("id").cast("int").alias("VendorID"),
        F.concat(F.lit("v"), F.col("id")).alias("VendorName"),
    )
    eng.wh.overwrite(big, "dim_vendor")
    with pytest.raises(ValueError, match="MAX_DIM_ROWS"):
        eng._existing("dim_vendor", big.limit(0))
    # a sane dim still round-trips through the guard
    eng.wh.overwrite(big.limit(5), "dim_rate")
    assert eng._existing("dim_rate", big.limit(0)).count() == 5


def test_engine_full_rebuild_drops_deleted_month(spark, tmp_path, two_month_dir):
    """A month removed from silver must disappear from the fact on a
    full rebuild (incremental=False uses STATIC overwrite). Dynamic
    partition overwrite would silently keep the stale partition —
    run_fact's documented contract requires it gone."""
    eng = Engine(spark, str(tmp_path / "wh_del"))
    eng.run_all(green_dir=two_month_dir, zone_csv=ZONE_CSV)
    months_before = {
        r["month"] for r in eng.wh.read("fact_nyc").select("month").distinct().collect()
    }
    assert 2 in months_before
    # delete February upstream and rewrite silver without it (staged
    # through a scratch path: overwriting the path being read would
    # delete parquet mid-scan)
    staging = str(tmp_path / "silver_staging")
    eng.wh.read("trips_silver").filter(F.col("month") != 2).write.parquet(staging)
    eng.wh.overwrite(spark.read.parquet(staging), "trips_silver", ["month"])
    eng.run_fact(incremental=False)
    months_after = {
        r["month"] for r in eng.wh.read("fact_nyc").select("month").distinct().collect()
    }
    assert 2 not in months_after, "stale fact partition survived a full rebuild"
    assert 1 in months_after


def test_engine_incremental_detects_late_only_batch(spark, tmp_path, two_month_dir):
    """A re-delivered batch whose pickup timestamps ALL precede the
    loaded maximum must still be loaded. Digest-based change detection
    catches it; the old pickup-time watermark silently skipped it."""
    eng = Engine(spark, str(tmp_path / "wh_late"))
    eng.run_all(green_dir=two_month_dir, zone_csv=ZONE_CSV)
    before = {
        r["month"]: r["n"]
        for r in eng.wh.read("fact_nyc").groupBy("month").agg(F.count("*").alias("n")).collect()
    }
    # simulate the late re-delivery: extra January rows appended to
    # silver (duplicates of loaded trips — every pickup <= watermark)
    silver = eng.wh.read("trips_silver")
    jan_extra = silver.filter(F.col("month") == 1).limit(500)
    n_extra = jan_extra.count()
    assert n_extra > 0
    eng.wh.append(jan_extra, "trips_silver", ["month"])

    eng.run_fact(incremental=True)
    after = {
        r["month"]: r["n"]
        for r in eng.wh.read("fact_nyc").groupBy("month").agg(F.count("*").alias("n")).collect()
    }
    assert after[1] > before[1], "late-only batch was not loaded"
    assert after[2] == before[2], "untouched month was rebuilt"
