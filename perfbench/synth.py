"""Seeded input generators for the benchmark workloads.

Two families, both reproducible from ``seed`` alone:

* Taxi months in the real TLC raw schemas (``schemas.YELLOW_RAW`` and
  ``schemas.GREEN_RAW``), generated executor-side from a hash of
  (row id, seed, field) -- no Python UDFs and no driver loop, modelled
  on ``examples/yellow_scale_run.synth_yellow_month``. They keep the
  real files' pathologies: NULL RatecodeID, passenger_count and
  payment_type; NULL drop-off times; out-of-year strays; an unknown
  vendor id; ~0.1% exact duplicate rows; sentinel payment_type 0.
  Plus the 265-row taxi-zone CSV.
* The operator suite's ten tables (``schemas.TESTDATA``) at a given
  scale factor, written driver-side with NumPy/pyarrow in the shapes of
  the suite's fixture data: uniform TPC-H-like keys and measures, an
  events stream, word-salad documents with near-duplicates, and unit
  64-d embeddings with 10 labels.
"""

from __future__ import annotations

import os
import random
import shutil

YEAR = 2023
TAXI_COLORS = ("yellow", "green")
N_ZONES = 265

_BOROUGHS = ["Bronx", "Brooklyn", "EWR", "Manhattan", "Queens", "Staten Island"]
_SERVICE_ZONES = ["Boro Zone", "Yellow Zone", "Airports", "EWR"]


def _taxi_frame(spark, color: str, n_months: int, rows_per_month: int, seed: int):
    """``n_months`` months of one color as a single DataFrame with a
    ``_m`` month column (1-based), ``rows_per_month`` rows each (plus
    duplicates)."""
    from pyspark.sql import functions as F

    def h(k: str):
        return F.abs(F.xxhash64(F.col("id"), F.lit(seed), F.lit(k)))

    prefix = "tpep" if color == "yellow" else "lpep"
    month = (F.col("id") / rows_per_month).cast("int") + 1
    month_start = F.make_timestamp(F.lit(YEAR), month, F.lit(1), F.lit(0), F.lit(0), F.lit(0))
    month_secs = (
        F.add_months(F.to_date(month_start), 1).cast("timestamp").cast("long")
        - month_start.cast("long")
    )
    # ~0.02% far-out-of-year strays, ~0.02% previous-year strays (both
    # dropped by the fact's date-dim join), ~0.05% NULL drop-off times
    # (dropped by silver)
    pickup = (
        F.when(h("stray") % 5000 == 0, F.to_timestamp(F.lit("2008-12-31 23:59:59")))
        .when(h("stray") % 5000 == 1, F.to_timestamp(F.lit("2022-12-31 23:30:00")))
        .otherwise(F.timestamp_seconds(month_start.cast("long") + h("pu") % month_secs))
    )
    dropoff = F.when(h("do_n") % 2000 == 0, F.lit(None).cast("timestamp")).otherwise(
        F.timestamp_seconds(pickup.cast("long") + 60 + h("dur") % 5400)
    )
    vendor = F.when(h("vendor_u") % 100 == 0, F.lit(6)).otherwise(1 + h("vendor") % 2)
    rate = (
        F.when(h("rate_n") % 33 == 0, F.lit(None).cast("double"))
        .otherwise((1 + h("rate") % 6).cast("double"))
    )
    passengers = (
        F.when(h("pass_n") % 25 == 0, F.lit(None).cast("double"))
        .otherwise((1 + h("pass") % 4).cast("double"))
    )
    payment = (
        F.when(h("pay_n") % 50 == 0, F.lit(None).cast("double"))
        .otherwise((h("pay") % 6).cast("double"))  # 0 = sentinel 'Flex Fare trip'
    )
    fare = (F.lit(3.0) + (h("fare") % 7000) / 100.0).cast("double")
    tip = (h("tip") % 2000 / 100.0).cast("double")
    tolls = F.when(h("toll") % 20 == 0, F.lit(6.55)).otherwise(F.lit(0.0))
    extra = F.when(h("extra") % 2 == 0, F.lit(0.5)).otherwise(F.lit(0.0))
    congestion = F.when(h("cong") % 10 == 0, F.lit(None).cast("double")).otherwise(F.lit(2.5))
    cols = [
        vendor.cast("long").alias("VendorID"),
        pickup.alias(f"{prefix}_pickup_datetime"),
        dropoff.alias(f"{prefix}_dropoff_datetime"),
        F.when(h("saf") % 100 == 0, F.lit("Y")).otherwise(F.lit("N")).alias("store_and_fwd_flag"),
        rate.alias("RatecodeID"),
        (1 + h("pu_loc") % N_ZONES).alias("PULocationID"),
        (1 + h("do_loc") % N_ZONES).alias("DOLocationID"),
        passengers.alias("passenger_count"),
        ((h("dist") % 3000) / 100.0).cast("double").alias("trip_distance"),
        fare.alias("fare_amount"),
        extra.alias("extra"),
        F.lit(0.5).alias("mta_tax"),
        tip.alias("tip_amount"),
        tolls.alias("tolls_amount"),
    ]
    total = fare + extra + F.lit(0.5) + tip + tolls + F.lit(1.0)
    if color == "green":
        cols += [
            F.lit(None).cast("double").alias("ehail_fee"),
            F.lit(1.0).alias("improvement_surcharge"),
            total.alias("total_amount"),
            payment.alias("payment_type"),
            (1 + h("trip_type") % 2).cast("double").alias("trip_type"),
            congestion.alias("congestion_surcharge"),
        ]
    else:
        cols += [
            F.lit(1.0).alias("improvement_surcharge"),
            total.alias("total_amount"),
            payment.alias("payment_type"),
            congestion.alias("congestion_surcharge"),
            F.when(h("apt") % 50 == 0, F.lit(1.75)).otherwise(F.lit(0.0)).alias("airport_fee"),
        ]
    # one partition per month, so each month is written as one file;
    # ~0.1% exact duplicate rows (re-delivery artifacts) sit next to
    # their original
    df = spark.range(0, rows_per_month * n_months, 1, numPartitions=n_months)
    dup = F.when(h("dup") % 1000 == 0, F.lit(2)).otherwise(F.lit(1))
    df = df.withColumn("_copy", F.explode(F.array_repeat(F.lit(0), dup)))
    return df.select(*cols, month.alias("_m"))


def write_taxi_months(spark, raw_dir: str, color: str, n_months: int,
                      rows_per_month: int, seed: int) -> None:
    """Write ``raw_dir/<color>/<YEAR>-MM.parquet``, one data file per
    month, in one Spark job."""
    color_dir = os.path.join(raw_dir, color)
    staging = color_dir + ".staging"
    _taxi_frame(spark, color, n_months, rows_per_month, seed).write.mode("overwrite") \
        .partitionBy("_m").parquet(staging)
    os.makedirs(color_dir, exist_ok=True)
    for m in range(1, n_months + 1):
        os.rename(os.path.join(staging, f"_m={m}"),
                  os.path.join(color_dir, f"{YEAR}-{m:02d}.parquet"))
    shutil.rmtree(staging)


def write_zone_csv(path: str, seed: int) -> None:
    """The 265-row taxi-zone lookup (LocationID, Borough, Zone,
    service_zone) with unique zone names."""
    rng = random.Random(seed)
    lines = ["LocationID,Borough,Zone,service_zone"]
    for loc in range(1, N_ZONES + 1):
        lines.append(
            f"{loc},{rng.choice(_BOROUGHS)},Zone {loc:03d} {rng.choice('ABCDEFGH')},"
            f"{rng.choice(_SERVICE_ZONES)}"
        )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


# ---------------------------------------------------------------------------
# Operator-suite tables
# ---------------------------------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
_PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
_PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def suite_row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_suite_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write ``out_dir/<table>.parquet`` for every suite table; return
    the row count per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_etl_pipeline_spark.schemas import TESTDATA

    rng = np.random.default_rng(seed)
    n = suite_row_counts(sf)
    day = np.timedelta64(1, "D")
    d1995 = np.datetime64("1995-01-01T00:00:00", "us")

    def money(lo: float, hi: float, k: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, k), 2)

    def names(fmt: str, k: int) -> list[str]:
        return [fmt.format(i) for i in range(k)]

    cols: dict[str, dict] = {}
    cols["region"] = {
        "r_regionkey": np.arange(5),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    cols["nation"] = {
        "n_nationkey": np.arange(25),
        "n_name": names("NATION_{}", 25),
        "n_regionkey": np.arange(25) % 5,
    }
    k = n["customer"]
    cols["customer"] = {
        "c_custkey": np.arange(k),
        "c_name": names("Customer#{:09d}", k),
        "c_nationkey": rng.integers(0, 25, k),
        "c_acctbal": money(-999.99, 9999.99, k),
        "c_mktsegment": rng.choice(_SEGMENTS, k),
    }
    k = n["supplier"]
    cols["supplier"] = {
        "s_suppkey": np.arange(k),
        "s_name": names("Supplier#{:09d}", k),
        "s_nationkey": rng.integers(0, 25, k),
        "s_acctbal": money(-999.99, 9999.99, k),
    }
    k = n["part"]
    cols["part"] = {
        "p_partkey": np.arange(k),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, k), rng.choice(_PART_NOUN, k))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
        "p_type": rng.choice(_PART_TYPES, k),
        "p_size": rng.integers(1, 51, k),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 2),
    }
    k = n["orders"]
    cols["orders"] = {
        "o_orderkey": np.arange(k),
        "o_custkey": rng.integers(0, n["customer"], k),
        "o_orderstatus": rng.choice(["F", "O", "P"], k),
        "o_totalprice": money(1000.0, 500_000.0, k),
        "o_orderdate": d1995 + rng.integers(0, 2400, k) * day,
        "o_orderpriority": rng.choice(_PRIORITIES, k),
    }
    k = n["lineitem"]
    cols["lineitem"] = {
        "l_orderkey": rng.integers(0, n["orders"], k),
        "l_partkey": rng.integers(0, n["part"], k),
        "l_suppkey": rng.integers(0, n["supplier"], k),
        "l_linenumber": rng.integers(1, 8, k),
        "l_quantity": rng.integers(1, 51, k).astype("float64"),
        "l_extendedprice": money(900.0, 105_000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], k),
        "l_linestatus": rng.choice(["F", "O"], k),
        "l_shipdate": d1995 + rng.integers(1, 2500, k) * day,
    }
    k = n["events"]
    # sorted arrival times over 30 days, exponential-ish values
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, k))
    cols["events"] = {
        "event_id": np.arange(k),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(15, k // 67), k),
        "event_type": rng.choice(_EVENT_TYPES, k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    }
    k = n["documents"]
    texts: list[str] = []
    for i in range(k):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    cols["documents"] = {
        "doc_id": np.arange(k),
        "text": texts,
        "lang": rng.choice(_LANGS, k),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": [len(t) for t in texts],
    }
    k = n["embeddings"]
    vecs = rng.normal(0.0, 1.0, (k, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    cols["embeddings"] = {
        "vec_id": np.arange(k),
        "embedding": list(vecs.astype("float32")),
        "label": rng.integers(0, 10, k),
    }

    os.makedirs(out_dir, exist_ok=True)
    for name, data in cols.items():
        schema = _arrow_schema(TESTDATA[name])
        table = pa.table({f.name: pa.array(data[f.name], type=f.type) for f in schema}, schema=schema)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return n


def _arrow_schema(struct):
    import pyarrow as pa
    from pyspark.sql import types as T

    def conv(dt):
        if isinstance(dt, T.ArrayType):
            return pa.list_(conv(dt.elementType))
        return {
            T.IntegerType: pa.int32(),
            T.LongType: pa.int64(),
            T.DoubleType: pa.float64(),
            T.FloatType: pa.float32(),
            T.StringType: pa.string(),
            T.TimestampType: pa.timestamp("us"),
        }[type(dt)]

    return pa.schema([pa.field(f.name, conv(f.dataType)) for f in struct.fields])
