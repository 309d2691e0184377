"""Platinum layer: monthly/weekly denormalized report marts.

Reference: assets/platinum.py:69-154 (monthly), :166-252 (weekly);
output DDL Databases/create_report.sql. A star-join + group-by —
pure Catalyst territory: every dimension is broadcast, aggregation is
partial (map-side) + final hash agg, so the only shuffle is on the
grouping keys.

Q1 fix: avg/total_trip_duration are true MINUTES
(``trip_duration``-seconds / 60.0). The reference divided its seconds
by 1000*60 (platinum.py:101-102), producing kilo-minutes.

Scale note — the two marts share 6 of their grouping keys
(PULocationID, DOLocationID, typeID, VendorID, RatecodeID,
paymentID); only the date-derived keys differ, and every date key is
a function of date_puID. ``shared_report_base`` exploits this: hash-
partitioning the fact ONCE on the 6 shared keys satisfies Catalyst's
ClusteredDistribution requirement for BOTH aggregations (a hash
partitioning on a subset of the grouping keys co-locates every full
key), so ``Engine.run_reports`` scans the fact once and shuffles it
once instead of twice. This wins exactly when the report grain barely
compresses the fact (the reference's 36M-row yellow crash case:
near-uniform keys mean map-side combine removes almost nothing, so
the second groupBy shuffle is pure waste). ``monthly_report`` and
``weekly_report`` are the single-mart compositions of the same path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Grouping keys common to BOTH marts — the shared-exchange partition key.
SHARED_KEYS = [
    "PULocationID",
    "DOLocationID",
    "typeID",
    "VendorID",
    "RatecodeID",
    "paymentID",
]

# (column, aggregate-output stem) pairs — platinum.py:88-112.
_MEASURES = [
    "passenger_count",
    "trip_distance",
    "trip_duration",
    "tip_amount",
    "tolls_amount",
    "total_amount",
    "fare_amount",
]


def _aggregates() -> list:
    # round_half_up (floor-form) instead of F.round so report values
    # are bit-reproducible against any engine computing the same
    # double expression (see functions/__init__) — exercised by the
    # real-data DuckDB cross-check in tests/test_nyc_oracle.py.
    from nyc_etl_pipeline_spark.functions import round_half_up

    aggs = []
    for m in _MEASURES:
        col = (F.col(m) / 60.0) if m == "trip_duration" else F.col(m)
        aggs.append(round_half_up(F.avg(col), 3).alias(f"avg_{m}"))
        aggs.append(round_half_up(F.sum(col), 3).alias(f"total_{m}"))
    aggs.append(F.count(F.lit(1)).alias("total_trips"))  # count('ID') == count(*) (Q7)
    return aggs


def _decorate(
    grouped: DataFrame,
    zone: DataFrame,
    dim_type: DataFrame,
    dim_vendor: DataFrame,
    dim_payment: DataFrame,
    dim_rate: DataFrame,
    lead_cols: list[str],
) -> DataFrame:
    """Join the 6 decorating dims (all broadcast) and order columns
    per create_report.sql."""
    pu_zone = F.broadcast(
        zone.select(
            F.col("LocationID").alias("PULocationID"),
            F.col("Borough").alias("PU_Borough"),
            F.col("Zone").alias("PU_Zone"),
            F.col("service_zone").alias("PU_service_zone"),
        )
    )
    do_zone = F.broadcast(
        zone.select(
            F.col("LocationID").alias("DOLocationID"),
            F.col("Borough").alias("DO_Borough"),
            F.col("Zone").alias("DO_Zone"),
            F.col("service_zone").alias("DO_service_zone"),
        )
    )
    df = (
        grouped.join(pu_zone, on="PULocationID", how="inner")
        .join(do_zone, on="DOLocationID", how="inner")
        .join(F.broadcast(dim_type), on="typeID", how="inner")
        .join(F.broadcast(dim_vendor), on="VendorID", how="inner")
        .join(F.broadcast(dim_payment), on="paymentID", how="inner")
        .join(F.broadcast(dim_rate), on="RatecodeID", how="inner")
    )
    out_cols = (
        lead_cols
        + [
            "PU_Borough",
            "PU_Zone",
            "PU_service_zone",
            "DO_Borough",
            "DO_Zone",
            "DO_service_zone",
            "typeName",
            "VendorName",
            "payment_type",
            "RatecodeName",
        ]
        + [f"avg_{m}" for m in _MEASURES]
        + [f"total_{m}" for m in _MEASURES]
        + ["total_trips"]
    )
    return df.select(*out_cols)


def shared_report_base(fact: DataFrame, dim_date: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Fact decorated with every date attribute both marts need, hash-
    partitioned on the 6 shared grouping keys.

    Downstream ``monthly_from_base``/``weekly_from_base`` groupBys
    require ClusteredDistribution(their keys); HashPartitioning on
    this SUBSET of those keys satisfies it, so neither aggregation
    adds an Exchange — one shuffle serves both marts. Caller should
    persist the result before fanning out (Engine.run_reports does).

    Only the columns the aggregates consume survive into the base, so
    a persisted copy holds 6 ints + 3 date parts + 7 measures — not
    the full fact row.
    """
    dd = F.broadcast(
        dim_date.select(
            F.col("dateID").alias("date_puID"),
            F.col("month").alias("month_pu"),
            F.col("dayOfWeek").alias("dayOfWeek_pu"),
            F.col("weekOfYear").alias("weekOfYear_pu"),
        )
    )
    base = fact.join(dd, on="date_puID", how="inner").select(
        *SHARED_KEYS, "month_pu", "dayOfWeek_pu", "weekOfYear_pu", *_MEASURES
    )
    parts = [num_partitions] if num_partitions else []
    return base.repartition(*parts, *[F.col(k) for k in SHARED_KEYS])


def monthly_from_base(
    base: DataFrame,
    zone: DataFrame,
    dim_type: DataFrame,
    dim_vendor: DataFrame,
    dim_payment: DataFrame,
    dim_rate: DataFrame,
) -> DataFrame:
    """Monthly mart from a ``shared_report_base`` — shuffle-free agg."""
    grouped = base.groupBy(*SHARED_KEYS[:4], "month_pu", *SHARED_KEYS[4:]).agg(*_aggregates())
    return _decorate(grouped, zone, dim_type, dim_vendor, dim_payment, dim_rate, ["month_pu"])


def weekly_from_base(
    base: DataFrame,
    zone: DataFrame,
    dim_type: DataFrame,
    dim_vendor: DataFrame,
    dim_payment: DataFrame,
    dim_rate: DataFrame,
) -> DataFrame:
    """Weekly mart from a ``shared_report_base`` — shuffle-free agg."""
    grouped = base.groupBy(
        *SHARED_KEYS[:4], "dayOfWeek_pu", "weekOfYear_pu", *SHARED_KEYS[4:]
    ).agg(*_aggregates())
    return _decorate(
        grouped, zone, dim_type, dim_vendor, dim_payment, dim_rate,
        ["dayOfWeek_pu", "weekOfYear_pu"],
    )


def monthly_report(
    fact: DataFrame,
    dim_date: DataFrame,
    zone: DataFrame,
    dim_type: DataFrame,
    dim_vendor: DataFrame,
    dim_payment: DataFrame,
    dim_rate: DataFrame,
) -> DataFrame:
    """platinum.py:69-154 — group by 7 keys incl. pickup month."""
    return monthly_from_base(
        shared_report_base(fact, dim_date), zone, dim_type, dim_vendor, dim_payment, dim_rate
    )


def weekly_report(
    fact: DataFrame,
    dim_date: DataFrame,
    zone: DataFrame,
    dim_type: DataFrame,
    dim_vendor: DataFrame,
    dim_payment: DataFrame,
    dim_rate: DataFrame,
) -> DataFrame:
    """platinum.py:166-252 — keys swap month for dayOfWeek+weekOfYear."""
    return weekly_from_base(
        shared_report_base(fact, dim_date), zone, dim_type, dim_vendor, dim_payment, dim_rate
    )
