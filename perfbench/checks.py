"""Output checks, computed independently of Spark with DuckDB.

* ETL: the fact row count and the monthly/weekly report marts are
  recomputed from the raw files (per-colour exact dedup, non-NULL
  datetimes, NULL ids -> 0, 2023-only pickup and drop-off dates, the
  seeded/upserted dims) and compared key by key with what the Engine
  wrote.
* Suite: each query's result is compared with its DuckDB oracle SQL
  (``suite.oracle_sql()``) over the same parquet tables.
"""

from __future__ import annotations

import math
import os

import duckdb

_PAYMENTS = ["Flex Fare trip", "Credit card", "Cash", "No charge", "Dispute", "Unknown",
             "Voided trip"]
_RATES = {1: "Standard rate", 2: "JFK", 3: "Newark", 4: "Nassau or Westchester",
          5: "Negotiated fare", 6: "Group ride", 99: "Unknown"}
_VENDORS = {1: "Creative Mobile Technologies, LLC", 2: "VeriFone Inc."}

_ZONE_KEYS = ["PU_Borough", "PU_Zone", "PU_service_zone", "DO_Borough", "DO_Zone",
              "DO_service_zone", "typeName", "VendorName", "payment_type", "RatecodeName"]
MART_KEYS = {
    "monthly_report": ["month_pu"] + _ZONE_KEYS,
    "weekly_report": ["dayOfWeek_pu", "weekOfYear_pu"] + _ZONE_KEYS,
}
_MART_GRAIN = {
    "monthly_report": "CAST(month(pu) AS INTEGER) AS month_pu",
    "weekly_report": "dayname(pu) AS dayOfWeek_pu, CAST(weekofyear(pu) AS INTEGER) AS weekOfYear_pu",
}


def _case(col: str, names: dict[int, str], default: str) -> str:
    whens = " ".join(f"WHEN {k} THEN '{v}'" for k, v in names.items())
    return f"CASE {col} {whens} ELSE '{default}' END"


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB that spills, if ever, under ``tmp_dir``."""
    return duckdb.connect(config={"threads": 2, "temp_directory": tmp_dir})


class EtlOracle:
    """Expected fact count and marts for one raw set, kept as DuckDB
    tables so each check after an Engine run is one cheap join."""

    def __init__(self, raw_dir: str, zone_csv: str, tmp_dir: str):
        self.con = connect(tmp_dir)
        silver = []
        for color, prefix in (("yellow", "tpep"), ("green", "lpep")):
            glob = os.path.join(raw_dir, color, "*.parquet", "*.parquet")
            self.con.execute(
                f"CREATE TABLE raw_{color} AS SELECT * FROM read_parquet('{glob}', union_by_name=true)"
            )
            silver.append(f"""
              SELECT coalesce(VendorID, 0) AS VendorID,
                     {prefix}_pickup_datetime AS pu, {prefix}_dropoff_datetime AS do_,
                     coalesce(PULocationID, 0) AS PULocationID,
                     coalesce(DOLocationID, 0) AS DOLocationID,
                     coalesce(CAST(RatecodeID AS INTEGER), 0) AS RatecodeID,
                     coalesce(CAST(payment_type AS INTEGER), 0) AS paymentID,
                     coalesce(fare_amount, 0) AS fare_amount,
                     '{color.capitalize()}' AS typeName
              FROM (SELECT DISTINCT * FROM raw_{color})
              WHERE {prefix}_pickup_datetime IS NOT NULL
                AND {prefix}_dropoff_datetime IS NOT NULL""")
        self.raw_rows = sum(
            self.con.execute(f"SELECT count(*) FROM raw_{c}").fetchone()[0]
            for c in ("yellow", "green")
        )
        self.con.execute(f"CREATE TABLE silver AS {' UNION ALL '.join(silver)}")
        self.con.execute(
            "CREATE TABLE fact AS SELECT * FROM silver WHERE year(pu) = 2023 AND year(do_) = 2023"
        )
        self.fact_rows = self.con.execute("SELECT count(*) FROM fact").fetchone()[0]
        self.con.execute(f"""
          CREATE TABLE decorated AS
          SELECT f.*, pz.Borough AS PU_Borough, pz.Zone AS PU_Zone,
                 pz.service_zone AS PU_service_zone, dz.Borough AS DO_Borough,
                 dz.Zone AS DO_Zone, dz.service_zone AS DO_service_zone,
                 {_case('VendorID', _VENDORS, 'Unknown Vendor')} AS VendorName,
                 CASE WHEN paymentID BETWEEN 0 AND 6
                      THEN {_PAYMENTS!r}[paymentID + 1]
                      ELSE 'Unknown Payment Method' END AS payment_type,
                 {_case('RatecodeID', _RATES, 'Unknown Ratecode')} AS RatecodeName
          FROM fact f
          JOIN read_csv('{zone_csv}', header=true) pz ON f.PULocationID = pz.LocationID
          JOIN read_csv('{zone_csv}', header=true) dz ON f.DOLocationID = dz.LocationID
          WHERE f.VendorID <> 0 AND f.RatecodeID <> 0""")
        for mart, keys in MART_KEYS.items():
            self.con.execute(f"""
              CREATE TABLE expected_{mart} AS
              SELECT {', '.join(keys)}, count(*) AS trips,
                     floor(sum(fare_amount) * 1000.0 + 0.5) / 1000.0 AS fare
              FROM (SELECT *, {_MART_GRAIN[mart]} FROM decorated)
              GROUP BY ALL""")

    def mismatches(self, warehouse: str) -> dict[str, int]:
        """Failed checks of one warehouse: fact count, then per mart the
        number of keys whose trip count or fare total differs (a
        rounded total may differ by one 0.001 step where float
        summation order flips a half-way rounding)."""
        fact_glob = os.path.join(warehouse, "fact_nyc", "*", "*.parquet")
        n_fact = self.con.execute(f"SELECT count(*) FROM read_parquet('{fact_glob}')").fetchone()[0]
        out = {"fact_rows": int(n_fact != self.fact_rows)}
        for mart, keys in MART_KEYS.items():
            cols = ", ".join(keys)
            glob = os.path.join(warehouse, mart, "*.parquet")
            out[mart] = self.con.execute(f"""
              WITH got AS (
                SELECT {cols}, sum(total_trips) AS trips, sum(total_fare_amount) AS fare
                FROM read_parquet('{glob}') GROUP BY ALL)
              SELECT count(*) FROM got FULL OUTER JOIN expected_{mart} e USING ({cols})
              WHERE got.trips IS DISTINCT FROM e.trips
                 OR got.fare IS NULL OR e.fare IS NULL
                 OR abs(got.fare - e.fare) > 0.0011""").fetchone()[0]
        return out

    def close(self) -> None:
        self.con.close()


def suite_connection(sf_dir: str, tables: list[str], tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = connect(tmp_dir)
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    return con


def frames_differ(got, want) -> str | None:
    """Compare two pandas frames as unordered row multisets with
    columns matched by name; floats within 1e-9 relative. Returns a
    short reason, or None when equal."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = sorted(got.columns)
    a, b = _canon(got[cols]), _canon(want[cols])
    for ra, rb in zip(a, b):
        for c, x, y in zip(cols, ra, rb):
            if not _same(x, y):
                return f"column {c}: {x!r} != {y!r}"
    return None


def _norm(v):
    if v is None:
        return None
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return float(v)
    if hasattr(v, "is_nan"):  # Decimal
        return float(v)
    return v


def _canon(pdf) -> list[tuple]:
    rows = [tuple(_norm(v) for v in r) for r in pdf.itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: tuple(_sort_key(v) for v in r))


def _sort_key(v) -> str:
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, tuple):
        return "(" + ",".join(_sort_key(x) for x in v) + ")"
    return str(v)


def _same(x, y) -> bool:
    if isinstance(x, tuple) and isinstance(y, tuple):
        return len(x) == len(y) and all(_same(p, q) for p, q in zip(x, y))
    if isinstance(x, float) and isinstance(y, float):
        return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
    return x == y or str(x) == str(y)
