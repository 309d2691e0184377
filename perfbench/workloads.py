"""The benchmark's workloads.

Each workload is a closed loop with one client: one Engine batch or
one suite query runs at a time, and the next starts when it finishes.
A workload object owns its inputs (generated from the seed in
``setup``) and runs one iteration per ``iterate`` call, with or without
a ``Tracer``. Output checks count into ``wrong``; exceptions count into
``failed`` out of ``attempted``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
import traceback

import checks
import synth
from tracing import Py4JCounter, Tracer

ENGINE_LAYERS = ("silver", "dims", "fact", "reports")
ETL_MONTHS = 12
ETL_ROWS_PER_MONTH = {"yellow": 8_000, "green": 2_000}

SUITE_SF = 0.01
SUITE_QUERIES = [
    # the ten drift canaries of bench.py
    "q08_top_customers", "q09_window_rank", "q10_rollup", "q13_events_tumbling",
    "q15_sessionize", "q39_string_gauntlet", "q43_tpch_q1", "q45_array_ops",
    "q61_tpch_q3", "q102_tpch_q6",
    # plan-build heavy (q165, q180, q190, q206) and execution heavy (q01, q141, q206)
    "q01_monthly_sales_report", "q141_jaccard_prefix", "q165_kmeans",
    "q180_cluster_reps", "q190_softmax_langid", "q206_kendall_tau",
]
SETUP_REPEATS = 3


def _data_files(root: str) -> dict[str, int]:
    """{relative path: bytes} of the data files under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(d, f)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


class Workload:
    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.attempted = self.failed = self.wrong = 0
        self.persisted_max = 0
        self.e2e: dict[str, float] = {}
        self.info: dict = {}

    def setup(self) -> tuple[float, float]:
        """Generate the inputs ``SETUP_REPEATS`` times into fresh
        directories (keeping the last), prepare the output checks and
        warm up; return (median generation time, warm-up time)."""
        times = []
        for k in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            self.generate(os.path.join(self.work, f"input{k}"))
            times.append(time.perf_counter() - t0)
            if k + 1 < SETUP_REPEATS:
                shutil.rmtree(os.path.join(self.work, f"input{k}"))
        self.prepare_checks()
        return statistics.median(times), self.warm_up()

    def warm_up(self) -> float:
        return 0.0

    def close(self) -> None:
        pass

    def _fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED {what}:\n{traceback.format_exc()}", flush=True)


class EtlCold(Workload):
    """Each iteration: silver -> dims -> fact -> reports into an empty
    warehouse over 12 synthetic months of yellow and green trips."""

    LAYERS = ("engine.", "io.")

    def generate(self, root: str) -> None:
        self.raw = os.path.join(root, "raw")
        for i, color in enumerate(synth.TAXI_COLORS):
            synth.write_taxi_months(
                self.spark, self.raw, color, ETL_MONTHS, ETL_ROWS_PER_MONTH[color],
                self.seed * 10 + i,
            )
        self.zone_csv = os.path.join(root, "taxi_zone.csv")
        synth.write_zone_csv(self.zone_csv, self.seed)

    def prepare_checks(self) -> None:
        self.oracle = checks.EtlOracle(self.raw, self.zone_csv, os.path.join(self.work, "tmp"))
        self.raw_bytes = sum(_data_files(self.raw).values())
        self.info.update(raw_rows=self.oracle.raw_rows, raw_bytes=self.raw_bytes,
                         fact_rows=self.oracle.fact_rows)

    def warm_up(self) -> float:
        """One untimed batch, so the timed ones run on a warm JVM
        (JIT-compiled hot paths, cached generated code)."""
        seconds, _ = self.iterate(-1)
        return seconds or 0.0

    def iterate(self, i: int, tracer: Tracer | None = None):
        """Run one batch; return (seconds, layer metrics or None)."""
        from nyc_etl_pipeline_spark.engine import Engine

        wh = os.path.join(self.work, f"wh{i}")
        eng = Engine(self.spark, wh)
        layers: dict[str, float] = {}
        self.attempted += 1
        try:
            with _traced_engine(eng, tracer, i, layers, self.oracle.raw_rows):
                t0 = time.perf_counter()
                eng.run_all(
                    green_dir=os.path.join(self.raw, "green"),
                    yellow_dir=os.path.join(self.raw, "yellow"),
                    zone_csv=self.zone_csv,
                    incremental=True,
                )
                seconds = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 -- a failed batch is counted, the loop goes on
            self._fail(f"etl iteration {i}")
            shutil.rmtree(wh, ignore_errors=True)
            return None, None
        bad = {k: v for k, v in self.oracle.mismatches(wh).items() if v}
        if bad:
            print(f"WRONG etl iteration {i}: {bad}", flush=True)
        self.wrong += len(bad)
        self.e2e.setdefault(
            "stored_bytes_per_raw_byte", sum(_data_files(wh).values()) / self.raw_bytes
        )
        self.persisted_max = max(self.persisted_max, persisted_rdds(self.spark))
        shutil.rmtree(wh)
        return seconds, layers or None

    def throughput(self, run_s: float) -> float:
        return self.oracle.raw_rows / run_s

    def close(self) -> None:
        self.oracle.close()


@contextlib.contextmanager
def _traced_engine(eng, tracer, i: int, layers: dict, raw_rows: int):
    """While active with a tracer, time each Engine layer call and each
    Warehouse write, and fill ``layers`` with the per-layer metrics."""
    if tracer is None:
        yield
        return
    from nyc_etl_pipeline_spark.io import Warehouse

    root, writes = eng.wh.root, []

    def wrap_layer(layer, fn):
        def call(*args, **kwargs):
            with tracer.bookkeeping():
                before = _data_files(root) if os.path.isdir(root) else {}
            with tracer.span(f"engine.{layer}", group=f"engine.{layer}.{i}") as sp:
                result = fn(*args, **kwargs)
            with tracer.bookkeeping():
                new = {p: b for p, b in _data_files(root).items() if p not in before}
            m = tracer.group_metrics(sp)
            pre = f"engine.{layer}."
            layers[pre + "wall_s"] = sp.wall_s
            for k in ("driver_s", "task_s", "gc_s", "shuffle_bytes", "spill_bytes", "jobs",
                      "stages", "rows_out"):
                layers[pre + k] = m[k]
            layers[pre + "bytes_written"] = sum(new.values())
            layers[pre + "files_written"] = len(new)
            if layer == "silver":
                layers["engine.silver.rows_in"] = raw_rows
                layers["engine.silver.rows_rejected"] = raw_rows - m["rows_out"]
            if layer == "fact":
                # a rebuilt month partition holds newly named files
                layers["engine.fact.months_rebuilt"] = len(
                    {p.split(os.sep)[1] for p in new if p.startswith("fact_nyc" + os.sep)}
                )
            return result

        return call

    def wrap_write(orig):
        def write(wh, df, table, *args, **kwargs):
            with tracer.span("io.write", table=table) as sp:
                orig(wh, df, table, *args, **kwargs)
            writes.append(sp.wall_s)

        return write

    for layer in ENGINE_LAYERS:
        setattr(eng, f"run_{layer}", wrap_layer(layer, getattr(eng, f"run_{layer}")))
    saved = {m: getattr(Warehouse, m) for m in ("overwrite", "overwrite_partitions", "append")}
    for m, orig in saved.items():
        setattr(Warehouse, m, wrap_write(orig))
    try:
        with tracer.span(f"etl.iteration.{i}"):
            yield
    finally:
        for m, orig in saved.items():
            setattr(Warehouse, m, orig)
    layers["io.write_s"] = sum(writes)
    layers["io.writes"] = len(writes)


class SuiteMix(Workload):
    """Each iteration: the 16 operator-suite queries in order, each
    built (``spec.fn``) and then executed through the ``noop`` sink."""

    LAYERS = ("suite.", "exec.", "q.")

    def generate(self, root: str) -> None:
        self.sf_dir = os.path.join(root, "sf")
        self.table_rows = synth.write_suite_tables(self.sf_dir, SUITE_SF, self.seed)

    def prepare_checks(self) -> None:
        from nyc_etl_pipeline_spark import suite

        specs = {s.name: s for s in suite.all_specs()}
        self.specs = [specs[q] for q in SUITE_QUERIES]
        con = checks.suite_connection(self.sf_dir, list(self.table_rows),
                                      os.path.join(self.work, "tmp"))
        self.expected = {s.name: con.sql(s.oracle).df() for s in self.specs}
        con.close()
        self.oracle_checked: set[str] = set()
        self.info.update(sf=SUITE_SF, table_rows=self.table_rows)
        self.e2e["stored_bytes_per_raw_byte"] = self._parquet_ratio()

    def _parquet_ratio(self) -> float:
        import pyarrow.parquet as pq

        on_disk = mem = 0
        for t in self.table_rows:
            p = os.path.join(self.sf_dir, f"{t}.parquet")
            on_disk += os.path.getsize(p)
            mem += pq.read_table(p).nbytes
        return on_disk / mem

    def iterate(self, i: int, tracer: Tracer | None = None):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        spark, total, layers, failed0 = self.spark, 0.0, {}, self.failed
        counter = Py4JCounter(spark) if tracer else None

        def span(name, group):
            return tracer.span(name, group=group) if tracer else contextlib.nullcontext()

        for spec in self.specs:
            name = spec.name
            self.attempted += 1
            try:
                with span(f"q.{name}.build", f"build.{name}.{i}") as b:
                    calls0 = counter.calls if counter else 0
                    t0 = time.perf_counter()
                    with counter or contextlib.nullcontext():
                        df = spec.fn(spark, self.sf_dir)
                    build = time.perf_counter() - t0
                obs = Observation()
                observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
                with span(f"q.{name}.exec", f"exec.{name}.{i}") as e:
                    t0 = time.perf_counter()
                    observed.write.format("noop").mode("overwrite").save()
                    execute = time.perf_counter() - t0
                total += build + execute
                if obs.get["n"] != len(self.expected[name]):
                    self.wrong += 1
                    print(f"WRONG {name}: {obs.get['n']} rows, oracle "
                          f"{len(self.expected[name])}", flush=True)
                if name not in self.oracle_checked:
                    self.oracle_checked.add(name)
                    diff = checks.frames_differ(df.toPandas(), self.expected[name])
                    if diff:
                        self.wrong += 1
                        print(f"WRONG {name} vs oracle: {diff}", flush=True)
            except Exception:  # noqa: BLE001 -- a failed query is counted, the loop goes on
                self._fail(f"{name} iteration {i}")
                continue
            if tracer:
                mb, me = tracer.group_metrics(b), tracer.group_metrics(e)
                layers[f"q.{name}.build_s"] = build
                layers[f"q.{name}.exec_s"] = execute
                _add(layers, "suite.build_s", build)
                _add(layers, "suite.exec_s", execute)
                _add(layers, "suite.py4j_calls", counter.calls - calls0)
                _add(layers, "suite.jobs_during_build", mb["jobs"])
                for k in ("task_s", "gc_s", "shuffle_bytes", "spill_bytes", "stages"):
                    _add(layers, f"exec.{k}", me[k])
        self.persisted_max = max(self.persisted_max, persisted_rdds(spark))
        if self.failed > failed0:
            return None, None
        return total, layers or None

    def throughput(self, run_s: float) -> float:
        return sum(self.table_rows.values()) / run_s


def _add(d: dict, k: str, v: float) -> None:
    d[k] = d.get(k, 0) + v


WORKLOADS = {"etl_cold": EtlCold, "suite_mix": SuiteMix}
