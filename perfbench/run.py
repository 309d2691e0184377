"""Benchmark of the nyc_etl_pipeline_spark Engine and operator suite.

    python3 perfbench/run.py --workload etl_cold --seed 1 --seconds 1 --trace 0

Runs one workload (see BENCHMARK.json) on one ``local[nproc]``
SparkSession built by the library's ``get_spark`` with its own host
defaults, as a closed loop with one client, for at least ``--seconds``
and at least one iteration. Inputs are generated from ``--seed`` inside
``.perfbench_work/`` of the checkout and removed at exit.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` traces the
timed iterations and prints the per-layer metrics instead: spans around
each Engine layer, Warehouse write and suite query build/execution,
Spark work attributed through job groups, and the tracer's own time
(``trace.overhead_s``, the part of the traced ``run_s`` an untraced run
does not spend). Spans and metrics of a traced run are written to
``.perfbench_out/trace-<workload>-<seed>.json``; every run appends its
result and host context to ``.perfbench_out/results.jsonl``.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _import_program():
    """Import the package from the checkout itself, never from
    elsewhere on the path."""
    sys.path.insert(0, ROOT)
    import nyc_etl_pipeline_spark

    if os.path.dirname(os.path.abspath(nyc_etl_pipeline_spark.__file__)) != os.path.join(
        ROOT, "nyc_etl_pipeline_spark"
    ):
        raise ImportError(f"nyc_etl_pipeline_spark found outside {ROOT}")
    return nyc_etl_pipeline_spark


def _start_session(work: str, nproc: int):
    """Build the SparkSession with the library's defaults; only the
    master, the console progress bar and scratch locations are set, and
    all scratch stays under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    for var in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_CPUS"):
        os.environ.pop(var, None)
    from nyc_etl_pipeline_spark import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temp files (and no hsperfdata) out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit (it exits when
    its stdin, held by this process, is closed)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 -- a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def _peak_rss_mb() -> float:
    """Peak resident memory of this process plus its largest reaped
    child, the driver JVM (ru_maxrss is in KiB on Linux)."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return (own + jvm) / 1024.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        spec = _spec()
        program = _import_program()
        sys.path.insert(0, HERE)
        from workloads import WORKLOADS
        from tracing import Tracer
    except (OSError, ImportError) as exc:
        print(f"perfbench: cannot load the benchmark or the program: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        spark = _start_session(work, nproc)
        session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](spark, work, args.seed)
            generate_s, warmup_s = wl.setup()
            conf = spark.sparkContext.getConf()
            context = {
                "workload": args.workload, "seed": args.seed, "trace": args.trace,
                "seconds": args.seconds, "master": spark.sparkContext.master,
                "driver_memory": conf.get("spark.driver.memory", "1g"),
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "pyspark": spark.version, "nproc": nproc,
                "program_version": program.__version__, **wl.info,
            }
            print("context " + json.dumps(context), flush=True)
            tracer = Tracer(spark, run_id) if args.trace else None
            samples, traced = [], []
            t_loop = time.perf_counter()
            i = 0
            while True:
                seconds, layers = wl.iterate(i, tracer)
                if seconds is not None:
                    samples.append(seconds)
                    if layers:
                        traced.append(layers)
                i += 1
                if time.perf_counter() - t_loop >= args.seconds:
                    break
            wl.close()
        finally:
            _stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if not samples or (tracer and not traced):
        print("perfbench: no iteration completed", file=sys.stderr)
        return 1
    run_s = statistics.median(samples)
    print(f"run_s samples n={len(samples)} median={run_s:.4f} max={max(samples):.4f} "
          f"all={[round(s, 4) for s in samples]}", flush=True)
    print(f"wrong_results={wl.wrong} failed={wl.failed} attempted={wl.attempted}", flush=True)

    if tracer:
        values = {k: statistics.median(t[k] for t in traced) for k in traced[0]}
        values.update({
            "trace.run_s": run_s,
            "trace.overhead_s": tracer.overhead_s / len(samples),
            "setup.session_s": session_s,
            "setup.generate_s": generate_s,
            "setup.warmup_s": warmup_s,
            "hygiene.persisted_rdds": wl.persisted_max,
            "checks.wrong_results": wl.wrong,
            "mem.peak_rss_mb": _peak_rss_mb(),
        })
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": session_s + generate_s + warmup_s,
            "run_s": run_s,
            "rows_per_s": wl.throughput(run_s),
            "stored_bytes_per_raw_byte": wl.e2e["stored_bytes_per_raw_byte"],
        }
        wanted = spec["end_to_end"]
    # layers this workload does not run (engine.* on suite_mix, suite.*
    # on etl_cold) read 0; a missing metric of a layer it runs is a bug
    missing = [m["name"] for m in wanted
               if m["name"] not in values and m["name"].startswith(wl.LAYERS)]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']:.6g} {m['unit']}")
    if tracer:
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), metrics)
    result = {
        "correct": wl.wrong == 0 and wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }
    with open(os.path.join(out_dir, "results.jsonl"), "a") as f:
        f.write(json.dumps({"context": context, "samples": samples,
                            "wrong_results": wl.wrong, **result}) + "\n")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
