"""Benchmark entry point: one named workload under one seed.

    python3 perfbench/run.py --workload routed_skewed --seed 1 --seconds 10 --trace 0

Run from the repository root.  It starts Spark on ``local[<cores>]``,
generates the workload's inputs from the seed, computes the expected output
with the oracles, runs the workload's passes for ``--seconds`` and checks
every pass.  ``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` its per-layer metrics (and writes the spans to
``perfbench/out``).  The last line of stdout is one JSON object.  The exit
code is 0 only when every pass matched the oracle.
"""

from __future__ import annotations

import argparse
import importlib.util
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "fluent_plugin_detect_exceptions_spark"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session_settings(cpus: int, workdir: str) -> dict:
    """Spark settings sized to the host: all cores, driver memory well
    under physical RAM."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    driver_mb = max(1024, min(3072, ram_mb // 10))
    return {
        "spark.master": f"local[{cpus}]",
        "spark.driver.memory": f"{driver_mb}m",
        "spark.sql.shuffle.partitions": str(2 * cpus),
        "spark.sql.adaptive.enabled": "true",
        # the inputs are small: let adaptive coalescing keep one shuffle
        # partition per core instead of merging them into 1 MB partitions
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "256k",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "262144",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        # C1-only JIT: short runs spend less CPU compiling and pass times do
        # not drift while C2 catches up; a heap fixed and touched at start
        # keeps the JVM's share of peak memory from varying with GC timing
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData"
            f" -XX:TieredStopAtLevel=1 -Xms{driver_mb}m -XX:+AlwaysPreTouch"),
    }


def start_session(settings: dict):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("perfbench")
    for k, v in settings.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm(batches):
    import numpy  # noqa: F401
    import pandas  # noqa: F401

    from fluent_plugin_detect_exceptions_spark.functions import classify  # noqa: F401

    yield from batches


def warm_workers(spark, cpus: int) -> None:
    """Start every Python worker and import the package in it."""
    spark.range(0, cpus, 1, cpus).mapInPandas(_warm, schema="id long").count()


def stop_everything(spark) -> None:
    """Stop Spark, then the JVM, and wait for every child process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    _reap_children()


def _reap_children() -> None:
    from ledger import _tree

    me = os.getpid()
    for pid, _ in _tree(me):
        if pid != me:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                time.sleep(0.05)
        except ChildProcessError:
            return


def metric_names() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main(argv) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    end_to_end, per_layer = metric_names()

    cpus = len(os.sched_getaffinity(0))
    workdir = os.path.join(HERE, "out", f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    # Spark, its Python workers and this process keep their files in the run
    # directory; the workers import the package from the checkout
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    settings = session_settings(cpus, workdir)

    spark = None
    try:
        from ledger import Ledger, RssSampler

        wl = workloads.WORKLOADS[args.workload](workdir, args.seed, cpus)
        attempted = failed = 0
        errors: list[str] = []

        def checked(out, full) -> None:
            nonlocal failed
            errs = wl.check(out, full)
            if errs:
                failed += 1
                errors.extend(errs)

        # --- cold starts: each starts a new JVM, sets up and (untraced) runs
        # the first pass; setup_s and first_job_s are their medians ----------
        setup_times, first_times, peaks = [], [], []
        for rep in range(1 if args.trace else wl.cold_starts):
            if spark is not None:
                stop_everything(spark)
            t0 = time.perf_counter()
            spark = wl.spark = start_session(settings)
            wl.inputs = wl.generate(os.path.join(workdir, f"input-{rep}"))
            warm_workers(spark, cpus)
            setup_times.append(time.perf_counter() - t0)
            if rep == 0:
                print(f"session: {json.dumps(settings, sort_keys=True)}")
                print(f"input: {json.dumps(wl.inputs.props, sort_keys=True)}")
                t0 = time.perf_counter()
                wl.compute_expected()
                print(f"oracle: {time.perf_counter() - t0:.2f} s")
            if args.trace:
                break
            with RssSampler() as rss:
                t0 = time.perf_counter()
                out = wl.run_pass()
                first_times.append(time.perf_counter() - t0)
            peaks.append(rss.peak_mb)
            attempted += 1
            checked(out, rep == 0)

        with RssSampler() as rss:
            if args.trace:
                ledger = Ledger(spark)
                with ledger.span("first_pass") as first:
                    out = wl.run_pass()
                attempted = 1
                checked(out, True)

                def restart(cores):
                    nonlocal spark
                    for sp in ledger.spans:  # read them before their store goes
                        ledger.spark_metrics(sp)
                    spark.stop()
                    spark = start_session({**settings, "spark.master": f"local[{cores}]"})
                    warm_workers(spark, cores)
                    return spark

                wl.restart = restart
                layers = wl.trace(ledger, rss, args.seconds, first)
                metrics = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                           for name, unit in per_layer.items()}
                write_spans(ledger, args, settings, wl.inputs.props, layers)
            else:
                for _ in range(wl.warmup_passes):
                    attempted += 1
                    checked(wl.run_pass(), False)
                warm = []
                deadline = time.perf_counter() + args.seconds
                for n in itertools.count(1):
                    attempted += 1
                    t0 = time.perf_counter()
                    try:
                        out = wl.run_pass()
                    except Exception:  # a failing pass counts, the run goes on
                        failed += 1
                        errors.append(traceback.format_exc(limit=2).strip().splitlines()[-1])
                        out = None
                    else:
                        warm.append(time.perf_counter() - t0)
                    last = n >= wl.min_warm_passes and time.perf_counter() >= deadline
                    if out is not None:
                        checked(out, last)
                    if last:
                        break
                if not warm:
                    raise RuntimeError("every warm pass failed: " + "; ".join(errors[:3]))
                values = {
                    "setup_s": statistics.median(setup_times),
                    "first_job_s": statistics.median(first_times),
                    "rows_per_s": wl.rows / statistics.median(warm),
                    "peak_rss_mb": max(peaks + [rss.peak_mb]),
                }
                metrics = {name: {"value": values[name], "unit": unit}
                           for name, unit in end_to_end.items()}
                print(f"passes: first {[round(f, 3) for f in first_times]} s, "
                      f"warm {[round(w, 3) for w in warm]} s, "
                      f"setup {[round(s, 3) for s in setup_times]} s, "
                      f"peak {[round(p) for p in peaks + [rss.peak_mb]]} MB")
        for e in errors:
            print(f"MISMATCH: {e}")
        print("metrics: " + ", ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items())
              + f", failed_frac={failed / attempted:.6g} ratio")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if failed == 0 else 1
    finally:
        stop_everything(spark)
        shutil.rmtree(workdir, ignore_errors=True)


def write_spans(ledger, args, settings, props, layers) -> None:
    """Write the run's spans, with each span's Spark metrics, at the end."""
    spans = []
    for s in ledger.spans:
        m = ledger.spark_metrics(s)
        spans.append({
            "name": s.name, "parent": s.parent, "group": s.group,
            "start": s.start, "end": s.end,
            "spark": {k: v for k, v in m.items() if k not in ("nodes", "plans")},
            "nodes": [[name, ms] for name, ms in m["nodes"] if ms],
            "plans": m["plans"],
        })
    path = os.path.join(HERE, "out", f"spans-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "session": settings,
                   "input": props, "layers": layers, "spans": spans}, f, indent=1)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main(sys.argv[1:]))
