"""Benchmark driver: one workload, one seed, one run.

    python3 perfbench/run.py --workload construct_incremental --seed 1 --seconds 12 --trace 0

Run from the repository root. The run starts its own Spark session on
``local[<cores>]``, generates the workload's inputs from ``--seed``,
runs whole work units until ``--seconds`` have passed (at least the
workload's minimum), checks the outputs, and prints every metric with
its unit; the last line of stdout is one JSON object. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json; ``--trace 1``
wraps each layer's calls, enables Spark's event log and reports the
per-layer metrics instead. All scratch files live under
``.perfbench_work/`` in the working directory and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _start_spark(work: str, trace: bool):
    from motive_rdf_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    # keep every file Spark, the JVM and Python workers write inside the
    # working directory
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{events}",
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=str(2 * cores),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit: closing the
    gateway's stdin is PySpark's own shutdown signal to it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, work: str) -> dict:
    import workloads
    from eventlog import Timeline, attribute, find_log, read_events
    from spans import Tracer, patched

    t0 = time.perf_counter()
    spark, cores = _start_spark(work, args.trace)
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    wl = workloads.WORKLOADS[args.workload](spark, args.seed, work)
    phases = {"session": session_s}
    try:
        if args.trace:
            sc.setJobGroup("setup", "setup")
        t = time.perf_counter()
        setup_s = session_s + wl.setup()
        phases["setup"] = time.perf_counter() - t

        tracer = None
        if args.trace:
            tracer = Tracer(sc)
        deadline = time.perf_counter() + args.seconds
        with patched(wl.trace_patches(tracer) if tracer else []):
            while wl.units_left() > 0 and (
                wl.units < wl.min_units or time.perf_counter() < deadline
            ):
                if tracer is None:
                    wl.unit()
                else:
                    with tracer.scope(wl.base_layer):
                        wl.unit(tracer)
        if tracer is not None:
            tracer.flush()
            sc.setJobGroup("check", "check")
        driver_kb, jvm_kb = _vm_hwm_kb(os.getpid()), _vm_hwm_kb(_jvm_pid())
        phases["measure"] = time.perf_counter() - deadline + args.seconds

        t = time.perf_counter()
        errors = wl.check()
        phases["check"] = time.perf_counter() - t
        e2e = wl.e2e()
        e2e["setup_s"] = setup_s
        memory = {
            "memory.peak_rss_mb": (driver_kb + jvm_kb) / 1024.0,
            "memory.driver_rss_mb": driver_kb / 1024.0,
        }
        named = wl.issue_names(e2e)
        named.update({k: (v, "MB") for k, v in memory.items()})
    finally:
        t = time.perf_counter()
        wl.close()
        _stop_spark(spark)
        phases["stop"] = time.perf_counter() - t

    units = wl.units
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "units": units,
        "errors": errors,
        "e2e": e2e,
        "named": named,
        "phases": phases,
    }
    if tracer is not None:
        costs = attribute(
            read_events(find_log(os.path.join(work, "events"))), Timeline(tracer.switches)
        )
        result["layers"] = wl.layers(tracer, costs) | memory
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
            spec = json.load(f)
    except OSError as e:
        print(f"perfbench: no BENCHMARK.json in {root}: {e}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    try:
        import motive_rdf_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: motive_rdf_spark is not importable from {root}: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    for msg in res["errors"]:
        print(f"CHECK FAILED: {msg}")
    print(f"workload={res['workload']} seed={res['seed']} cores={res['cores']} units={res['units']}")
    print("phase seconds: " + " ".join(f"{k}={v:.2f}" for k, v in res["phases"].items()))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res["layers"] if args.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        # a layer that does not run on this workload reports 0
        v = float(values.get(m["name"], 0.0) if args.trace else values[m["name"]])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']:<40} {v:>16.6g} {m['unit']}")
    if not args.trace:
        ops = res["units"]
        res["named"]["failed_frac"] = (len(res["errors"]) / ops, "1")
        for name, (v, unit) in res["named"].items():
            print(f"{name:<40} {v:>16.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": not res["errors"],
                "attempted": res["units"],
                "failed": min(len(res["errors"]), res["units"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
