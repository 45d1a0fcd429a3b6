"""Replication benchmark entry point.

    python3 perfbench/run.py --workload catchup_final_read|steady \
        --seed N --seconds S --trace 0|1 [--cpus N] [--offered EVENTS_PER_S]

Run from the repository root. Builds every input from ``--seed``,
runs the workload on Spark ``local[cpus]`` (default: the CPUs this
process may use), checks every result against the generator's oracle,
and prints two JSON lines: a summary with every figure and its sample
count, then the result object ``{"correct", "attempted", "failed",
"metrics"}`` — end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``; a traced run also writes its spans to stderr as
one JSON line. All tables, spools and checkpoints live in one scratch
directory under ``.perfbench_tmp/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback


def _units(repo: str) -> tuple[dict, dict]:
    """{name: unit} of the end-to-end and the per-layer metrics, as
    BENCHMARK.json at the repository root declares them."""
    with open(os.path.join(repo, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("catchup_final_read", "steady"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--offered", type=int, default=None,
                    help="steady only: offered events/s instead of the fixed "
                         "rate (for finding the sustained rate; see README.md)")
    return ap.parse_args(argv)


def _pin_environment(repo: str, scratch: str) -> None:
    """Everything the run writes goes under ``scratch``; Python workers
    find the package; the driver heap fits a small host."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(scratch)  # stray relative writes (warehouse dirs) land here


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — escalate, then reap
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    a = _args(argv)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(os.path.join(repo, "synch_spark")):
        print("perfbench: synch_spark package not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, repo)
    e2e_units, layer_units = _units(repo)
    base = os.path.join(repo, ".perfbench_tmp")
    scratch = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(scratch)
    cwd = os.getcwd()
    bench = None
    try:
        _pin_environment(repo, scratch)
        from perfbench import layers, tracing
        from perfbench.workloads import WORKLOADS, Bench

        tracer = None
        if a.trace:
            tracer = tracing.Tracer()
            layers.install(tracer)
        bench = Bench(a.seed, a.seconds, a.cpus, scratch, tracer=tracer,
                      offered=a.offered)
        WORKLOADS[a.workload](bench)
        bench.mark("end")
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        rss = _vm_hwm_mb("self") + (_vm_hwm_mb(proc.pid) if proc else 0.0)
        bench.e2e["peak_rss_mb"] = (rss, 1)
        if tracer is not None:
            tracer.restore()
            metrics, samples = layers.metrics(
                tracer, bench.extra, bench.windows, tracing.per_span_cost_s(),
                layer_units)
            print(json.dumps({"spans": tracer.spans}), file=sys.stderr)
        else:
            metrics = {k: {"value": bench.e2e[k][0], "unit": u}
                       for k, u in e2e_units.items()}
            samples = {k: bench.e2e[k][1] for k in e2e_units}
    except Exception:  # noqa: BLE001 — report, exit non-zero, no result
        traceback.print_exc()
        return 1
    finally:
        t_stop = time.perf_counter()
        try:
            _stop(bench.spark if bench is not None else None)
        except Exception:  # noqa: BLE001 — Spark never started
            pass
        os.chdir(cwd)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    bench.extra["stop_s"] = time.perf_counter() - t_stop
    correct = bench.failed == 0
    summary = {"workload": a.workload, "seed": a.seed, "cpus": a.cpus,
               "trace": a.trace, "samples": samples, **bench.extra}
    print(json.dumps({"summary": summary}, default=str))
    print(json.dumps({"correct": bool(correct), "attempted": int(bench.attempted),
                      "failed": int(bench.failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
