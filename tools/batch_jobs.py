"""Count the Spark jobs of every micro-batch of a replication benchmark
run, and time them, by the ``synch_spark`` call site that launched them.

    python3 tools/batch_jobs.py --workload catchup_final_read --seed 1 \
        [--seconds 10] [--tree DIR] [--out jobs.json]

Runs ``perfbench/run.py``'s ``main`` in this process (the arguments
other than ``--tree`` and ``--out`` go to it unchanged) with pyspark's
classic ``DataFrame`` actions (``collect``, ``count``, ``take``,
``toArrow``, ...) and ``DataFrameWriter`` saves wrapped: each outermost
action runs under a job group of its own, and the jobs it launched are
read back from ``statusTracker().getJobIdsForGroup`` when it returns;
the thread's previous job group (a streaming query's own) is restored.
Each action's wall time is taken around the same call. An action is
charged to the micro-batch whose
``CdcPipeline._apply_batch`` frame is on the stack (its ``epoch_id``)
and to the innermost ``synch_spark`` frame on the stack, e.g.
``streaming/pipeline.py:195 _apply_batch``. Actions outside a
micro-batch (snapshot, checks, reads) are not counted, nor are jobs
that no wrapped action launches (a streaming source's own listing).

``--tree`` runs the benchmark and the package of another checkout
(say a ``git archive`` of the parent commit), so one copy of this tool
counts both sides. Prints, per micro-batch, its jobs and the wall
milliseconds of its actions, and each site's jobs and milliseconds in
the order the sites first ran, then the jobs per batch over the run;
``--out`` also writes every counted action as JSON. Stdlib + pyspark;
it patches classes in memory only and changes no file.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import statistics
import sys
import threading
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_ACTIONS = ("collect", "count", "take", "tail", "head", "first", "isEmpty",
            "toArrow", "toPandas", "toLocalIterator", "foreach",
            "foreachPartition", "show", "checkpoint", "localCheckpoint")
_WRITES = ("parquet", "save", "json", "csv", "orc", "text", "jdbc",
           "insertInto", "saveAsTable")
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


class Counter:
    """Wraps the actions; ``records`` holds one
    ``{"batch", "site", "action", "jobs", "ms"}`` per counted action."""

    def __init__(self, package_dir: str):
        self.package = os.path.join(os.path.realpath(package_dir), "")
        self.records: list[dict] = []
        self._local = threading.local()

    def _where(self):
        """(epoch_id of the enclosing micro-batch, innermost package
        frame as ``path:line function``), or None outside a batch."""
        batch, site = None, None
        f = sys._getframe(2)
        while f is not None:
            path = os.path.realpath(f.f_code.co_filename)
            if path.startswith(self.package):
                rel = os.path.relpath(path, self.package)
                if site is None:
                    site = f"{rel}:{f.f_lineno} {f.f_code.co_name}"
                if (f.f_code.co_name == "_apply_batch"
                        and rel == os.path.join("streaming", "pipeline.py")):
                    batch = f.f_locals.get("epoch_id")
                    break
            f = f.f_back
        return None if batch is None else (str(batch), site)

    def wrap(self, cls, name: str) -> None:
        fn = getattr(cls, name, None)
        if fn is None:
            return
        counter = self

        @functools.wraps(fn)
        def counted(obj, *args, **kwargs):
            local = counter._local
            if getattr(local, "depth", 0):
                return fn(obj, *args, **kwargs)  # an action inside an action
            where = counter._where()
            if where is None:
                return fn(obj, *args, **kwargs)
            from pyspark import SparkContext

            sc = SparkContext._active_spark_context
            saved = [sc.getLocalProperty(k) for k in _GROUP_PROPS]
            group = f"batch-jobs-{uuid.uuid4().hex}"
            sc.setJobGroup(group, f"batch {where[0]}: {where[1]}")
            local.depth = 1
            t0 = time.perf_counter()
            try:
                return fn(obj, *args, **kwargs)
            finally:
                ms = (time.perf_counter() - t0) * 1e3
                local.depth = 0
                for k, v in zip(_GROUP_PROPS, saved):
                    sc.setLocalProperty(k, v)
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                counter.records.append({"batch": where[0], "site": where[1],
                                        "action": name, "jobs": jobs,
                                        "ms": round(ms, 1)})

        setattr(cls, name, counted)


def report(records: list[dict]) -> None:
    batches: dict[str, dict[str, list]] = {}
    for r in records:
        site = batches.setdefault(r["batch"], {}).setdefault(r["site"], [0, 0.0])
        site[0] += r["jobs"]
        site[1] += r["ms"]
    totals = []
    for batch, sites in batches.items():
        total = sum(jobs for jobs, _ in sites.values())
        totals.append(total)
        ms = sum(ms for _, ms in sites.values())
        print(f"batch {batch}: {total} jobs, {ms:.0f} ms")
        for site, (jobs, ms) in sites.items():
            print(f"  {jobs:4d} {ms:7.0f} ms  {site}")
    if totals:
        print(f"jobs per batch: {totals} (median "
              f"{statistics.median(totals):g})")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tree", default=REPO,
                    help="checkout whose perfbench and synch_spark run")
    ap.add_argument("--out", default=None,
                    help="write every counted action to this JSON file")
    a, bench_argv = ap.parse_known_args(argv)
    tree = os.path.abspath(a.tree)
    out = os.path.abspath(a.out) if a.out else None
    sys.path.insert(0, tree)
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from perfbench import run

    counter = Counter(os.path.join(tree, "synch_spark"))
    for name in _ACTIONS:
        counter.wrap(DataFrame, name)
    for name in _WRITES:
        counter.wrap(DataFrameWriter, name)
    rc = run.main(bench_argv)
    report(counter.records)
    if out:
        with open(out, "w") as f:
            json.dump(counter.records, f, indent=1)
    return rc


if __name__ == "__main__":
    sys.exit(main())
