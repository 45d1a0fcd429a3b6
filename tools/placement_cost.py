"""Time the two placements of a batch's row rules, and the driver memory
the driver placement takes, on synthetic Replacing batches of growing
size: the measurement ``cdc_apply.DRIVER_EVENTS_MAX`` rests on.

    python3 tools/placement_cost.py [--sizes 10000,100000,300000]
        [--width 16] [--reps 3] [--cores 4]

For each size N, a batch of N insert/delete events over N/2 pks with a
bigint pk, a bigint version, a decimal(12,2), a timestamp and a string
of ``--width`` characters (the shape of the replication benchmark's
tables at the default width) runs ``cdc_apply.compacted`` as
``_apply_merging`` uses it: the net rows are written (to Spark's
``noop`` sink) and the key table is read. The driver placement runs
with the cap above N, the grouped placement (``applyInArrow`` over
pk-hash groups of about ``DRIVER_EVENTS_MAX`` events) with the cap
below it. Prints one JSON line per size and placement: the median wall
seconds over ``--reps`` runs and the peak resident memory of the
driver's Python process and of its JVM after it (high-water marks, so
sizes run in ascending order, the grouped placement first); the driver
line also gives the Arrow size of the batch the driver collects.
Stdlib + pyspark; writes nothing outside Spark's own scratch space.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jvm_peak_mb(spark) -> float | None:
    """VmHWM of the driver JVM, read from its /proc status."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return None
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        return None
    return None


def _batch(spark, n: int, width: int):
    from pyspark.sql import functions as F

    i = F.col("id")
    return spark.range(n).select(
        F.when(i % 5 == 0, "delete").otherwise("insert").alias("action"),
        (i % max(1, n // 2)).alias("k"),
        (i % 7).alias("version"),
        (i / 100).cast("decimal(12,2)").alias("amount"),
        F.timestamp_micros(i * 1000 + 1_700_000_000_000_000).alias("ts"),
        F.substring(F.repeat(F.sha2(i.cast("string"), 256),
                             -(-width // 64)), 1, width).alias("note"),
        (i / 3).cast("long").alias("event_unixtime"),
        (i % 2 + 1).cast("int").alias("action_seq"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sizes", default="10000,100000,300000")
    ap.add_argument("--width", type=int, default=16)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args(argv)
    sys.path.insert(0, REPO)
    from pyspark.sql import SparkSession

    from synch_spark.operators import cdc_apply

    spark = (SparkSession.builder.master(f"local[{args.cores}]")
             .appName("placement_cost")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.shuffle.partitions", str(args.cores))
             .config("spark.ui.enabled", "false").getOrCreate())
    cols = ["k", "version", "amount", "ts", "note"]
    cap = cdc_apply.DRIVER_EVENTS_MAX
    for n in sorted(int(s) for s in args.sizes.split(",")):
        events = _batch(spark, n, args.width)
        for place, limit in (("grouped", min(cap, n - 1)), ("driver", n)):
            cdc_apply.DRIVER_EVENTS_MAX = limit
            walls = []
            for _ in range(args.reps):
                t0 = time.perf_counter()
                with cdc_apply.compacted(events, ("k",), "version", cols,
                                         n) as (net, keys):
                    net.write.format("noop").mode("overwrite").save()
                    len(keys)
                walls.append(time.perf_counter() - t0)
            row = {"events": n, "width": args.width, "placement": place,
                   "wall_s": round(statistics.median(walls), 3),
                   "py_peak_mb": round(resource.getrusage(
                       resource.RUSAGE_SELF).ru_maxrss / 1024),
                   "jvm_peak_mb": _jvm_peak_mb(spark)}
            if place == "driver":
                # what the driver placement collects, measured after the
                # peaks were read
                row["batch_arrow_mb"] = round(events.select(
                    "action", *cols, "event_unixtime", "action_seq")
                    .toArrow().nbytes / 2**20, 2)
            print(json.dumps(row), flush=True)
        cdc_apply.DRIVER_EVENTS_MAX = cap
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
