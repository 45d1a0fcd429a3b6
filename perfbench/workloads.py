"""The replication workloads and their shared set-up.

Each workload fills ``Bench.e2e`` (BENCHMARK.json's end-to-end metrics
with their sample counts), ``Bench.extra`` (every other figure, named
after what it measures, printed in the summary line) and the attempted
/ failed counters. The traced run additionally patches the layer
boundaries listed in ``layers.install``.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

from perfbench import gen
from perfbench.lag import file_batches, file_lags, percentile, supported

# -- sizes (see README.md for why) -------------------------------------------
N_ORDERS = 30_000          # orders snapshot rows (ReplacingMergeTree)
N_EVENTS = 15_000          # order_events snapshot rows (CollapsingMergeTree)
SETUP_REPS = 3             # bootstraps per run; setup_s is their median
WARMUP_EVENTS = 1_000      # one untimed micro-batch before the timed phases
SEGMENT_EVENTS = 10_000    # catch-up: one binlog file = one micro-batch
MIN_SEGMENTS = 2           # timed catch-up files per run, however slow
MAX_SEGMENTS = 4           # archive length: more than a window replays
ALTER_AT = WARMUP_EVENTS // 2  # the ADD COLUMN sits in the warm-up file
READ_RETAIN = 16           # versions kept for the change feed
N_QUERIES = 10             # the read mix: one block of every kind
STEADY_FILES_PER_S = 10    # tail: spool files released per second
STEADY_EVENTS_PER_S = 6_400  # offered rate: half the sustained rate (README.md)
STEADY_LEAD_S = 3          # tail released before the measured window
STEADY_TRIGGER = "1 second"


class Bench:
    def __init__(self, seed: int, seconds: float, cpus: int, scratch: str,
                 tracer=None, offered: int | None = None):
        self.seed = seed
        self.offered = offered or STEADY_EVENTS_PER_S
        self.seconds = seconds
        self.cpus = cpus
        self.scratch = scratch
        self.tracer = tracer
        self.e2e: dict[str, tuple[float, int]] = {}  # name -> (value, samples)
        self.extra: dict = {}
        self.attempted = 0
        self.failed = 0
        self.batches: dict[int, tuple[float, float]] = {}
        self.written: dict[int, int] = {}  # batch id -> bytes it wrote
        self.windows: list[tuple[float, float]] = []  # timed phases, perf_counter
        self.spark = None
        self._frames = 0
        self._mark = None

    # -- helpers ---------------------------------------------------------
    def span(self, name: str, **attrs):
        if self.tracer is None:
            import contextlib

            return contextlib.nullcontext({})
        return self.tracer.span(name, **attrs)

    def mark(self, phase: str) -> None:
        """Close the previous phase: wall seconds per run phase."""
        now = time.perf_counter()
        phases = self.extra.setdefault("phases_s", {})
        if self._mark is not None:
            phases[self._mark[0]] = now - self._mark[1]
        self._mark = (phase, now)

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    def start_spark(self):
        from synch_spark.session import get_spark

        with self.span("session.start"):
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench", cpus=self.cpus)
            self.extra["session_start_s"] = time.perf_counter() - t0
        return self.spark

    # -- tables ----------------------------------------------------------
    def specs(self, g: gen.Generator, retain: int = 2) -> dict:
        from synch_spark.config import Engine, TableSpec

        out = {}
        for t in g.tables():
            engine = (Engine.REPLACING_MERGE_TREE if t.engine == "replacing"
                      else Engine.COLLAPSING_MERGE_TREE)
            out[t.name] = TableSpec(schema=gen.SCHEMA, table=t.name,
                                    pk=(t.pk,), engine=engine, retain=retain)
        return out

    def frame(self, t: gen.TableState):
        """Oracle rows -> parquet (pyarrow) -> Spark frame."""
        import pyarrow.parquet as pq

        self._frames += 1
        p = self.path("frames", f"{t.name}-{self._frames}.parquet")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pq.write_table(gen.arrow_table(t), p)
        return self.spark.read.schema(gen.spark_schema_ddl(t)).parquet(p)

    def setup_tables(self, g0: gen.Generator, specs: dict) -> str:
        """SETUP_REPS bootstraps (``etl_full`` of both snapshots into a
        fresh warehouse); ``setup_s`` is their median. Returns the
        warehouse of the last one, which the workload then uses."""
        from synch_spark import pipeline
        from synch_spark.sources.table import ParquetTable

        sources = {t.name: self.frame(t) for t in g0.tables()}
        times, wh = [], None
        for rep in range(SETUP_REPS):
            if wh is not None:
                shutil.rmtree(wh, ignore_errors=True)
            wh = self.path(f"wh{rep}")
            t0 = time.perf_counter()
            for t in g0.tables():
                spec = specs[t.name]
                table = ParquetTable(self.spark, f"{wh}/{spec.schema}/{spec.table}",
                                     retain=spec.retain)
                pipeline.etl_full(sources[t.name], table, spec)
            times.append(time.perf_counter() - t0)
        rows = sum(len(t.rows) for t in g0.tables())
        self.extra["setup_reps_s"] = times
        self.extra["etl_rows_per_s"] = rows / statistics.median(times)
        self.e2e["setup_s"] = (statistics.median(times), len(times))
        return wh

    def pipeline(self, g: gen.Generator, specs: dict, warehouse: str,
                 checkpoint: str):
        from synch_spark.config import SyncConfig
        from synch_spark.streaming.pipeline import CdcPipeline

        cfg = SyncConfig()
        for s in specs.values():
            cfg.add_table(s)
        vs = {t.qualified: _struct(t) for t in g.tables()}
        pipe = CdcPipeline(spark=self.spark, cfg=cfg, warehouse=warehouse,
                           checkpoint_dir=checkpoint, value_schemas=vs)
        inner = pipe.apply_batch

        def apply_batch(batch, epoch_id, *args, **kwargs):
            # always on: per-batch wall-clock window (lag accounting) and
            # the bytes the batch wrote under the warehouse
            before = _files(warehouse)
            t0 = time.time()
            with self.span("streaming.apply_batch", batch=epoch_id):
                inner(batch, epoch_id, *args, **kwargs)
            t1 = time.time()
            after = _files(warehouse)
            self.written[int(epoch_id)] = sum(
                st[0] for f, st in after.items() if before.get(f) != st)
            self.batches[int(epoch_id)] = (t0, t1)

        pipe.apply_batch = apply_batch
        return pipe

    def replay_segment(self, pipe, binlog_path: str, events_dir: str,
                       name: str) -> float:
        """binlog file -> raw events -> spool -> one availableNow drain.
        Returns the wall seconds spent outside ``apply_batch``."""
        from synch_spark.broker import write_event_spool
        from synch_spark.sources.binlog_file import binlog_files_to_raw

        raw = binlog_files_to_raw(self.spark, binlog_path)
        if self.tracer is not None:
            # traced runs only: a forced pass isolates decode cost (the
            # graded runs decode once, inside the spool write)
            with self.span("binlog_file.decode"):
                raw.count()
        with self.span("broker.spool_write"):
            write_event_spool(raw, events_dir, name)
        before = dict(self.batches)
        t0 = time.time()
        q = pipe.start_file_stream(events_dir, available_now=True)
        q.awaitTermination()
        wall = time.time() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        applied = sum(e - s for b, (s, e) in self.batches.items()
                      if b not in before)
        return wall - applied

    def verify_tables(self, g: gen.Generator, specs: dict, warehouse: str) -> None:
        """``pipeline.check(..., checksum=True)`` of every table against
        the oracle; a mismatch adds the symmetric-difference row count to
        ``failed``."""
        from synch_spark import pipeline
        from synch_spark.operators.cdc_apply import read_current_state
        from synch_spark.sources.table import ParquetTable

        def one(t: gen.TableState) -> int:
            spec = specs[t.name]
            table = ParquetTable(self.spark, f"{warehouse}/{spec.schema}/{spec.table}",
                                 retain=spec.retain)
            src = self.frame(t)
            res = pipeline.check(src, table, checksum=True, spec=spec)
            self.extra[f"check_{t.name}"] = res.ok
            if res.ok:
                return 0
            cur = read_current_state(table, spec)
            if set(cur.columns) != set(src.columns):
                return max(1, res.source_count, res.target_count)
            cur = cur.select(*src.columns)
            return max(1, src.exceptAll(cur).count() + cur.exceptAll(src).count())

        # the two tables' checks are independent Spark jobs: run together
        with ThreadPoolExecutor(max_workers=2) as pool:
            self.failed += sum(pool.map(one, g.tables()))

    def finish_layout(self, specs: dict, warehouse: str) -> None:
        from synch_spark.sources.table import ParquetTable

        spec = specs["orders"]
        st = ParquetTable(self.spark, f"{warehouse}/{spec.schema}/{spec.table}",
                          retain=spec.retain).file_stats()
        self.extra["orders_files_end"] = st.get("files", 0)
        self.extra["orders_median_file_kb"] = st.get("median_bytes", 0) / 1024


def _files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime) of every file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                st = os.stat(p)
            except OSError:
                continue  # removed meanwhile
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def write_mb(b: Bench, batch_ids) -> tuple[float, int]:
    """Median MB written under the warehouse per micro-batch, and the
    number of batches."""
    xs = [b.written[i] / 1e6 for i in batch_ids]
    return statistics.median(xs), len(xs)


def _struct(t: gen.TableState):
    from pyspark.sql import types as T

    m = {"bigint": T.LongType(), "int": T.IntegerType(),
         "string": T.StringType(), "timestamp": T.TimestampType(),
         "decimal(12,2)": T.DecimalType(12, 2)}
    return T.StructType([T.StructField(n, m[s], True) for n, s, _, _ in t.columns])


class _State:
    """The oracle of both tables as it stood after one archive file."""

    def __init__(self, g: gen.Generator):
        self.orders, self.events = g.orders.copy(), g.events.copy()

    def tables(self) -> list[gen.TableState]:
        return [self.orders, self.events]


def _archive(g: gen.Generator, out_dir: str, sizes: list[int],
             alter_at: int | None = None) -> tuple[list[str], list[_State]]:
    """Binlog archive of one file per entry of ``sizes``; returns the
    files and the oracle state after each file."""
    arch = gen.BinlogArchive(out_dir)
    states, n = [], 0
    for size in sizes:
        for _ in range(size):
            if alter_at is not None and n == alter_at:
                arch.query(gen.ALTER_SQL, g.alter())
            arch.row_event(*g.change())
            n += 1
        arch.flush()
        states.append(_State(g))
    return arch.files, states


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants: the JVM, its Python workers and reaped children."""
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            tasks = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue  # exited meanwhile
        ticks += sum(int(x) for x in f[11:15])
        for tid in tasks:  # a child is listed under the thread that forked it
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
            except OSError:
                continue
    return ticks / os.sysconf("SC_CLK_TCK")


def _p(values, q):
    return percentile(values, q) if values else float("nan")


# -- catchup_final_read ----------------------------------------------------
def catchup_final_read(b: Bench) -> None:
    """Snapshot (``etl_full``), then catch up on a rotated binlog archive,
    one file at a time (decode -> spool -> availableNow drain, one
    micro-batch per file), for ``seconds``; check both tables; then one
    block of reads on the layout the catch-up left: point lookups, FINAL
    aggregates and change feeds, each checked against the oracle.
    Graded: the bytes each timed file's micro-batch wrote. Summary: the
    median over the timed files of events/s and of wall time, and the
    read latencies; the host's speed drifts too far for a graded time
    (README.md)."""
    def make_inputs():
        g = gen.Generator(b.seed, N_ORDERS, N_EVENTS)
        snapshot = gen.Generator(b.seed, N_ORDERS, N_EVENTS)
        files, states = _archive(g, b.path("binlog"),
                                 [WARMUP_EVENTS] + [SEGMENT_EVENTS] * MAX_SEGMENTS,
                                 alter_at=ALTER_AT)
        return snapshot, files, states

    b.mark("session")
    with ThreadPoolExecutor(max_workers=1) as pool:
        inputs = pool.submit(make_inputs)  # Python work overlaps JVM start
        b.start_spark()
        g0, files, states = inputs.result()
    specs = b.specs(g0, retain=READ_RETAIN)
    b.mark("setup")
    wh = b.setup_tables(g0, specs)
    pipe = b.pipeline(g0, specs, wh, b.path("ckpt"))
    from synch_spark.sources.table import ParquetTable

    orders = ParquetTable(b.spark, f"{wh}/{gen.SCHEMA}/orders", retain=READ_RETAIN)
    events = ParquetTable(b.spark, f"{wh}/{gen.SCHEMA}/order_events",
                          retain=READ_RETAIN)
    versions = [orders.current_version()]
    snaps = [dict(g0.orders.rows)]
    events_dir = b.path("events")

    def replay(i: int) -> float:
        outside = b.replay_segment(pipe, files[i], events_dir, f"seg{i:05d}")
        versions.append(orders.current_version())
        snaps.append(dict(states[i].orders.rows))
        return outside

    b.mark("warmup")
    replay(0)  # untimed, and holds the ALTER TABLE ... ADD COLUMN
    b.batches.clear()

    b.mark("catchup")
    # the oracle holds millions of long-lived objects: keep them out of
    # the collector's passes while the clock runs
    gc.freeze()
    walls, outside, cpus = [], [], []
    t_start = time.perf_counter()
    for i in range(1, len(files)):
        # start another file only if it is due to end within the window
        if (len(walls) >= MIN_SEGMENTS and time.perf_counter() - t_start
                + statistics.median(walls) > b.seconds):
            break
        t0, c0 = time.perf_counter(), tree_cpu_s()
        outside.append(replay(i))
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_s() - c0)
    b.windows.append((t_start, time.perf_counter()))
    g = states[len(walls)]  # the oracle after the last file replayed
    # graded: the bytes each file's micro-batch wrote; the host's speed
    # drifts too far for a graded time (README.md)
    b.e2e["write_mb_per_batch"] = write_mb(b, b.batches)
    b.extra.update(cpu_ms_per_event=statistics.median(cpus) * 1000 / SEGMENT_EVENTS,
                   catchup_events_per_s=statistics.median(
                       SEGMENT_EVENTS / w for w in walls),
                   catchup_file_wall_ms=statistics.median(walls) * 1000,
                   catchup_files=len(walls), catchup_file_wall_s=walls,
                   catchup_file_cpu_s=cpus,
                   outside_batch_s=statistics.median(outside),
                   events_per_batch=SEGMENT_EVENTS)

    b.mark("check")
    b.verify_tables(g, specs, wh)
    b.finish_layout(specs, wh)

    b.mark("reads")
    mix = read_mix(b.seed, g, len(versions) - 1)
    lat: dict[str, list[float]] = {"point": [], "point_c": [], "agg": [],
                                   "agg_c": [], "feed": []}
    runner = ReadRunner(b, g, specs, orders, events, versions, snaps)
    t_start = time.perf_counter()
    for qry in mix:
        # timed: the Spark call and its collect; the comparison with the
        # oracle is not. A mismatch or an exception is a failed operation.
        t0 = time.perf_counter()
        try:
            rows = runner.execute(qry)
            lat[qry[0]].append(time.perf_counter() - t0)
            ok = runner.check(qry, rows)
        except Exception as e:  # noqa: BLE001 — a failed query is counted
            b.extra.setdefault("errors", []).append(repr(e)[:300])
            ok = False
        if not ok:
            b.failed += 1
    b.windows.append((t_start, time.perf_counter()))
    # one operation per event replayed plus one per query
    b.attempted = WARMUP_EVENTS + SEGMENT_EVENTS * len(walls) + len(mix)
    b.extra.update(
        queries=len(mix),
        point_read_p50_ms=_p(lat["point"], 0.5) * 1000,
        point_read_n=len(lat["point"]),
        point_read_collapsing_p50_ms=_p(lat["point_c"], 0.5) * 1000,
        point_read_collapsing_n=len(lat["point_c"]),
        final_agg_p50_s=_p(lat["agg"], 0.5), final_agg_n=len(lat["agg"]),
        final_agg_collapsing_p50_s=_p(lat["agg_c"], 0.5),
        final_agg_collapsing_n=len(lat["agg_c"]),
        change_feed_p50_s=_p(lat["feed"], 0.5), change_feed_n=len(lat["feed"]))


# -- steady ------------------------------------------------------------------
def steady(b: Bench) -> None:
    """Open loop: after the snapshot and one warm-up micro-batch, a
    separate feeder process releases pre-built spool files (broker
    payload JSON) at a fixed rate into a processingTime-triggered
    stream: ``STEADY_LEAD_S`` of lead-in, then the measured window of
    ``seconds``; then the tail is drained and both tables are verified
    with checksummed ``pipeline.check``. Graded: the bytes written per
    micro-batch started in the window. Summary: the lag of each file due
    in the window, and their events per second from the window's start
    to the last commit (at most the offered rate)."""
    n_lead = round(STEADY_LEAD_S * STEADY_FILES_PER_S)
    n_files = n_lead + max(1, round(b.seconds * STEADY_FILES_PER_S))
    per_file = max(1, round(b.offered / STEADY_FILES_PER_S))

    def make_inputs():
        g = gen.Generator(b.seed, N_ORDERS, N_EVENTS)
        snapshot = gen.Generator(b.seed, N_ORDERS, N_EVENTS)
        write_spool_files(g, b.path("warmup"), 1, WARMUP_EVENTS, "warmup")
        write_spool_files(g, b.path("staging"), n_files, per_file)
        return g, snapshot

    b.mark("session")
    with ThreadPoolExecutor(max_workers=1) as pool:
        inputs = pool.submit(make_inputs)  # Python work overlaps JVM start
        b.start_spark()
        g, g0 = inputs.result()
    specs = b.specs(g0)
    b.mark("setup")
    wh = b.setup_tables(g0, specs)
    pipe = b.pipeline(g0, specs, wh, b.path("ckpt"))
    b.mark("warmup")
    events_dir = b.path("events")
    os.makedirs(events_dir)
    q = pipe.start_file_stream(events_dir, processing_interval=STEADY_TRIGGER)
    try:
        # one untimed micro-batch through the same stream
        warm = os.listdir(b.path("warmup"))
        for f in warm:
            os.replace(os.path.join(b.path("warmup"), f),
                       os.path.join(events_dir, f))
        _wait(lambda: set(warm) <= _applied(b), 120, q)
        b.batches.clear()
        b.mark("tail")
        gc.freeze()  # as in catchup_final_read
        c0 = tree_cpu_s()
        rel, w_start, t_end = _steady_tail(b, q, events_dir, n_lead)
        cpu_s = tree_cpu_s() - c0
    finally:
        q.stop()
    fb = file_batches(b.path("ckpt"))
    # measured: the files due in the window and the batches started in
    # it (a window file's batch starts after its release, so it is one)
    win = {f: rel[f] for f in sorted(rel)[n_lead:]}
    wb = {k: v for k, v in b.batches.items() if v[0] >= w_start}
    acct = file_lags({f: v[0] for f, v in win.items()},
                     {f: v[1] for f, v in rel.items()}, fb, wb)
    lags, waits = acct["lags"], acct["waits"]
    # lag of the files due in the window's first vs second half: equal
    # while the system keeps up, growing when the offered rate exceeds
    # what it sustains
    mid = statistics.median(v[0] for v in win.values())
    halves = ([l for f, l in zip(acct["files"], lags) if win[f][0] < mid],
              [l for f, l in zip(acct["files"], lags) if win[f][0] >= mid])
    late = [v[1] - v[0] for v in rel.values()]
    b.failed += len(acct["unapplied"])
    applied = sum(e - s for s, e in wb.values())
    n_events = len(win) * per_file
    n_batched = sum(1 for bid in fb.values() if bid in wb) * per_file
    b.e2e["write_mb_per_batch"] = write_mb(b, wb)
    b.extra.update(
        cpu_ms_per_event=cpu_s * 1000 / (len(rel) * per_file),
        window_events_per_s=n_events / (t_end - w_start),
        lag_p50_s=_p(lags, 0.5), lag_p75_s=_p(lags, 0.75),
        lag_p90_s=_p(lags, 0.9), lag_n=len(lags),
        lag_p90_supported=supported(len(lags), 0.9),
        lag_first_half_p50_s=_p(halves[0], 0.5),
        lag_second_half_p50_s=_p(halves[1], 0.5),
        trigger_wait_p50_s=_p(waits, 0.5), backlog_files_max=acct["backlog_max"],
        backlog_files=acct["backlog"],
        apply_batch_s=[e - s for _, (s, e) in sorted(b.batches.items())],
        generator_late_max_ms=max(late) * 1000 if late else 0.0,
        offered_events_per_s=per_file * STEADY_FILES_PER_S,
        steady_batches=len(wb),
        outside_batch_s=(t_end - w_start - applied) / max(1, len(wb)),
        events_per_batch=n_batched / max(1, len(wb)))
    b.attempted = len(rel)  # one operation per released file
    b.mark("check")
    b.verify_tables(g, specs, wh)
    b.finish_layout(specs, wh)


def _steady_tail(b: Bench, q, events_dir: str, n_lead: int):
    """Run the feeder process against the running stream ``q`` and drain
    it. The first ``n_lead`` files bring the stream to its steady state;
    the measured window starts when the next one is due. Returns the
    feeder's {file: [scheduled, actual]} report and the window's
    wall-clock start and end (every released file applied)."""
    staging = b.path("staging")
    report = b.path("feeder.json")
    interval = 1.0 / STEADY_FILES_PER_S
    n_files = len(os.listdir(staging))
    start = time.time() + 1.0
    w_start = start + n_lead * interval
    p_start = time.perf_counter() + (w_start - time.time())
    feeder = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "feeder.py"),
         "--staging", staging, "--dest", events_dir,
         "--start", repr(start), "--interval", repr(interval),
         "--report", report])
    try:
        feeder.wait(timeout=n_files * interval + 60)
    finally:
        if feeder.poll() is None:
            feeder.kill()
            feeder.wait()
    if feeder.returncode != 0:
        raise RuntimeError(f"feeder exited {feeder.returncode}")
    with open(report) as fh:
        rel = json.load(fh)
    # drain the tail: every released file applied
    _wait(lambda: set(rel) <= _applied(b), 120, q)
    t_end = time.time()
    b.windows.append((p_start, time.perf_counter()))
    return rel, w_start, t_end


def write_spool_files(g: gen.Generator, out_dir: str, n_files: int,
                      per_file: int, prefix: str = "spool") -> list[str]:
    """Pre-built newline-JSON spool files, named in release order. The
    file source remembers consumed files by path, so names never repeat
    within one spool directory."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(n_files):
        lines = [gen.spool_line(*g.change()) for _ in range(per_file)]
        p = os.path.join(out_dir, f"{prefix}-{i:06d}.json")
        with open(p, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        paths.append(p)
    return paths


def _applied(b: Bench) -> set[str]:
    """Spool files whose micro-batch's ``apply_batch`` has returned."""
    return {f for f, bid in file_batches(b.path("ckpt")).items()
            if bid in b.batches}


def _wait(cond, timeout_s: float, q) -> None:
    t_end = time.time() + timeout_s
    while not cond():
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        if time.time() > t_end:
            raise TimeoutError("stream did not apply the released files")
        time.sleep(0.05)


def read_mix(seed: int, g: gen.Generator, max_back: int,
             n: int = N_QUERIES) -> list[tuple]:
    """Seeded query list: per 10 queries, 4 Replacing and 1 Collapsing
    point lookups, 3 Replacing and 1 Collapsing FINAL aggregates, and 1
    change-feed read. Lookups take 1, 2, ..., 5 keys in turn and every
    tenth key is absent; the seed picks the order and the keys, not the
    proportions, so seeds differ in data, not in work."""
    import random

    rng = random.Random(seed * 7919 + 17)
    pattern = ["point"] * 4 + ["point_c"] + ["agg"] * 3 + ["agg_c"] + ["feed"]
    live = {"orders": sorted(g.orders.rows), "order_events": sorted(g.events.rows)}
    nxt = {"orders": g.orders.next_pk, "order_events": g.events.next_pk}
    out: list[tuple] = []
    n_lookups = n_keys = n_feeds = 0
    while len(out) < n:
        block = list(pattern)
        rng.shuffle(block)
        for kind in block:
            if kind in ("point", "point_c"):
                tname = "orders" if kind == "point" else "order_events"
                keys = []
                for _ in range(1 + n_lookups % 5):
                    n_keys += 1
                    if n_keys % 10 == 0:
                        keys.append(nxt[tname] + rng.randrange(1, 10**6))
                    else:
                        keys.append(live[tname][rng.randrange(len(live[tname]))])
                n_lookups += 1
                out.append((kind, tuple(keys)))
            elif kind == "feed":
                n_feeds += 1
                out.append((kind, 1 + n_feeds % max_back))
            else:
                out.append((kind,))
    return out[:n]


def _norm(v):
    import datetime as dt

    if isinstance(v, Decimal):
        return f"{v:.2f}"
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return v


class ReadRunner:
    """Runs one read-mix query (``execute``, the timed part) and compares
    its rows with the oracle (``check``, untimed)."""

    def __init__(self, b: Bench, g, specs, orders, events, versions, snaps):
        self.b, self.g, self.specs = b, g, specs
        self.orders, self.events = orders, events
        self.versions, self.snaps = versions, snaps

    def execute(self, qry) -> list:
        from pyspark.sql import functions as F

        from synch_spark.operators.cdc_apply import read_current_state
        from synch_spark.sources import bloom

        kind, b = qry[0], self.b
        if kind == "point":
            return bloom.point_lookup(self.orders, "id", list(qry[1])).collect()
        if kind == "point_c":
            df = read_current_state(self.events, self.specs["order_events"])
            df = df.filter(F.col("event_id").isin(list(qry[1])))
        elif kind == "agg":
            df = read_current_state(self.orders, self.specs["orders"]).groupBy(
                "status").agg(F.count(F.lit(1)), F.sum("amount"))
        elif kind == "agg_c":
            df = read_current_state(self.events, self.specs["order_events"]
                                    ).groupBy("kind").agg(F.count(F.lit(1)),
                                                          F.sum("qty"))
        else:  # change feed over the last ``qry[1]`` micro-batches
            with b.span("table.changes"):
                return self.orders.changes(self.versions[-1 - qry[1]],
                                           pk="id").collect()
        with b.span("engines.final_exec"):
            return df.collect()

    def check(self, qry, rows) -> bool:
        kind = qry[0]
        if kind in ("point", "point_c"):
            t = self.g.orders if kind == "point" else self.g.events
            want = {t.rows[k] for k in set(qry[1]) if k in t.rows}
            return {tuple(_norm(v) for v in r) for r in rows} == want
        if kind in ("agg", "agg_c"):
            t, ki, vi = ((self.g.orders, 3, 2) if kind == "agg"
                         else (self.g.events, 2, 3))
            want: dict = {}
            for r in t.rows.values():
                n, total = want.get(r[ki], (0, 0))
                v = Decimal(r[vi]) if kind == "agg" else r[vi]
                want[r[ki]] = (n + 1, total + v)
            return ({r[0]: (r[1], _norm(r[2])) for r in rows}
                    == {k: (n, _norm(v)) for k, (n, v) in want.items()})
        cols = self.g.orders.col_names()
        got = Counter((r["_change_type"],) + tuple(_norm(r[c]) for c in cols)
                      for r in rows)
        # rows from before the ADD COLUMN read the new column as NULL
        old = {k: v + (None,) * (len(cols) - len(v))
               for k, v in self.snaps[-1 - qry[1]].items()}
        new = self.snaps[-1]
        want = Counter()
        for k in old.keys() - new.keys():
            want[("delete",) + old[k]] += 1
        for k in new.keys() - old.keys():
            want[("insert",) + new[k]] += 1
        for k in old.keys() & new.keys():
            if old[k] != new[k]:
                want[("update_preimage",) + old[k]] += 1
                want[("update_postimage",) + new[k]] += 1
        return got == want


WORKLOADS = {"catchup_final_read": catchup_final_read, "steady": steady}
