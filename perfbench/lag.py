"""Pure accounting helpers: percentiles, the file source's checkpoint
log, and per-file replication lag for the open-loop workload."""

from __future__ import annotations

import json
import math
import os
from urllib.parse import unquote, urlparse


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-quantile (0..1) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least ten beyond the q-quantile."""
    return n - math.ceil(round(q * n, 9)) >= 10


def file_batches(checkpoint_dir: str) -> dict[str, int]:
    """Spool file basename -> micro-batch id, from the file source's
    metadata log ``<checkpoint>/sources/0/<batchId>`` (and the
    ``<batchId>.compact`` files Spark folds older entries into). Each log
    file is a version header line followed by one JSON entry per file."""
    d = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue  # temp files and crc sidecars
        with open(os.path.join(d, name)) as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:
            if not line.strip():
                continue
            e = json.loads(line)
            base = os.path.basename(unquote(urlparse(e["path"]).path))
            out[base] = int(e["batchId"])
    return out


def file_lags(scheduled: dict[str, float], released: dict[str, float],
              file_batch: dict[str, int],
              batches: dict[int, tuple[float, float]]) -> dict:
    """Per-file lag accounting for an open-loop run.

    ``scheduled``/``released``: file -> scheduled / actual release time;
    ``file_batch``: file -> micro-batch id (from the checkpoint log);
    ``batches``: batch id -> (apply start, apply end), wall-clock.

    Lag of a file = its batch's apply end - the file's SCHEDULED release
    (a late generator therefore counts against the system, never for it).
    Trigger wait = its batch's start - scheduled release. Backlog at a
    batch start = files already released whose batch has not started
    (one entry per batch, in batch order).
    Files missing from the log or from ``batches`` are reported as
    ``unapplied``; ``files`` lists the applied ones, aligned with
    ``lags`` and ``waits``."""
    files, lags, waits, unapplied = [], [], [], []
    for f, t_sched in scheduled.items():
        b = file_batch.get(f)
        if b is None or b not in batches:
            unapplied.append(f)
            continue
        start, end = batches[b]
        files.append(f)
        lags.append(end - t_sched)
        waits.append(start - t_sched)
    backlog = [sum(1 for f, t_rel in released.items()
                   if t_rel <= start and file_batch.get(f, b) >= b)
               for b, (start, _end) in sorted(batches.items())]
    return {"files": files, "lags": lags, "waits": waits,
            "unapplied": sorted(unapplied),
            "backlog": backlog, "backlog_max": max(backlog, default=0)}
