"""Open-loop spool releaser, run as its own process.

Moves pre-built spool files (sorted by name) from a staging directory
into the consumer's spool directory on a fixed schedule that never
waits for the consumer: file ``i`` is due at ``start + i * interval``
(wall-clock seconds). ``os.replace`` is atomic, so the consumer only
ever lists whole files. When done it writes ``{file: [scheduled,
actual]}`` as JSON to ``--report``.

    python3 perfbench/feeder.py --staging DIR --dest DIR --start EPOCH \
        --interval SECONDS --report FILE
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--staging", required=True)
    ap.add_argument("--dest", required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--report", required=True)
    a = ap.parse_args()
    files = sorted(f for f in os.listdir(a.staging) if f.endswith(".json"))
    report = {}
    for i, f in enumerate(files):
        due = a.start + i * a.interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.replace(os.path.join(a.staging, f), os.path.join(a.dest, f))
        report[f] = [due, time.time()]
    tmp = a.report + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(report, fh)
    os.replace(tmp, a.report)


if __name__ == "__main__":
    main()
