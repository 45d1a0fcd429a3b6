"""Run alternating parent/change pairs of the replication benchmark and
compare them.

    python3 tools/bench_pairs.py --pairs 10 [--parent HEAD~1]
        [--workloads catchup_final_read,steady] [--seconds 10] [--trace 0]
        [--seed0 1] [--parent-tree DIR] [--out runs.jsonl]

Each pair runs ``perfbench/run.py`` once on the parent and once on the
change (this checkout, committed or not), same workload and seed, the
side that goes first alternating from pair to pair so a host slowing
down or speeding up does not favour one side. The parent is checked out
with ``git worktree`` under the system temp dir (``$TMPDIR``) and the
worktree is removed at exit; ``--parent-tree`` uses an existing
checkout of the parent instead.

For each workload and metric it prints the median and quartiles of each
side and how many pairs each side won. Graded and per-layer metrics take
their direction from ``BENCHMARK.json``; a numeric summary figure counts
as higher-is-better when its name has ``per_s`` in it, else
lower-is-better. Every run's two JSON lines go to ``--out`` when given.
Stdlib only.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--parent", default="HEAD",
                    help="git revision to compare against (default HEAD)")
    ap.add_argument("--parent-tree", default=None,
                    help="existing checkout of the parent; skips the worktree")
    ap.add_argument("--workloads", default="catchup_final_read,steady")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seed0", type=int, default=1,
                    help="pair i runs seed seed0 + i")
    ap.add_argument("--out", default=None)
    return ap.parse_args(argv)


def _parent_tree(rev: str) -> str:
    """A detached worktree of ``rev`` under the temp dir, removed at exit."""
    path = tempfile.mkdtemp(prefix="bench-parent-")
    os.rmdir(path)
    subprocess.run(["git", "-C", REPO, "worktree", "add", "--detach", path,
                    rev], check=True, stdout=subprocess.DEVNULL)

    def remove():
        subprocess.run(["git", "-C", REPO, "worktree", "remove", "--force",
                        path], check=False)
        shutil.rmtree(path, ignore_errors=True)

    atexit.register(remove)
    return path


def _run(tree: str, workload: str, seed: int, a) -> dict:
    """One benchmark run in ``tree``: {"summary", "result"} (result None
    when the run failed)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    out = {"summary": {}, "result": None, "rc": p.returncode}
    for line in p.stdout.splitlines():
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if "summary" in obj:
            out["summary"] = obj["summary"]
        elif "metrics" in obj:
            out["result"] = obj
    if out["result"] is None:
        sys.stderr.write(p.stderr[-2000:])
    return out


def _figures(run: dict) -> dict:
    """{name: value} of a run: its metrics and numeric summary figures."""
    figs = {k: v for k, v in run["summary"].items()
            if isinstance(v, (int, float)) and not isinstance(v, bool)}
    if run["result"]:
        figs.update({k: m["value"] for k, m in run["result"]["metrics"].items()})
    return figs


def _quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def _report(workload: str, pairs: list, better: dict) -> None:
    names = sorted({k for p, c in pairs for k in _figures(p)}
                   & {k for p, c in pairs for k in _figures(c)})
    ok = sum(1 for p, c in pairs for r in (p, c)
             if r["result"] and r["result"]["correct"]
             and r["result"]["failed"] == 0)
    print(f"\n== {workload}: {len(pairs)} pairs, {ok}/{2 * len(pairs)} runs "
          f"correct with 0 failed")
    print(f"{'metric':38s} {'parent q1/med/q3':>28s} {'change q1/med/q3':>28s}"
          f" {'wins p/c':>9s}")
    for name in names:
        got = [(_figures(p).get(name), _figures(c).get(name)) for p, c in pairs]
        got = [(x, y) for x, y in got if x is not None and y is not None]
        if not got:
            continue
        lower = better.get(name, "higher" if "per_s" in name else "lower") == "lower"
        wp = sum(1 for x, y in got if (x < y if lower else x > y))
        wc = sum(1 for x, y in got if (y < x if lower else y > x))
        fp = "/".join(f"{v:.4g}" for v in _quartiles([x for x, _ in got]))
        fc = "/".join(f"{v:.4g}" for v in _quartiles([y for _, y in got]))
        print(f"{name:38s} {fp:>28s} {fc:>28s} {wp:>4d}/{wc:<4d}")


def main(argv=None) -> int:
    a = _args(argv)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"]
              for m in spec["end_to_end"] + spec["per_layer"]}
    parent = a.parent_tree or _parent_tree(a.parent)
    sink = open(a.out, "a") if a.out else None
    results: dict = {}
    for i in range(a.pairs):
        seed = a.seed0 + i
        for workload in a.workloads.split(","):
            sides = [("parent", parent), ("change", REPO)]
            if i % 2:
                sides.reverse()
            pair = {}
            for side, tree in sides:
                run = _run(tree, workload, seed, a)
                pair[side] = run
                if sink:
                    sink.write(json.dumps({"pair": i, "side": side,
                                           "workload": workload, **run}) + "\n")
                    sink.flush()
                print(f"pair {i} {workload} {side}: rc={run['rc']} "
                      f"correct={run['result'] and run['result']['correct']}",
                      file=sys.stderr)
            results.setdefault(workload, []).append(
                (pair["parent"], pair["change"]))
    if sink:
        sink.close()
    for workload, pairs in results.items():
        _report(workload, pairs, better)
    return 0


if __name__ == "__main__":
    sys.exit(main())
