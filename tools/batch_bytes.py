"""Break down the bytes every micro-batch of a replication benchmark run
writes, by table and kind of file, and show how each new data file is
encoded.

    python3 tools/batch_bytes.py --workload catchup_final_read --seed 1 \
        [--seconds 10] [--tree DIR] [--out bytes.json]

Runs ``perfbench/run.py``'s ``main`` in this process (the arguments
other than ``--tree`` and ``--out`` go to it unchanged) with the
benchmark's micro-batch wrapper wrapped once more: the files under the
warehouse are listed before and after each batch, and every file that
is new or changed is charged to its table (``schema.table``, the first
two directories under the warehouse) and to one kind:

- ``data``: a parquet data file;
- ``dv``: a deletion vector (``.<file>.<id>.dv``);
- ``bloom``: a bloom sidecar (``.<file>.bloom``);
- ``log``: a log entry or pointer under ``_v/`` (and ``_CURRENT``);
- ``other``: anything else.

This is the same file diff as the benchmark's ``write_mb_per_batch``,
so a batch's total here is the bytes that metric counts for it (the
metric takes the median over the batches of its measured phase; this
tool lists every batch, warm-up included). For each new data file it
also prints, from the footer only, its rows and each column's physical
type, compressed bytes and encodings.

``--tree`` runs the benchmark and the package of another checkout (say
a ``git archive`` of the parent commit), so one copy of this tool
measures both sides. ``--out`` also writes every batch's record as
JSON. Stdlib + pyarrow + pyspark; it patches classes in memory only
and changes no file.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KINDS = ("data", "dv", "bloom", "log", "other")


def kind(rel: str) -> str:
    """The kind of the warehouse file at table-relative path ``rel``."""
    name = os.path.basename(rel)
    if rel.split(os.sep, 1)[0] == "_v" or name == "_CURRENT":
        return "log"
    if name.endswith(".bloom"):
        return "bloom"
    if name.endswith(".dv"):
        return "dv"
    if name.endswith(".parquet"):
        return "data"
    return "other"


def columns(md) -> list[dict]:
    """Per column of a parquet file's footer ``md``: physical type,
    compressed bytes and encodings over all row groups."""
    out = []
    for c in range(md.num_columns):
        chunks = [md.row_group(g).column(c) for g in range(md.num_row_groups)]
        encodings = sorted({e for ch in chunks for e in ch.encodings})
        out.append({"column": md.schema.column(c).path,
                    "type": md.schema.column(c).physical_type,
                    "bytes": sum(ch.total_compressed_size for ch in chunks),
                    "encodings": encodings})
    return out


def batch_record(warehouse: str, before: dict, after: dict) -> dict:
    """``{"tables": {table: {kind: bytes}}, "files": [...]}`` for the
    files of ``after`` that are not in ``before`` as they are."""
    import pyarrow.parquet as pq

    tables: dict[str, dict[str, int]] = {}
    files = []
    for path, st in sorted(after.items()):
        if before.get(path) == st:
            continue
        parts = os.path.relpath(path, warehouse).split(os.sep)
        table = ".".join(parts[:2])
        k = kind(os.path.join(*parts[2:]) if len(parts) > 2 else "")
        sizes = tables.setdefault(table, dict.fromkeys(KINDS, 0))
        sizes[k] += st[0]
        if k == "data":
            md = pq.ParquetFile(path).metadata
            files.append({"table": table, "file": parts[-1], "bytes": st[0],
                          "rows": md.num_rows, "columns": columns(md)})
    return {"tables": tables, "files": files}


def install(records: dict) -> None:
    """Wrap ``Bench.pipeline`` so that the pipeline it returns records
    each micro-batch's new files into ``records`` (batch id -> record)."""
    from perfbench import workloads

    make = workloads.Bench.pipeline

    @functools.wraps(make)
    def pipeline(self, g, specs, warehouse, checkpoint):
        pipe = make(self, g, specs, warehouse, checkpoint)
        inner = pipe.apply_batch

        def apply_batch(batch, epoch_id, *args, **kwargs):
            before = workloads._files(warehouse)
            inner(batch, epoch_id, *args, **kwargs)
            records[int(epoch_id)] = batch_record(
                warehouse, before, workloads._files(warehouse))

        pipe.apply_batch = apply_batch
        return pipe

    workloads.Bench.pipeline = pipeline


def report(records: dict) -> None:
    totals = []
    for batch, rec in sorted(records.items()):
        total = sum(sum(s.values()) for s in rec["tables"].values())
        totals.append(total)
        print(f"batch {batch}: {total:,} B")
        for table, sizes in sorted(rec["tables"].items()):
            print(f"  {table:24s}" + "".join(
                f"  {k} {v:>9,}" for k, v in sizes.items() if v))
        for f in rec["files"]:
            print(f"    {f['table']} {f['file']}: {f['bytes']:,} B, "
                  f"{f['rows']:,} rows")
            for c in f["columns"]:
                print(f"      {c['column']:20s} {c['type']:11s} "
                      f"{c['bytes']:>9,} B  {', '.join(c['encodings'])}")
    if totals:
        print(f"bytes per batch: median {statistics.median(totals):,.0f} "
              f"over {len(totals)} batches")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tree", default=REPO,
                    help="checkout whose perfbench and synch_spark run")
    ap.add_argument("--out", default=None,
                    help="write every batch's record to this JSON file")
    a, bench_argv = ap.parse_known_args(argv)
    tree = os.path.abspath(a.tree)
    out = os.path.abspath(a.out) if a.out else None
    sys.path.insert(0, tree)
    from perfbench import run

    records: dict = {}
    install(records)
    rc = run.main(bench_argv)
    report(records)
    if out:
        with open(out, "w") as f:
            json.dump(records, f, indent=1)
    return rc


if __name__ == "__main__":
    sys.exit(main())
