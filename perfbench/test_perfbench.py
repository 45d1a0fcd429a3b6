"""Tests for the benchmark itself (no Spark): seeded inputs are
byte-identical, the oracle matches a plain-Python replay of the
encoded inputs, and the per-file lag accounting is right on a synthetic
checkpoint log.

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from perfbench import gen
from perfbench.lag import file_batches, file_lags, percentile, supported
from perfbench.workloads import read_mix, write_spool_files


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(os.path.basename(p).encode() + fh.read())
    return h.hexdigest()


def _inputs(seed: int, out: str):
    g = gen.Generator(seed, 50, 30)
    arch = gen.BinlogArchive(os.path.join(out, "binlog"))
    for i in range(100):
        if i == 60:
            arch.query(gen.ALTER_SQL, g.alter())
        arch.row_event(*g.change())
        if i % 40 == 39:
            arch.flush()  # rotate every 40 row events
    arch.flush()
    spool = write_spool_files(g, os.path.join(out, "spool"), 4, 10)
    return g, arch.files, spool


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    g1, bin1, sp1 = _inputs(7, str(tmp_path / "a"))
    g2, bin2, sp2 = _inputs(7, str(tmp_path / "b"))
    _, bin3, sp3 = _inputs(8, str(tmp_path / "c"))
    assert len(bin1) == 3
    assert _digest(bin1) == _digest(bin2)
    assert _digest(sp1) == _digest(sp2)
    assert read_mix(7, g1, 3, n=200) == read_mix(7, g2, 3, n=200)
    assert _digest(bin1) != _digest(bin3)
    assert _digest(sp1) != _digest(sp3)


def _replay(state: dict, columns: dict, schema: str, table: str, action: str,
            before, after) -> None:
    """Plain-Python apply of one decoded change to {table: {pk: row}}."""
    rows = state.setdefault(table, {})
    if action in ("delete", "update"):
        rows.pop(before[columns[table][0]])
    if action in ("insert", "update"):
        rows[after[columns[table][0]]] = tuple(
            None if after.get(c) is None else str(after[c])
            for c in columns[table])


def _snapshot(seed: int):
    g0 = gen.Generator(seed, 50, 30)
    state = {t.name: {k: tuple(None if v is None else str(v) for v in row)
                      for k, row in t.rows.items()} for t in g0.tables()}
    columns = {t.name: t.col_names() for t in g0.tables()}
    return state, columns


def _oracle(g: gen.Generator) -> dict:
    return {t.name: {k: tuple(None if v is None else str(v) for v in row)
                     for k, row in t.rows.items()} for t in g.tables()}


def test_oracle_matches_plain_replay_of_binlog_and_spool(tmp_path):
    from synch_spark.sources.binlog_file import iter_binlog_events

    g, binlogs, spools = _inputs(3, str(tmp_path))
    state, columns = _snapshot(3)
    n_alter = 0
    for path in binlogs:
        with open(path, "rb") as fh:
            for ev in iter_binlog_events(fh.read()):
                if ev["action"] == "query":
                    sql = json.loads(ev["after"])["query"]
                    assert sql == gen.ALTER_SQL
                    columns["orders"].append(gen.ADDED_COL[0])
                    state["orders"] = {k: v + (None,)
                                       for k, v in state["orders"].items()}
                    n_alter += 1
                    continue
                _replay(state, columns, ev["schema"], ev["table"], ev["action"],
                        json.loads(ev["before"]) if ev["before"] else None,
                        json.loads(ev["after"]) if ev["after"] else None)
    assert n_alter == 1
    last_ts = 0
    for path in spools:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                assert ev["event_unixtime"] > last_ts  # release order = event order
                last_ts = ev["event_unixtime"]
                _replay(state, columns, ev["schema"], ev["table"], ev["action"],
                        json.loads(ev["before"]) if ev["before"] else None,
                        json.loads(ev["after"]) if ev["after"] else None)
    assert state == _oracle(g)


def test_change_mix_shape():
    g = gen.Generator(11, 2000, 1000)
    kinds = [g.change()[1] for _ in range(5000)]
    share = {k: kinds.count(k) / len(kinds) for k in set(kinds)}
    assert share["update"] == pytest.approx(0.7, abs=0.03)
    assert share["insert"] == pytest.approx(0.2, abs=0.03)
    assert share["delete"] == pytest.approx(0.1, abs=0.03)


def _write_log(path: str, entries) -> None:
    with open(path, "w") as fh:
        fh.write("v1\n")
        for f, b in entries:
            fh.write(json.dumps({"path": f"file:///spool%20dir/{f}",
                                 "timestamp": 0, "batchId": b}) + "\n")


def test_lag_accounting_on_synthetic_checkpoint_log(tmp_path):
    d = tmp_path / "ckpt" / "sources" / "0"
    d.mkdir(parents=True)
    # batches 0-1 folded into a compact file, batch 2 in its own entry,
    # plus the temp/crc debris Spark leaves next to them
    _write_log(str(d / "1.compact"), [("a.json", 0), ("b.json", 1), ("c.json", 1)])
    _write_log(str(d / "2"), [("d.json", 2)])
    (d / ".2.crc").write_text("x")
    fb = file_batches(str(tmp_path / "ckpt"))
    assert fb == {"a.json": 0, "b.json": 1, "c.json": 1, "d.json": 2}

    scheduled = {"a.json": 0.0, "b.json": 1.0, "c.json": 2.0, "d.json": 3.0,
                 "e.json": 4.0}
    released = {"a.json": 0.1, "b.json": 1.0, "c.json": 2.5, "d.json": 3.0,
                "e.json": 4.0}
    batches = {0: (0.5, 2.0), 1: (2.6, 4.0), 2: (4.1, 5.0)}
    acct = file_lags(scheduled, released, fb, batches)
    # lag = batch apply end - SCHEDULED release (c was released late but
    # is charged from its schedule)
    assert sorted(acct["lags"]) == pytest.approx([2.0, 2.0, 2.0, 3.0])
    assert sorted(acct["waits"]) == pytest.approx([0.5, 0.6, 1.1, 1.6])
    assert acct["unapplied"] == ["e.json"]
    # at batch 1's start (2.6): b, c released and unstarted; at batch 2's
    # start (4.1): d and the never-applied e
    assert acct["backlog"] == [1, 2, 2]
    assert acct["backlog_max"] == 2


def test_percentile_and_support():
    xs = list(range(1, 101))
    assert percentile(xs, 0.5) == pytest.approx(50.5)
    assert percentile(xs, 0.9) == pytest.approx(90.1)
    assert supported(100, 0.9) and not supported(99, 0.9)
    assert supported(40, 0.75) and not supported(39, 0.75)
