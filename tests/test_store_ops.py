"""Store operations: restore (rollback-as-commit), clone, change feed.

Scale contracts pinned here:
- restore is O(diff files): copies only files the head dropped, never
  rewrites data, and the rollback itself is time-travel-readable;
- restore cannot be bitten by remove-list GC (re-materialized files get
  fresh pool identities, so no old remove-list names them);
- clone is a fully independent table: source GC/vacuum/commits never
  reach it, O(files) byte copies + one checkpoint entry;
- changes() reads ONLY the files that differ between the two snapshots
  and suppresses CoW carry-over rows, so a small merge on a huge table
  yields a small change feed.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from synch_spark.config import Engine, TableSpec
from synch_spark.operators.cdc_apply import apply_cdc_batch
from synch_spark.sources.table import ParquetTable


@pytest.fixture(scope="module")
def spark():
    from synch_spark.session import get_spark

    return get_spark("test-store-ops", cpus=8)


SPEC = TableSpec(schema="db", table="t", pk=("k",),
                 engine=Engine.REPLACING_MERGE_TREE, partition_by=None)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "action string, k long, p string, v double, event_unixtime long"
    ).withColumn("action_seq", F.lit(0)).withColumn("schema", F.lit("db")) \
     .withColumn("table", F.lit("t"))


def _clustered(spark, t, n=2000, files=20, key=None):
    t.overwrite(
        spark.range(n).select(F.col("id").alias("k"),
                              (F.col("id") % 5).cast("string").alias("p"),
                              F.col("id").cast("double").alias("v"))
        .repartitionByRange(files, "k"),
        key=key,
    )


def _state(t, version=None):
    return {r["k"]: (r["p"], r["v"]) for r in t.read(version).collect()}


# --- restore ---------------------------------------------------------------
def test_restore_round_trips_state_and_stays_versioned(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), retain=4)
    _clustered(spark, t)
    v0 = t.current_version()
    s0 = _state(t)
    apply_cdc_batch(t, _events(spark, [("insert", 5, "px", -1.0, 10),
                                       ("delete", 17, "px", 0.0, 10)]),
                    SPEC, value_columns=["k", "p", "v"])
    apply_cdc_batch(t, _events(spark, [("insert", 2500, "nw", 9.0, 11)]),
                    SPEC, value_columns=["k", "p", "v"])
    v2 = t.current_version()
    s2 = _state(t)
    assert s2 != s0

    v3 = t.restore(v0)
    assert v3 == v2 + 1 and t.current_version() == v3
    assert _state(t) == s0, "restore must reproduce the old state exactly"
    # the rollback is itself a version: the bad state stays time-travel
    # readable, and writes continue from the restored state
    assert _state(t, v2) == s2
    apply_cdc_batch(t, _events(spark, [("insert", 1, "zz", 42.0, 12)]),
                    SPEC, value_columns=["k", "p", "v"])
    assert _state(t)[1] == ("zz", 42.0)


def test_restore_to_current_is_noop(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    _clustered(spark, t, n=100, files=2)
    v = t.current_version()
    assert t.restore(v) == v
    assert t.current_version() == v


def test_restore_is_o_diff_not_o_table(spark, tmp_path, monkeypatch):
    """A merge rewrote 1-2 of ~20 files; rolling it back must copy only
    the files the merge dropped — not the whole table."""
    t = ParquetTable(spark, str(tmp_path / "t"), retain=4)
    _clustered(spark, t)
    v0 = t.current_version()
    n_files = len(t.snapshot().files)
    assert n_files >= 15
    apply_cdc_batch(t, _events(spark, [("insert", 5, "px", -1.0, 10)]),
                    SPEC, value_columns=["k", "p", "v"])
    diff = len(set(t.snapshot(v0).files) - set(t.snapshot().files))

    copies = []
    real = shutil.copyfile

    def counting(src, dst, **kw):
        copies.append((src, dst))
        return real(src, dst, **kw)

    monkeypatch.setattr(shutil, "copyfile", counting)
    t.restore(v0)
    data_copies = [d for _s, d in copies if not d.endswith(".bloom")]
    assert len(data_copies) == diff, (
        f"restore copied {len(data_copies)} files for a {diff}-file diff "
        f"on a {n_files}-file table"
    )


def test_restore_survives_remove_list_gc(spark, tmp_path):
    """The GC-hazard regression: after a restore, enough later commits
    land that every pre-restore version expires (their remove-lists get
    replayed by _post_commit). The restored rows must still be readable
    — fresh pool identities keep them off every old remove-list."""
    t = ParquetTable(spark, str(tmp_path / "t"), retain=2)
    _clustered(spark, t, n=500, files=5)
    v0 = t.current_version()
    s0 = _state(t)
    apply_cdc_batch(t, _events(spark, [("delete", 100, "a", 0.0, 10),
                                       ("insert", 5, "px", -1.0, 10)]),
                    SPEC, value_columns=["k", "p", "v"])
    t.restore(v0)
    # push the merge and restore versions out of the retention window
    for i in range(4):
        apply_cdc_batch(
            t, _events(spark, [("insert", 9000 + i, "gc", float(i), 20 + i)]),
            SPEC, value_columns=["k", "p", "v"])
    got = _state(t)
    for k, pv in s0.items():
        assert got[k] == pv, f"restored row {k} lost to remove-list GC"
    # and every live file physically exists
    for rel in t.snapshot().files:
        assert os.path.exists(t._abs(rel)), f"live file {rel} GC'd"


def test_restore_carries_bloom_sidecars(spark, tmp_path):
    from synch_spark.sources import bloom as bloom_idx

    t = ParquetTable(spark, str(tmp_path / "t"), retain=4)
    _clustered(spark, t, key="k")
    apply_cdc_batch(t, _events(spark, [("insert", 5, "px", -1.0, 10)]),
                    SPEC, value_columns=["k", "p", "v"])
    v1 = t.current_version()
    # superseding k=5 again removes v1's one-row file from the head
    apply_cdc_batch(t, _events(spark, [("insert", 5, "px", -2.0, 11)]),
                    SPEC, value_columns=["k", "p", "v"])
    t.restore(v1)
    restored = [r for r in t.snapshot().files if "restore-" in r]
    assert restored, "restore should have re-materialized the merged file"
    for rel in restored:
        assert os.path.exists(bloom_idx.sidecar_path(t._abs(rel))), (
            f"bloom sidecar not carried to restored identity {rel}"
        )
    # pruned lookup still works against the restored layout
    got = {r["k"] for r in bloom_idx.point_lookup(t, "k", [5, 1999]).collect()}
    assert got == {5, 1999}


# --- clone -----------------------------------------------------------------
@pytest.mark.slow
def test_clone_is_equal_and_independent(spark, tmp_path):
    src = ParquetTable(spark, str(tmp_path / "src"), retain=2)
    _clustered(spark, src, n=400, files=4)
    s0 = _state(src)
    dup = src.clone(str(tmp_path / "dup"))
    assert dup.current_version() == 0
    assert _state(dup) == s0

    # source keeps moving: merges + retention GC physically delete the
    # files the clone was cut from — the clone must not care
    for i in range(5):
        apply_cdc_batch(
            src, _events(spark, [("delete", i, "a", 0.0, 10 + i),
                                 ("insert", 5000 + i, "nw", 1.0, 10 + i)]),
            SPEC, value_columns=["k", "p", "v"])
    assert _state(src) != s0
    assert _state(dup) == s0, "source GC reached into the clone"
    # and the clone is writable without disturbing the source
    apply_cdc_batch(dup, _events(spark, [("insert", 7, "cl", 7.0, 99)]),
                    SPEC, value_columns=["k", "p", "v"])
    assert _state(dup)[7] == ("cl", 7.0)
    assert _state(src)[7] != ("cl", 7.0)


def test_clone_refuses_existing_table(spark, tmp_path):
    src = ParquetTable(spark, str(tmp_path / "src"))
    _clustered(spark, src, n=50, files=1)
    dst = ParquetTable(spark, str(tmp_path / "dst"))
    _clustered(spark, dst, n=10, files=1)
    with pytest.raises(FileExistsError):
        src.clone(str(tmp_path / "dst"))


def test_clone_carries_schema_doc_and_stats(spark, tmp_path):
    """Metadata-only DDL (rename) made the logical schema diverge from
    the physical files; the clone must read through the same document.
    Manifest stats and blooms ride along, so pruning works unrebuilt."""
    from synch_spark.ddl import parse_alter
    from synch_spark.sources import bloom as bloom_idx
    from synch_spark.sources import schema_evolution as se

    src = ParquetTable(spark, str(tmp_path / "src"))
    _clustered(spark, src, n=300, files=3, key="k")
    ts = se.TableSchema.from_struct(src.read().schema)
    evolved, reasons = se.evolve_schema(
        ts, parse_alter("alter table db.t change column v val double"))
    assert reasons == []
    src.commit_schema(evolved)
    assert "val" in src.read().columns

    dup = src.clone(str(tmp_path / "dup"))
    assert "val" in dup.read().columns, "clone lost the schema document"
    snap = dup.snapshot()
    assert any(s for s in snap.files.values()), "clone dropped per-file stats"
    got = {r["k"] for r in bloom_idx.point_lookup(dup, "k", [7]).collect()}
    assert got == {7}


# --- change feed -----------------------------------------------------------
def test_changes_classifies_insert_update_delete(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), retain=4)
    _clustered(spark, t, n=1000, files=10)
    v0 = t.current_version()
    apply_cdc_batch(t, _events(spark, [("insert", 5, "px", -1.0, 10),
                                       ("delete", 700, "a", 0.0, 10),
                                       ("insert", 5000, "nw", 9.0, 10)]),
                    SPEC, value_columns=["k", "p", "v"])
    out = t.changes(v0, pk="k")
    rows = {(r["k"], r["_change_type"]): (r["p"], r["v"])
            for r in out.collect()}
    assert rows[(5000, "insert")] == ("nw", 9.0)
    assert rows[(700, "delete")] == ("0", 700.0)
    assert rows[(5, "update_preimage")] == ("0", 5.0)
    assert rows[(5, "update_postimage")] == ("px", -1.0)
    assert len(rows) == 4, (
        f"CoW carry-over rows leaked into the feed: {sorted(rows)[:10]}"
    )


def test_changes_reads_only_diff_files(spark, tmp_path):
    """The scale contract: a 1-file merge on a 20-file table must plan a
    scan over the diff files only, never the full snapshot."""
    t = ParquetTable(spark, str(tmp_path / "t"), retain=4)
    _clustered(spark, t)
    v0 = t.current_version()
    n_files = len(t.snapshot().files)
    apply_cdc_batch(t, _events(spark, [("insert", 5, "px", -1.0, 10)]),
                    SPEC, value_columns=["k", "p", "v"])
    s0, s1 = t.snapshot(v0), t.snapshot()
    # a file's identity is (file, DV): a re-masked file is in the diff
    touched = {os.path.basename(r) for r in set(s0.files) | set(s1.files)
               if r not in s0.files or r not in s1.files
               or s0.dv(r) != s1.dv(r)}
    assert 0 < len(touched) < n_files // 2
    scanned = {os.path.basename(p)
               for p in t.changes(v0, pk="k").inputFiles()}
    assert scanned, "changes() plans at least the diff files"
    assert scanned <= touched, (
        f"changes() scans files outside the {len(touched)}-file diff "
        f"(table has {n_files} files): {sorted(scanned - touched)[:5]}"
    )


def test_changes_no_pk_multiset(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "b")], "k long, v string"))
    v0 = t.current_version()
    t.overwrite(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"))
    got = sorted((r["k"], r["v"], r["_change_type"])
                 for r in t.changes(v0).collect())
    assert got == [(2, "b", "delete"), (3, "c", "insert")], got


def test_changes_per_commit_stamps_versions(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), retain=5)
    _clustered(spark, t, n=200, files=2)
    v0 = t.current_version()
    apply_cdc_batch(t, _events(spark, [("insert", 7, "x", -7.0, 10)]),
                    SPEC, value_columns=["k", "p", "v"])
    apply_cdc_batch(t, _events(spark, [("delete", 7, "x", 0.0, 11)]),
                    SPEC, value_columns=["k", "p", "v"])
    rows = [(r["k"], r["_change_type"], r["_commit_version"])
            for r in t.changes_per_commit(v0, pk="k").collect()]
    by_commit = {}
    for k, ct, cv in rows:
        by_commit.setdefault(cv, set()).add((k, ct))
    assert by_commit[v0 + 1] == {(7, "update_preimage"),
                                 (7, "update_postimage")}
    assert by_commit[v0 + 2] == {(7, "delete")}


def test_changes_rejects_inverted_range(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    _clustered(spark, t, n=50, files=1)
    t.overwrite(spark.createDataFrame([(1, "a", 1.0)],
                                      "k long, p string, v double"))
    with pytest.raises(ValueError):
        t.changes(t.current_version(), t.current_version() - 1)


def test_compaction_marks_data_change_false_and_feeds_skip_it(spark, tmp_path):
    """OPTIMIZE on a merging engine is a row-preserving re-layout: the
    commit carries dataChange=false, history() surfaces it, and change
    feeds skip the hop — changes() across a pure-compaction interval
    plans ZERO file reads instead of diffing the whole rewrite."""
    from synch_spark.operators.cdc_apply import compact_table

    t = ParquetTable(spark, str(tmp_path / "t"), retain=6)
    _clustered(spark, t, n=500, files=5)
    v0 = t.current_version()
    apply_cdc_batch(t, _events(spark, [("insert", 5, "px", -1.0, 10),
                                       ("delete", 100, "a", 0.0, 10)]),
                    SPEC, value_columns=["k", "p", "v"])
    compact_table(t, SPEC)
    v_compact = t.current_version()

    hist = {h["version"]: h["data_change"] for h in t.history()}
    assert hist[v_compact] is False and hist[v_compact - 1] is True

    # pure-compaction interval: provably empty feed, zero files read
    feed = t.changes(v_compact - 1, v_compact, pk="k")
    assert feed.inputFiles() == [] and feed.count() == 0

    # spanning feed: the real merge's rows come through once, the
    # compaction hop is skipped entirely by the per-commit walk
    rows = {(r["k"], r["_change_type"], r["_commit_version"])
            for r in t.changes_per_commit(v0, pk="k").collect()}
    assert rows == {(5, "update_preimage", v0 + 1),
                    (5, "update_postimage", v0 + 1),
                    (100, "delete", v0 + 1)}

    # state is intact and subsequent merges keep flowing
    assert t.read().count() == 499
    apply_cdc_batch(t, _events(spark, [("insert", 7, "zz", 9.0, 20)]),
                    SPEC, value_columns=["k", "p", "v"])
    post = {(r["k"], r["_change_type"])
            for r in t.changes(v_compact, pk="k").collect()}
    assert post == {(7, "update_preimage"), (7, "update_postimage")}


def test_collapsing_compaction_stays_data_change_true(spark, tmp_path):
    """Collapsing engines FOLD their ±sign rows at compaction — a
    storage-level row change that must NOT be marked row-preserving."""
    from synch_spark.config import Engine, TableSpec
    from synch_spark.operators.cdc_apply import compact_table

    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.COLLAPSING_MERGE_TREE)
    t = ParquetTable(spark, str(tmp_path / "t"))
    apply_cdc_batch(t, _events(spark, [("insert", 1, "a", 1.0, 1),
                                       ("insert", 2, "a", 2.0, 1)]),
                    spec, value_columns=["k", "p", "v"])
    apply_cdc_batch(t, _events(spark, [("delete", 1, "a", 1.0, 2)]),
                    spec, value_columns=["k", "p", "v"])
    compact_table(t, spec)
    hist = {h["version"]: h["data_change"] for h in t.history()}
    assert hist[t.current_version()] is True


def test_changes_across_metadata_rename_aligns_images(spark, tmp_path):
    """A metadata-only rename lands between two merges: the feed must be
    expressed in the DESTINATION schema, carried-over rows must still
    cancel (pre-DDL physical files resolve through the newer doc), and
    the DDL commit itself contributes nothing."""
    from synch_spark.ddl import parse_alter
    from synch_spark.sources import schema_evolution as se

    t = ParquetTable(spark, str(tmp_path / "t"), retain=6)
    _clustered(spark, t, n=500, files=5)
    v0 = t.current_version()
    ts = se.TableSchema.from_struct(t.read().schema)
    evolved, reasons = se.evolve_schema(
        ts, parse_alter("alter table db.t change column v val double"))
    assert reasons == []
    t.commit_schema(evolved)
    # the metadata commit alone: empty feed (no files changed)
    assert t.changes(v0, pk="k").count() == 0

    batch = spark.createDataFrame(
        [("insert", 5, "px", -1.0, 10)],
        "action string, k long, p string, val double, event_unixtime long",
    ).withColumn("action_seq", F.lit(0)) \
     .withColumn("schema", F.lit("db")).withColumn("table", F.lit("t"))
    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE)
    apply_cdc_batch(t, batch, spec, value_columns=["k", "p", "val"])

    rows = {(r["k"], r["_change_type"]): (r["p"], r["val"])
            for r in t.changes(v0, pk="k").collect()}
    assert rows == {
        (5, "update_preimage"): ("0", 5.0),
        (5, "update_postimage"): ("px", -1.0),
    }, f"carry-overs leaked or images misaligned: {sorted(rows)[:6]}"


@pytest.mark.parametrize("seed", [7, 23])
@pytest.mark.slow
def test_changes_reconstruct_new_state_property(spark, tmp_path, seed):
    """The feed's semantic contract, end-to-end: for ANY retained
    version pair (a, b) of a merge-maintained table,
    read(a) - deletions + postimages == read(b) exactly. Random mixed
    commit sequences (inserts, updates, deletes, group moves, a
    compaction) drive it; reconstruction is checked for every adjacent
    and spanning pair still inside the retention window."""
    import random

    from synch_spark.operators.cdc_apply import compact_table

    rnd = random.Random(seed)
    t = ParquetTable(spark, str(tmp_path / f"t{seed}"), retain=8)
    _clustered(spark, t, n=300, files=3)
    versions = [t.current_version()]
    live = set(range(300))
    next_id = 1000
    for step in range(5):
        evs = []
        for _ in range(rnd.randint(1, 6)):
            op = rnd.random()
            if op < 0.4 and live:  # update
                k = rnd.choice(sorted(live))
                evs.append(("insert", k, f"u{step}", rnd.randint(-99, 99) * 1.0,
                            10 + step))
            elif op < 0.7:  # insert new
                evs.append(("insert", next_id, f"n{step}", float(next_id),
                            10 + step))
                live.add(next_id)
                next_id += 1
            elif live:  # delete
                k = rnd.choice(sorted(live))
                evs.append(("delete", k, "x", 0.0, 10 + step))
                live.discard(k)
        if not evs:
            continue
        apply_cdc_batch(t, _events(spark, evs), SPEC,
                        value_columns=["k", "p", "v"])
        versions.append(t.current_version())
        if step == 2:
            compact_table(t, SPEC)  # dataChange=false hop mid-history
            versions.append(t.current_version())

    pairs = [(versions[i], versions[j])
             for i in range(len(versions)) for j in range(i, len(versions))]
    rnd.shuffle(pairs)
    for va, vb in pairs[:8]:
        feed = {(r["k"], r["_change_type"]): (r["p"], r["v"])
                for r in t.changes(va, vb, pk="k").collect()}
        state = _state(t, va)
        # preimages retract first, postimages apply second (an update's
        # two rows would otherwise race in dict order)
        for (k, ct), img in feed.items():
            if ct in ("delete", "update_preimage"):
                assert state.pop(k) == img, (va, vb, k, ct)
        for (k, ct), img in feed.items():
            if ct in ("insert", "update_postimage"):
                state[k] = img
        assert state == _state(t, vb), (
            f"feed({va}->{vb}) does not reconstruct the new state"
        )


def test_inflight_restore_copies_survive_concurrent_vacuum(spark, tmp_path):
    """Restore/clone copies must get the same TTL grace window staged
    writes get: the copies carry FRESH mtimes (copyfile, not copy2), so
    a vacuum racing the copy..publish window cannot reclaim them even
    though they are referenced by no version yet."""
    import time as _time

    t = ParquetTable(spark, str(tmp_path / "t"), retain=4)
    _clustered(spark, t, n=200, files=2)
    # source files deliberately look ancient (long-lived table)
    old = _time.time() - 7200
    for rel in t.snapshot().files:
        os.utime(t._abs(rel), (old, old))
    v0 = t.current_version()
    apply_cdc_batch(t, _events(spark, [("insert", 5, "px", -1.0, 10)]),
                    SPEC, value_columns=["k", "p", "v"])
    # simulate the in-flight window: copy the diff files as restore
    # would, then vacuum BEFORE the entry is published
    copied = []
    orig_write = ParquetTable._write_entry

    def intercept(self, entry, cleanup_rels=None):
        copied.extend(entry.get("add", entry.get("files", {})))
        self._intercepted = (entry, cleanup_rels)

    ParquetTable._write_entry = intercept
    try:
        t.restore(v0)
    finally:
        ParquetTable._write_entry = orig_write
    assert copied, "restore should have staged copies"
    removed = t.vacuum(staging_ttl_s=3600)
    for rel in copied:
        assert os.path.exists(t._abs(rel)), (
            f"vacuum reclaimed in-flight restore copy {rel}"
        )
    # publish the intercepted entry: the restore completes correctly
    entry, cleanup = t._intercepted
    orig_write(t, entry, cleanup)
    assert {r["k"] for r in t.read().filter("v = -1.0").collect()} == set()


def test_history_records_operation_provenance(spark, tmp_path):
    """DESCRIBE HISTORY answers 'who rewrote my table': each commit
    carries its operation name — overwrite, merge, ddl, append,
    optimize (dataChange=false), restore."""
    from synch_spark.ddl import parse_alter
    from synch_spark.operators.cdc_apply import compact_table
    from synch_spark.sources import schema_evolution as se

    t = ParquetTable(spark, str(tmp_path / "t"), retain=8)
    _clustered(spark, t, n=300, files=3)
    v0 = t.current_version()
    apply_cdc_batch(t, _events(spark, [("insert", 5, "px", -1.0, 10)]),
                    SPEC, value_columns=["k", "p", "v"])
    ts = se.TableSchema.from_struct(t.read().schema)
    evolved, _ = se.evolve_schema(
        ts, parse_alter("alter table db.t add column tag varchar(8)"))
    t.commit_schema(evolved)
    t.append(spark.createDataFrame([(9000, "ap", 1.0, None)],
                                   "k long, p string, v double, tag string"))
    compact_table(t, SPEC)
    t.restore(t.current_version() - 1)

    ops = {h["version"]: h["op"] for h in t.history()}
    assert ops[v0 + 1] == "merge"
    assert ops[v0 + 2] == "ddl"
    assert ops[v0 + 3] == "append"
    assert ops[v0 + 4] == "optimize"
    assert ops[v0 + 5] == "restore"


def test_restore_races_merge_without_corruption(spark, tmp_path):
    """Optimistic concurrency over the new verbs: a restore and a merge
    racing the same head both land (in some order) under
    commit_with_retry, versions are distinct, every live file exists,
    and the final state is exactly one of the two serial orders."""
    import threading

    from synch_spark.sources.table import commit_with_retry

    t = ParquetTable(spark, str(tmp_path / "t"), retain=8)
    _clustered(spark, t, n=400, files=4)
    v0 = t.current_version()
    apply_cdc_batch(t, _events(spark, [("insert", 5, "px", -1.0, 10)]),
                    SPEC, value_columns=["k", "p", "v"])

    errs = []

    def do_restore():
        try:
            commit_with_retry(lambda: t.restore(v0))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def do_merge():
        try:
            apply_cdc_batch(t, _events(spark, [("insert", 42, "rc", 2.0, 20)]),
                            SPEC, value_columns=["k", "p", "v"])
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    th = [threading.Thread(target=do_restore), threading.Thread(target=do_merge)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs, errs

    got = _state(t)
    for rel in t.snapshot().files:
        assert os.path.exists(t._abs(rel))
    # serial order A: merge then restore -> v0 state exactly.
    # serial order B: restore then merge -> v0 state + k42 update.
    s0 = _state(t, v0)
    order_a = got == s0
    order_b = (got.get(42) == ("rc", 2.0)
               and {k: v for k, v in got.items() if k != 42}
               == {k: v for k, v in s0.items() if k != 42})
    assert order_a or order_b, "race produced a state neither order explains"

def test_changes_to_raw_lifts_compaction_reset_stamps(spark, tmp_path):
    """A collapsing compaction folds stored rows with _event_unixtime=0;
    a feed that crosses it (plain changes, no skip_ops) must NOT ship
    stamp 0 — downstream last-wins ordering would lose those rows to
    all previously shipped traffic. Exactly the reset stamps lift to
    base_unixtime_us; genuine stamps stay untouched so upstream order
    still replays."""
    from synch_spark.events import changes_to_raw
    from synch_spark.operators.cdc_apply import compact_table

    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.COLLAPSING_MERGE_TREE)
    t = ParquetTable(spark, str(tmp_path / "t"), retain=8)
    apply_cdc_batch(t, _events(spark, [("insert", 1, "a", 1.0, 10),
                                       ("insert", 2, "a", 2.0, 11)]),
                    spec, value_columns=["k", "p", "v"])
    v0 = t.current_version()
    apply_cdc_batch(t, _events(spark, [("delete", 1, "a", 1.0, 12)]),
                    spec, value_columns=["k", "p", "v"])
    compact_table(t, spec)  # folds: k=2 survives with stamp reset to 0
    apply_cdc_batch(t, _events(spark, [("insert", 3, "a", 3.0, 13)]),
                    spec, value_columns=["k", "p", "v"])

    base = 1_000_000_000_000_000
    feed = t.changes(v0, pk="k")
    raw = changes_to_raw(feed, "db", "t", base_unixtime_us=base,
                         collapsing_sign_col=spec.sign_column)
    stamps = [r["event_unixtime"] for r in raw.collect()]
    assert stamps, "feed crossed the compaction but shipped nothing"
    assert min(stamps) > 0, f"reset stamp leaked: {sorted(stamps)}"
    # the folded survivor ships at base; the genuine stamps replay as-is
    assert base in stamps
    assert all(s == base or 0 < s < base for s in stamps), sorted(stamps)

def test_restore_reinstates_pre_sschema_state(spark, tmp_path):
    """Restoring to a version whose physical-schema doc is None (a
    legacy log written before sschema existed) must reinstate None —
    not silently leave the head's newer doc in effect. Present-but-None
    in a delta entry is an explicit reset, distinct from key-absent."""
    import json as _json

    t = ParquetTable(spark, str(tmp_path / "t"), retain=8)
    _clustered(spark, t, n=50, files=2)  # v0
    # simulate the legacy log: strip the sschema key from the v0 ckpt
    import os as _os
    p0 = _os.path.join(t._mdir, "v=0.json")
    e0 = _json.load(open(p0))
    e0.pop("sschema", None)
    with open(p0, "w") as f:
        _json.dump(e0, f)

    t2 = ParquetTable(spark, str(tmp_path / "t"), retain=8)  # fresh cache
    assert t2.snapshot(0).sschema is None
    t2.overwrite(spark.range(5).select(
        F.col("id").alias("k"), F.lit("x").alias("p"),
        F.lit(1.0).alias("v")))  # v1: carries a NEW sschema doc
    assert t2.snapshot(1).sschema is not None

    t2.restore(0)
    head = t2.snapshot(t2.current_version())
    assert head.sschema is None, "restore left the head's sschema in effect"
    assert _state(t2) == _state(t2, 0)  # data round-trips too

def test_restore_and_clone_fan_out_copies_over_executors(spark, tmp_path):
    """Past _COPY_FANOUT_MIN diff files, restore/clone run their pool
    copies as an executor job instead of a driver-serial loop — the
    state must round-trip identically through that path (stats, blooms,
    fresh identities all intact)."""
    from synch_spark.sources import table as tbl

    t = ParquetTable(spark, str(tmp_path / "t"), retain=8)
    _clustered(spark, t, n=2000, files=tbl._COPY_FANOUT_MIN + 8)  # v0
    s0 = _state(t)
    _clustered(spark, t, n=100, files=2)  # v1 drops all v0 files

    t.restore(0)  # diff > fan-out threshold -> distributed copies
    assert _state(t) == s0
    head = t.snapshot(t.current_version())
    assert len(head.files) >= tbl._COPY_FANOUT_MIN
    assert all(os.path.exists(t._abs(r)) for r in head.files)

    c = t.clone(str(tmp_path / "c"))  # full snapshot -> distributed too
    assert _state(c) == s0
    assert c.current_version() == 0
