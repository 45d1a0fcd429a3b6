"""CDC apply correctness: replay synthetic event streams (FIXTURES F3/F4)
through apply_cdc_batch and assert final table state, mirroring the
reference's end-to-end ETL tests (/root/reference/tests/test_etl.py:10-36)
with parquet fixtures instead of live DBs."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F, types as T

from conftest import spark_jobs
from synch_spark.config import Engine, TableSpec
from synch_spark.events import RAW_EVENT_SCHEMA, parse_values, split_updates
from synch_spark.operators.cdc_apply import apply_cdc_batch, compact_batch, read_current_state
from synch_spark.sources.table import ParquetTable

VALUE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("amount", T.StringType()),
    ]
)


def _raw(spark, rows):
    """rows: list of (action, before_dict|None, after_dict|None, us)."""
    data = [
        ("db", "sync_test", a, json.dumps(b) if b else None, json.dumps(af) if af else None, us)
        for (a, b, af, us) in rows
    ]
    return spark.createDataFrame(data, RAW_EVENT_SCHEMA)


def _typed(spark, rows):
    return parse_values(split_updates(_raw(spark, rows)), VALUE_SCHEMA)


def spec(engine=Engine.REPLACING_MERGE_TREE):
    return TableSpec(schema="db", table="sync_test", pk=("id",), engine=engine)


def test_update_split(spark):
    ev = split_updates(_raw(spark, [("update", {"id": 1, "amount": "1"}, {"id": 1, "amount": "2"}, 100)]))
    got = [(r["action"], r["action_seq"], r["event_unixtime"]) for r in ev.collect()]
    assert sorted(got) == [("delete", 1, 100), ("insert", 2, 100)]


def test_compact_last_wins(spark):
    # same pk touched 3x in one batch: final = last by (time, seq)
    ev = _typed(
        spark,
        [
            ("insert", None, {"id": 1, "amount": "1"}, 100),
            ("update", {"id": 1, "amount": "1"}, {"id": 1, "amount": "2"}, 200),
            ("update", {"id": 1, "amount": "2"}, {"id": 1, "amount": "3"}, 300),
        ],
    )
    net = compact_batch(ev, ("id",)).collect()
    assert len(net) == 1
    assert net[0]["action"] == "insert" and net[0]["amount"] == "3"


def test_merge_tree_delete_then_reinsert(spark, tmp_path):
    """Delete+reinsert of the same pk in one batch nets to the reinserted row
    (delete-before-insert flush order, continuous.py:122-135)."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    s = spec(Engine.MERGE_TREE)
    apply_cdc_batch(t, _typed(spark, [
        ("insert", None, {"id": 1, "amount": "10"}, 100),
        ("insert", None, {"id": 2, "amount": "20"}, 100),
    ]), s)
    apply_cdc_batch(t, _typed(spark, [
        ("delete", {"id": 1, "amount": "10"}, None, 200),
        ("insert", None, {"id": 1, "amount": "11"}, 300),
        ("delete", {"id": 2, "amount": "20"}, None, 300),
    ]), s)
    rows = {r["id"]: r["amount"] for r in read_current_state(t, s).collect()}
    assert rows == {1: "11"}


def test_replacing_upsert(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    s = spec()
    apply_cdc_batch(t, _typed(spark, [("insert", None, {"id": 1, "amount": "1"}, 100)]), s)
    apply_cdc_batch(t, _typed(spark, [
        ("update", {"id": 1, "amount": "1"}, {"id": 1, "amount": "9"}, 200),
        ("insert", None, {"id": 2, "amount": "2"}, 200),
    ]), s)
    rows = {r["id"]: r["amount"] for r in read_current_state(t, s).collect()}
    assert rows == {1: "9", 2: "2"}


def test_collapsing_append_and_view(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    s = spec(Engine.COLLAPSING_MERGE_TREE)
    # one batch per change: a batch folds each pk to at most one cancel
    # and one state row, so the sign history builds up across batches
    for events in ([("insert", None, {"id": 1, "amount": "1"}, 100),
                    ("insert", None, {"id": 2, "amount": "2"}, 100)],
                   [("update", {"id": 1, "amount": "1"},
                     {"id": 1, "amount": "5"}, 200)],
                   [("delete", {"id": 2, "amount": "2"}, None, 300)]):
        apply_cdc_batch(t, _typed(spark, events), s)
    # physical storage is append-only: 1 + 2(update) + 1 + 1 = 5 signed rows
    assert t.read().count() == 5
    rows = {r["id"]: r["amount"] for r in read_current_state(t, s).collect()}
    assert rows == {1: "5"}


PART_VALUE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("amount", T.StringType()),
        T.StructField("day", T.StringType()),
    ]
)


def _typed_part(spark, rows):
    return parse_values(split_updates(_raw(spark, rows)), PART_VALUE_SCHEMA)


def _part_spec():
    return TableSpec(
        schema="db", table="sync_test", pk=("id",),
        engine=Engine.MERGE_TREE, partition_by="day",
    )


def _part_files(t, part):
    """Pool-relative files of the current version inside one partition.
    Pool files are immutable and never move, so path identity IS file
    identity (stronger than the old hard-link inode check)."""
    return sorted(r for r in t.snapshot().files
                  if r.startswith(f"day={part}/"))


def test_cow_merge_rewrites_only_touched_partitions(spark, tmp_path):
    """Partitioned merge: untouched partitions carry over with ZERO file
    operations (same pool files in the next version's manifest), touched
    partitions get fresh files, emptied partitions disappear, and a pk
    that moves partitions leaves no ghost behind."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    s = _part_spec()
    apply_cdc_batch(t, _typed_part(spark, [
        ("insert", None, {"id": 1, "amount": "1", "day": "a"}, 100),
        ("insert", None, {"id": 2, "amount": "2", "day": "b"}, 100),
        ("insert", None, {"id": 3, "amount": "3", "day": "c"}, 100),
        ("insert", None, {"id": 4, "amount": "4", "day": "d"}, 100),
    ]), s)
    v0 = t.current_version()
    a_before = _part_files(t, "a")
    # batch: update in b; pk 3 moves c -> a; pk 4's partition d emptied
    apply_cdc_batch(t, _typed_part(spark, [
        ("update", {"id": 2, "amount": "2", "day": "b"},
         {"id": 2, "amount": "9", "day": "b"}, 200),
        ("update", {"id": 3, "amount": "3", "day": "c"},
         {"id": 3, "amount": "3", "day": "a"}, 200),
        ("delete", {"id": 4, "amount": "4", "day": "d"}, None, 200),
    ]), s)
    rows = {r["id"]: (r["amount"], r["day"])
            for r in read_current_state(t, s).collect()}
    assert rows == {1: ("1", "a"), 2: ("9", "b"), 3: ("3", "a")}
    assert t.current_version() == v0 + 1
    # a was touched (pk 3 moved in): fresh file(s) written; pk 1's file
    # holds no batch key so file-level pruning carries it through
    a_after = _part_files(t, "a")
    assert set(a_after) - set(a_before)  # new data file present
    # d emptied by the delete -> gone from the manifest
    assert not _part_files(t, "d")
    # an untouched partition in a wider table carries over identically:
    apply_cdc_batch(t, _typed_part(spark, [
        ("insert", None, {"id": 5, "amount": "5", "day": "b"}, 300),
    ]), s)
    assert _part_files(t, "a") == a_after  # same pool files, no ops


def test_cow_file_level_pruning(spark, tmp_path):
    """Within a touched partition, files whose pk footer range excludes
    every batch key are carried in the manifest untouched, and the one
    holding the key is masked, not rewritten; state stays exact."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    s = _part_spec()
    init = spark.createDataFrame(
        [(i, str(i), "a") for i in range(1, 101)], "id long, amount string, day string"
    )
    # 4 files with disjoint id ranges inside partition day=a
    t.overwrite(
        init.repartitionByRange(4, "id").sortWithinPartitions("id"), partition_by="day"
    )
    before = _part_files(t, "a")
    assert len(before) == 4
    # touch a single pk: only the file covering id=5 may be masked
    apply_cdc_batch(t, _typed_part(spark, [
        ("update", {"id": 5, "amount": "5", "day": "a"},
         {"id": 5, "amount": "x", "day": "a"}, 100),
    ]), s)
    after = _part_files(t, "a")
    shared = set(before) & set(after)
    assert len(shared) == 4  # no file rewritten: all carried through
    snap = t.snapshot()
    assert len([r for r in before if snap.dv(r)]) == 1  # three untouched
    assert len(after) == 5  # plus the batch's one new file
    got = {r["id"]: r["amount"] for r in read_current_state(t, s).collect()}
    assert got == {i: ("x" if i == 5 else str(i)) for i in range(1, 101)}


def test_cow_matches_full_rewrite_state(spark, tmp_path):
    """CoW merge and unpartitioned merge agree on final state."""
    cow = ParquetTable(spark, str(tmp_path / "cow"))
    flat = ParquetTable(spark, str(tmp_path / "flat"))
    s_cow = _part_spec()
    s_flat = TableSpec(schema="db", table="sync_test", pk=("id",),
                       engine=Engine.MERGE_TREE)
    batches = [
        [("insert", None, {"id": i, "amount": str(i), "day": "ab"[i % 2]}, 100)
         for i in range(1, 7)],
        [("delete", {"id": 2, "amount": "2", "day": "a"}, None, 200),
         ("update", {"id": 3, "amount": "3", "day": "b"},
          {"id": 3, "amount": "33", "day": "a"}, 200),
         ("insert", None, {"id": 7, "amount": "7", "day": "b"}, 200)],
    ]
    for b in batches:
        apply_cdc_batch(cow, _typed_part(spark, b), s_cow)
        apply_cdc_batch(flat, _typed_part(spark, b), s_flat)
    got = sorted(map(tuple, read_current_state(cow, s_cow).collect()))
    want = sorted(map(tuple, read_current_state(flat, s_flat)
                      .select("id", "amount", "day").collect()))
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_concurrent_commit_conflict(spark, tmp_path):
    """Optimistic concurrency: a writer whose base version was overtaken
    must fail loudly (no silent lost update) and leave the winner's
    committed state intact."""
    import pytest
    from synch_spark.sources.table import ConcurrentWriteError

    root = str(tmp_path / "t")
    a, b = ParquetTable(spark, root), ParquetTable(spark, root)
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    a.overwrite(df)  # v0
    # writer A read base 0 and prepares v1... but writer B commits v1 first
    b.overwrite(spark.createDataFrame([(3, "b-wins")], "id long, v string"))
    with pytest.raises(ConcurrentWriteError):
        a.overwrite(
            spark.createDataFrame([(2, "a-losing")], "id long, v string"),
            expected_base=0,
        )
    assert [r["v"] for r in a.read().collect()] == ["b-wins"]


def test_file_stats_reports_layout(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    assert t.file_stats()["files"] == 0
    df = spark.createDataFrame([(i, f"d{i%3}") for i in range(90)], "id long, day string")
    t.overwrite(df.repartition(4), partition_by="day")
    st = t.file_stats()
    assert st["partitions"] == 3
    assert st["files"] >= 3
    assert st["total_bytes"] > 0 and st["min_bytes"] <= st["median_bytes"] <= st["max_bytes"]


def test_time_travel_read_previous_version(spark, tmp_path):
    """read(version=) pins the retained previous version; older versions
    are GC'd and refuse loudly."""
    import pytest

    t = ParquetTable(spark, str(tmp_path / "t"))
    for i in range(3):  # v0, v1, v2
        t.overwrite(spark.createDataFrame([(i,)], "x long"))
    assert t.versions() == [1, 2]
    assert t.read().first()["x"] == 2
    assert t.read(version=1).first()["x"] == 1
    with pytest.raises(FileNotFoundError):
        t.read(version=0)  # GC'd


def test_commit_with_retry_remerges_against_winner(spark, tmp_path):
    """A losing writer wrapped in commit_with_retry re-reads the winner's
    version and lands BOTH writes (serializable outcome, no lost
    update). The competing commit is injected mid-transaction on the
    first attempt only."""
    from synch_spark.sources.table import commit_with_retry

    root = str(tmp_path / "t")
    a, b = ParquetTable(spark, root), ParquetTable(spark, root)
    a.overwrite(spark.createDataFrame([(1, "base")], "id long, v string"))
    attempts = []

    def txn():
        base = a.current_version()
        merged = a.read().unionByName(
            spark.createDataFrame([(2, "a")], "id long, v string")
        )
        attempts.append(1)
        if len(attempts) == 1:  # B overtakes A between A's read and commit
            b.overwrite(
                b.read().unionByName(
                    spark.createDataFrame([(3, "b")], "id long, v string")
                )
            )
        a.overwrite(merged, expected_base=base)

    commit_with_retry(txn, retries=3, backoff_s=0.01)
    assert len(attempts) == 2  # lost once, won on re-merge
    assert {(r["id"], r["v"]) for r in a.read().collect()} == {
        (1, "base"),
        (2, "a"),
        (3, "b"),
    }


def test_commit_with_retry_exhaustion_raises(spark, tmp_path):
    """When every attempt loses, the final ConcurrentWriteError
    propagates — no silent success."""
    import pytest
    from synch_spark.sources.table import ConcurrentWriteError, commit_with_retry

    root = str(tmp_path / "t")
    a, b = ParquetTable(spark, root), ParquetTable(spark, root)
    a.overwrite(spark.createDataFrame([(1, "base")], "id long, v string"))

    def always_loses():
        base = a.current_version()
        merged = a.read()
        b.overwrite(b.read())  # every attempt gets overtaken
        a.overwrite(merged, expected_base=base)

    with pytest.raises(ConcurrentWriteError):
        commit_with_retry(always_loses, retries=2, backoff_s=0.01)


def test_file_key_range_refuses_string_stats(spark, tmp_path):
    """String min/max may be truncated by parquet writers — pruning must
    refuse them (return None) and keep the file a rewrite candidate."""
    from synch_spark.sources.table import file_key_range
    import os

    p = str(tmp_path / "s")
    spark.createDataFrame(
        [("k" * 100, 1), ("z" * 100, 2)], "skey string, ikey long"
    ).coalesce(1).write.parquet(p)
    f = next(
        os.path.join(p, n) for n in os.listdir(p) if n.endswith(".parquet")
    )
    assert file_key_range(f, "skey") is None  # no pruning on strings
    assert file_key_range(f, "ikey") == (1, 2)  # exact numeric stats


def test_cow_null_partition_value(spark, tmp_path):
    """Rows with a NULL partition value live in the Hive default
    partition; the CoW merge must touch and rewrite it like any other."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    s = _part_spec()
    apply_cdc_batch(t, _typed_part(spark, [
        ("insert", None, {"id": 1, "amount": "1", "day": None}, 100),
        ("insert", None, {"id": 2, "amount": "2", "day": "b"}, 100),
    ]), s)
    apply_cdc_batch(t, _typed_part(spark, [
        ("update", {"id": 1, "amount": "1", "day": None},
         {"id": 1, "amount": "9", "day": None}, 200),
    ]), s)
    rows = {r["id"]: (r["amount"], r["day"])
            for r in read_current_state(t, s).collect()}
    assert rows == {1: ("9", None), 2: ("2", "b")}
    # untouched partition b survived as links; null partition rewritten
    apply_cdc_batch(t, _typed_part(spark, [
        ("delete", {"id": 1, "amount": "9", "day": None}, None, 300),
    ]), s)
    rows = {r["id"]: r["amount"] for r in read_current_state(t, s).collect()}
    assert rows == {2: "2"}


def test_no_pk_appends_inserts_only(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    s = TableSpec(schema="db", table="sync_test", pk=(), engine=Engine.MERGE_TREE)
    apply_cdc_batch(t, _typed(spark, [
        ("insert", None, {"id": 1, "amount": "1"}, 100),
        ("delete", {"id": 1, "amount": "1"}, None, 200),
    ]), s)
    assert t.read().count() == 1  # delete skipped without a pk


def test_concurrent_writers_threaded_stress(spark, tmp_path):
    """Four writer threads racing disjoint upserts through
    commit_with_retry: every write must land exactly once (serializable
    history — version count == number of commits + initial, final state
    == union of all writers' rows)."""
    import threading

    from pyspark.sql import functions as F

    from synch_spark.sources.table import ParquetTable, commit_with_retry

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(10).select(F.col("id").alias("k"),
                                       F.lit("base").alias("who")))
    errors = []

    def writer(wid: int):
        try:
            def txn():
                base_v = t.current_version()
                cur = t.read()
                mine = spark.range(100 + wid * 10, 110 + wid * 10).select(
                    F.col("id").alias("k"), F.lit(f"w{wid}").alias("who")
                )
                merged = cur.join(mine, "k", "left_anti").unionByName(mine)
                t.overwrite(merged, expected_base=base_v)

            commit_with_retry(txn, retries=20, backoff_s=0.02)
        except Exception as e:  # noqa: BLE001
            errors.append((wid, e))

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    rows = {r["k"]: r["who"] for r in t.read().collect()}
    assert len(rows) == 10 + 40
    for wid in range(4):
        assert all(rows[k] == f"w{wid}" for k in range(100 + wid * 10, 110 + wid * 10))


def test_apply_record_rides_in_the_commit_it_makes(spark, tmp_path):
    """``info`` lands in whichever commit the apply makes — bootstrap
    overwrite, merge, collapsing append — and history() reports it; an
    apply that commits nothing (deletes of absent keys, a replayed
    append) leaves no record and no version."""
    t = ParquetTable(spark, str(tmp_path / "r"))
    rec = {"alias": "a", "batch": 0, "num": 2, "type": 2}
    apply_cdc_batch(t, _typed(spark, [
        ("insert", None, {"id": 1, "amount": "1"}, 1),
        ("insert", None, {"id": 2, "amount": "2"}, 2)]), spec(), info=rec)
    apply_cdc_batch(t, _typed(spark, [
        ("update", {"id": 1, "amount": "1"}, {"id": 1, "amount": "9"}, 3)]),
        spec(), info={**rec, "batch": 1, "num": 1})
    apply_cdc_batch(t, _typed(spark, [
        ("delete", {"id": 7, "amount": "7"}, None, 4)]),
        spec(), info={**rec, "batch": 2, "num": 1})
    hist = t.history()
    assert [(h["op"], h["info"]["batch"]) for h in hist] == [
        ("overwrite", 0), ("merge", 1)]
    assert hist[-1]["info"] == {**rec, "batch": 1, "num": 1}

    c = ParquetTable(spark, str(tmp_path / "c"))
    ins = _typed(spark, [("insert", None, {"id": 1, "amount": "1"}, 1)])
    for b in (0, 1):
        apply_cdc_batch(c, ins, spec(Engine.COLLAPSING_MERGE_TREE),
                        epoch=f"e{b}", info={**rec, "batch": b, "num": 1})
    apply_cdc_batch(c, ins, spec(Engine.COLLAPSING_MERGE_TREE),
                    epoch="e1", info={**rec, "batch": 9, "num": 1})
    assert [(h["op"], h["info"]["batch"]) for h in c.history()] == [
        ("overwrite", 0), ("append", 1)]


#: Spark jobs of one merge micro-batch on a Replacing table with a
#: version column (bootstrap excluded), by the caller's count of the
#: batch (None: the apply counts it, two jobs under AQE), measured once
#: the batch's row rules ran on one Arrow collect (6 with Spark windows,
#: 8 before the merge took the table's schema from the log): the count,
#: that collect, the locate semi-join (2) and the commit write. Lower
#: them when the merge loses a job; never raise them.
MERGE_JOB_BUDGET = {None: 6, 4: 4}
#: The same for a Collapsing batch: the count, the Arrow collect and the
#: append's write.
COLLAPSING_JOB_BUDGET = {None: 4, 4: 2}


def test_replacing_merge_job_budget(spark, tmp_path):
    vspec = TableSpec(schema="db", table="t", pk=("k",),
                      engine=Engine.REPLACING_MERGE_TREE)
    cols = ["k", "version", "v"]
    ddl = ("action string, k long, version long, v string, "
           "event_unixtime long, action_seq int")
    for num, budget in MERGE_JOB_BUDGET.items():
        t = ParquetTable(spark, str(tmp_path / f"t{num}"))
        apply_cdc_batch(t, spark.createDataFrame(
            [("insert", k, 5, "a", 1, 2) for k in range(20)], ddl), vspec,
            value_columns=cols)
        # an upsert that wins, a stale one (dropped by its stored
        # version), a delete and a new key
        ev = spark.createDataFrame([
            ("insert", 3, 9, "b", 10, 2), ("insert", 4, 1, "stale", 10, 2),
            ("delete", 5, 5, "a", 10, 1), ("insert", 100, 1, "new", 10, 2)],
            ddl)
        with spark_jobs(spark) as jobs:
            apply_cdc_batch(t, ev, vspec, value_columns=cols, num=num)
        assert 0 < len(jobs) <= budget, num
        got = {r["k"]: (r["version"], r["v"]) for r in t.read().collect()}
        assert got[3] == (9, "b") and got[4] == (5, "a") and 5 not in got
        assert got[100] == (1, "new") and len(got) == 20


def test_collapsing_apply_job_budget(spark, tmp_path):
    s = spec(Engine.COLLAPSING_MERGE_TREE)
    ev = _typed(spark, [
        ("update", {"id": 1, "amount": "a"}, {"id": 1, "amount": "b"}, 10),
        ("update", {"id": 1, "amount": "b"}, {"id": 1, "amount": "c"}, 20),
        ("delete", {"id": 2, "amount": "a"}, None, 10),
        ("insert", None, {"id": 50, "amount": "n"}, 10)])
    for num, budget in COLLAPSING_JOB_BUDGET.items():
        c = ParquetTable(spark, str(tmp_path / f"c{num}"))
        apply_cdc_batch(c, _typed(spark, [
            ("insert", None, {"id": k, "amount": "a"}, 1)
            for k in range(10)]), s)
        with spark_jobs(spark) as jobs:
            apply_cdc_batch(c, ev, s, num=num)
        assert 0 < len(jobs) <= budget, num
        # pk 1 folds to its first cancel and its last state
        assert c.read().count() == 10 + 2 + 1 + 1
        got = read_current_state(c, s).collect()
        assert {r["id"]: r["amount"] for r in got} == {
            **{k: "a" for k in range(10) if k != 2}, 1: "c", 50: "n"}


#: Spark jobs of one DDL-free micro-batch through ``CdcPipeline`` on two
#: existing tables, one Replacing and one Collapsing, measured once each
#: table's row rules ran on one Arrow collect instead of Spark windows
#: (11 before; 14 and 6 before one aggregate over the persisted batch
#: replaced the dead-letter probe, the DDL collect and the per-table
#: counts). The jobs before the first table's apply are that aggregate's
#: alone. Lower them when the batch loses a job; never raise them.
BATCH_JOB_BUDGET = 9
PROLOGUE_JOB_BUDGET = 3


def test_micro_batch_job_budget(spark, tmp_path, monkeypatch):
    from synch_spark.config import SyncConfig
    from synch_spark.streaming import pipeline as pipeline_mod
    from synch_spark.streaming.pipeline import CdcPipeline

    cfg = SyncConfig()
    cfg.add_table(TableSpec(schema="db", table="r", pk=("id",),
                            engine=Engine.REPLACING_MERGE_TREE))
    cfg.add_table(TableSpec(schema="db", table="c", pk=("id",),
                            engine=Engine.COLLAPSING_MERGE_TREE))
    pipe = CdcPipeline(spark=spark, cfg=cfg, warehouse=str(tmp_path / "wh"),
                       checkpoint_dir=str(tmp_path / "ckpt"),
                       value_schemas={"db.r": VALUE_SCHEMA,
                                      "db.c": VALUE_SCHEMA})

    def batch(rows):
        return spark.createDataFrame([
            ("db", tbl, a, json.dumps(b) if b else None,
             json.dumps(af) if af else None, us)
            for tbl, a, b, af, us in rows], RAW_EVENT_SCHEMA)

    def row(k, v):
        return {"id": k, "amount": v}

    pipe.apply_batch(batch(
        [(t, "insert", None, row(k, "a"), 1) for t in ("r", "c")
         for k in range(10)]), 0)
    ev = batch([(t, a, b, af, 10) for t in ("r", "c") for a, b, af in (
        ("update", row(1, "a"), row(1, "b")), ("delete", row(2, "a"), None),
        ("insert", None, row(50, "n")))])
    before_apply = []

    def first_apply(*args, **kwargs):
        if not before_apply:
            sc = spark.sparkContext
            before_apply.append(len(sc.statusTracker().getJobIdsForGroup(
                sc.getLocalProperty("spark.jobGroup.id"))))
        return apply_cdc_batch(*args, **kwargs)

    monkeypatch.setattr(pipeline_mod, "apply_cdc_batch", first_apply)
    with spark_jobs(spark) as jobs:
        pipe.apply_batch(ev, 1)
    assert 0 < before_apply[0] <= PROLOGUE_JOB_BUDGET
    assert before_apply[0] < len(jobs) <= BATCH_JOB_BUDGET
    for t in ("r", "c"):
        got = read_current_state(
            ParquetTable(spark, str(tmp_path / "wh" / "db" / t)),
            cfg.tables[f"db.{t}"]).collect()
        assert {r["id"]: r["amount"] for r in got} == {
            **{k: "a" for k in range(10) if k != 2}, 1: "b", 50: "n"}


def test_merge_reads_only_the_dvs_of_the_files_it_touches(spark, tmp_path,
                                                          monkeypatch):
    from synch_spark.sources import dv

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame(
        [(k, str(k)) for k in range(30)], "id long, amount string")
        .repartitionByRange(3, "id"), key="id")
    assert len(t.snapshot().files) == 3
    # one masked row in each of the three files
    apply_cdc_batch(t, _typed(spark, [
        ("delete", {"id": k, "amount": str(k)}, None, 1) for k in (1, 11, 21)
    ]), spec())
    snap = t.snapshot()
    assert all(snap.dv(r) for r in snap.files)
    (touched,) = [r for r in snap.files if snap.files[r]["id"][0] <= 12
                  <= snap.files[r]["id"][1]]
    reads = []
    real = dv.read
    monkeypatch.setattr(dv, "read",
                        lambda p: reads.append(p) or real(p))
    apply_cdc_batch(t, _typed(spark, [
        ("update", {"id": 12, "amount": "12"}, {"id": 12, "amount": "x"}, 2),
    ]), spec())
    assert reads == [t._abs(snap.dv(touched))]
    assert t.read().count() == 27
