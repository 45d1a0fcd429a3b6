"""Metadata-only DDL evolution (sources.schema_evolution).

The round-1 engine rewrote the whole table on every ALTER; these tests
pin the upgraded contract: ADD/RENAME/DROP/widening-MODIFY commit a new
version of hard links + a schema document — same inodes, zero data
rewritten — and reads reconcile heterogeneous files exactly (including
the gen-exact DEFAULT semantics). Narrowing/collision cases must demand
a rewrite instead of silently corrupting reads.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from synch_spark.config import Engine, TableSpec
from synch_spark.ddl import apply_alter, parse_alter
from synch_spark.operators.cdc_apply import apply_cdc_batch, compact_table
from synch_spark.sources.schema_evolution import (
    TableSchema,
    evolve_schema,
    is_widening,
)
from synch_spark.sources.table import ParquetTable


def _inodes(t):
    """{pool-relative path: inode} of the current version's data files.
    Pool files are immutable and never move — a metadata-only commit
    must leave BOTH the path set and the inodes identical (zero file
    operations, not even links)."""
    return {rel: os.stat(t._abs(rel)).st_ino for rel in t.snapshot().files}


def _mk_table(spark, path, partitioned=False, key=None):
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i), "a" if i % 2 else "b") for i in range(100)],
        "id long, name string, v double, p string",
    )
    t = ParquetTable(spark, str(path))
    if partitioned:
        t.overwrite(df.repartition(3), "p", key=key)
    else:
        t.overwrite(df.repartition(3), key=key)
    return t


# ---------------------------------------------------------------- unit: evolve
def test_evolve_add_drop_rename_widen_are_metadata_only(spark):
    from pyspark.sql.types import StructType

    ts = TableSchema.from_struct(StructType.fromDDL("id bigint, name string, v int"))
    ops = parse_alter(
        "alter table db.t add column c1 varchar(16) default 'x', "
        "modify column v bigint"
    )
    ts2, reasons = evolve_schema(ts, ops)
    assert reasons == []
    assert ts2.gen == 1
    by = {c.name: c for c in ts2.columns}
    assert by["c1"].default == "x" and by["c1"].since_gen == 1
    assert by["v"].type == "bigint"

    ts3, reasons = evolve_schema(ts2, parse_alter("alter table db.t change name title varchar(32)"))
    assert reasons == []
    assert {c.name: c.physical for c in ts3.columns}["title"] == ["title", "name"]


def test_evolve_narrowing_and_collisions_demand_rewrite(spark):
    from pyspark.sql.types import StructType

    ts = TableSchema.from_struct(StructType.fromDDL("id bigint, v bigint, s string"))
    # narrowing
    _, reasons = evolve_schema(ts, parse_alter("alter table db.t modify column v int"))
    assert reasons
    # cross-family
    _, reasons = evolve_schema(ts, parse_alter("alter table db.t modify column v varchar(8)"))
    assert reasons
    # drop then re-add the same name: old files would resurface stale values
    ts2, reasons = evolve_schema(ts, parse_alter("alter table db.t drop column s"))
    assert reasons == [] and "s" in ts2.retired
    _, reasons = evolve_schema(ts2, parse_alter("alter table db.t add column s varchar(8)"))
    assert reasons
    # rename onto a live physical name
    _, reasons = evolve_schema(ts, parse_alter("alter table db.t change v id bigint"))
    assert reasons


def test_is_widening_table():
    assert is_widening("int", "bigint")
    assert is_widening("tinyint", "int")
    assert is_widening("float", "double")
    assert is_widening("decimal(5,2)", "decimal(12,2)")
    assert not is_widening("bigint", "int")
    assert not is_widening("decimal(5,2)", "decimal(12,4)")
    assert not is_widening("double", "float")
    assert not is_widening("int", "string")


# ------------------------------------------------- table-level metadata commit
def test_add_rename_drop_leave_inodes_untouched(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "t", partitioned=True)
    before = _inodes(t)
    assert len(before) >= 6  # 3 repartitions x 2 partitions

    ts = TableSchema.from_struct(t.read().schema)
    ops = parse_alter(
        "alter table db.t add column tag varchar(8), "
        "change column name title varchar(32), "
        "drop column v"
    )
    evolved, reasons = evolve_schema(ts, ops)
    assert reasons == []
    t.commit_schema(evolved)

    after = _inodes(t)
    assert before == after, "metadata-only DDL must hard-link every data file"

    df = t.read()
    assert df.columns == ["id", "title", "p", "tag"]
    rows = {r["id"]: r for r in df.collect()}
    assert rows[7]["title"] == "n7" and rows[7]["tag"] is None
    assert len(rows) == 100


def test_widening_modify_is_metadata_only(spark, tmp_path):
    df = spark.createDataFrame([(1, 2), (3, 4)], "id int, v int")
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(df)
    before = _inodes(t)
    ts, reasons = evolve_schema(
        TableSchema.from_struct(t.read().schema),
        parse_alter("alter table db.t modify column v bigint"),
    )
    assert reasons == []
    t.commit_schema(ts)
    assert _inodes(t) == before
    assert dict(t.read().dtypes)["v"] == "bigint"
    assert {r["v"] for r in t.read().collect()} == {2, 4}


def test_add_default_is_gen_exact(spark, tmp_path):
    """Rows predating the ADD read the default; an explicit NULL written
    AFTER the DDL stays NULL (the coalesce shortcut would corrupt it)."""
    t = _mk_table(spark, tmp_path / "t")
    ts, reasons = evolve_schema(
        TableSchema.from_struct(t.read().schema),
        parse_alter("alter table db.t add column status varchar(8) default 'new'"),
    )
    assert reasons == []
    t.commit_schema(ts)
    # post-DDL rows: one explicit NULL, one explicit value
    t.append(
        spark.createDataFrame(
            [(1000, "x", 0.0, "a", None), (1001, "y", 0.0, "a", "done")],
            "id long, name string, v double, p string, status string",
        )
    )
    rows = {r["id"]: r["status"] for r in t.read().collect()}
    assert rows[5] == "new"  # pre-DDL row materializes the default
    assert rows[1000] is None  # post-DDL explicit NULL survives
    assert rows[1001] == "done"


def test_time_travel_uses_each_versions_schema(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "t")
    v0 = t.current_version()
    ts, _ = evolve_schema(
        TableSchema.from_struct(t.read().schema),
        parse_alter("alter table db.t change column name title varchar(32)"),
    )
    t.commit_schema(ts)
    assert "title" in t.read().columns
    assert "name" in t.read(version=v0).columns  # old version, old schema


def test_merge_after_rename_reconciles_old_files(spark, tmp_path):
    """CDC merge into a table whose files predate a rename: the pruned
    CoW path reads candidate files through the schema document, and the
    final state mixes old (linked) and new (rewritten) files correctly."""
    spec = TableSpec(schema="db", table="t", pk=("id",),
                     engine=Engine.REPLACING_MERGE_TREE, partition_by="p")
    t = _mk_table(spark, tmp_path / "t", partitioned=True)
    ts, reasons = evolve_schema(
        TableSchema.from_struct(t.read().schema),
        parse_alter("alter table db.t change column name title varchar(32)"),
    )
    assert reasons == []
    t.commit_schema(ts)

    batch = spark.createDataFrame(
        [("insert", 7, "updated7", 7.5, "a", 10), ("delete", 8, None, None, "b", 11)],
        "action string, id long, title string, v double, p string, event_unixtime long",
    ).withColumn("action_seq", F.lit(0)).withColumn("schema", F.lit("db")) \
     .withColumn("table", F.lit("t"))
    apply_cdc_batch(t, batch, spec, value_columns=["id", "title", "v", "p"])

    rows = {r["id"]: r for r in t.read().collect()}
    assert rows[7]["title"] == "updated7" and rows[7]["v"] == 7.5
    assert 8 not in rows
    assert rows[9]["title"] == "n9"  # untouched pre-rename row reconciled
    assert len(rows) == 99


def test_append_and_cow_carry_schema_doc_forward(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "t")
    ts, _ = evolve_schema(
        TableSchema.from_struct(t.read().schema),
        parse_alter("alter table db.t change column name title varchar(32)"),
    )
    t.commit_schema(ts)
    t.append(spark.createDataFrame(
        [(500, "late", 1.0, "a")], "id long, title string, v double, p string"))
    assert t.schema_spec() is not None
    rows = {r["id"]: r["title"] for r in t.read().collect()}
    assert rows[500] == "late" and rows[3] == "n3"


def test_compact_materializes_logical_schema(spark, tmp_path):
    spec = TableSpec(schema="db", table="t", pk=("id",),
                     engine=Engine.REPLACING_MERGE_TREE)
    t = _mk_table(spark, tmp_path / "t")
    ts, _ = evolve_schema(
        TableSchema.from_struct(t.read().schema),
        parse_alter("alter table db.t change column name title varchar(32)"),
    )
    t.commit_schema(ts)
    compact_table(t, spec)
    assert t.schema_spec() is None, "full rewrite resets to trivial physical schema"
    assert "title" in t.read().columns
    assert t.read().count() == 100


def test_rewrite_path_still_correct_for_narrowing(spark, tmp_path):
    """The fallback (overwrite + apply_alter) stays available and exact."""
    t = _mk_table(spark, tmp_path / "t")
    ops = parse_alter("alter table db.t modify column id int")
    _, reasons = evolve_schema(TableSchema.from_struct(t.read().schema), ops)
    assert reasons
    t.overwrite(apply_alter(t.read(), ops))
    assert dict(t.read().dtypes)["id"] == "int"
    assert t.schema_spec() is None


def test_rename_roundtrip_dedupes_lineage(spark, tmp_path):
    """rename a->b then b->a must not produce a duplicate physical name
    in the read schema ([a, b, a]); files from every generation still
    reconcile."""
    t = _mk_table(spark, tmp_path / "t")
    ts0 = TableSchema.from_struct(t.read().schema)
    ts1, r1 = evolve_schema(ts0, parse_alter("alter table db.t change name title varchar(32)"))
    assert r1 == []
    t.commit_schema(ts1)
    # a file written under the intermediate name
    t.append(spark.createDataFrame(
        [(600, "mid", 0.0, "a")], "id long, title string, v double, p string"))
    ts2, r2 = evolve_schema(ts1, parse_alter("alter table db.t change title name varchar(32)"))
    assert r2 == []
    by = {c.name: c for c in ts2.columns}
    assert by["name"].physical == ["name", "title"], "lineage must dedupe"
    t.commit_schema(ts2)
    rows = {r["id"]: r["name"] for r in t.read().collect()}
    assert rows[3] == "n3"      # original-generation file
    assert rows[600] == "mid"   # intermediate-generation file
    assert len(rows) == 101


def test_point_lookup_after_metadata_rename(spark, tmp_path):
    """Stats+bloom pruned point lookups must reconcile pre-rename files
    (the raw candidate read would surface physical names and fail)."""
    from synch_spark.sources import bloom

    t = _mk_table(spark, tmp_path / "t", key="id")
    assert all(bloom.load_bloom(t._abs(r), "id") is not None
               for r in t.snapshot().files)
    ts, reasons = evolve_schema(
        TableSchema.from_struct(t.read().schema),
        parse_alter("alter table db.t change column name title varchar(32)"),
    )
    assert reasons == []
    t.commit_schema(ts)
    got = bloom.point_lookup(t, "id", [7, 13]).collect()
    assert {r["id"]: r["title"] for r in got} == {7: "n7", 13: "n13"}


def test_bare_add_column_is_visible_after_metadata_commit(spark, tmp_path):
    """Regression (property-test catch): an ADD with no default looks
    'plain' (physical == [name], no default) but pre-DDL files lack the
    column — the schema doc must persist or the column vanishes."""
    t = _mk_table(spark, tmp_path / "t")
    ts, reasons = evolve_schema(
        TableSchema.from_struct(t.read().schema),
        parse_alter("alter table db.t add column extra varchar(8)"),
    )
    assert reasons == []
    t.commit_schema(ts)
    assert t.schema_spec() is not None, "evolved doc must persist"
    df = t.read()
    assert "extra" in df.columns
    assert df.filter(F.col("extra").isNull()).count() == 100


def test_schema_commit_races_data_commit(spark, tmp_path):
    """A metadata-only DDL commit bumps the version like any write: a
    data writer that prepared against the pre-DDL base must lose with
    ConcurrentWriteError, and its commit_with_retry re-merge must see
    the evolved schema."""
    from synch_spark.sources.table import ConcurrentWriteError, commit_with_retry

    t = _mk_table(spark, tmp_path / "t")
    base_v = t.current_version()
    ts, _ = evolve_schema(
        TableSchema.from_struct(t.read().schema),
        parse_alter("alter table db.t change column name title varchar(32)"),
    )
    t.commit_schema(ts)  # wins the race

    with pytest.raises(ConcurrentWriteError):
        t.overwrite(t.read().limit(1), expected_base=base_v)

    seen_cols = []

    def txn():
        v = t.current_version()
        cur = t.read()
        seen_cols.append(list(cur.columns))
        t.overwrite(cur.filter(F.col("id") < 50), expected_base=v)

    commit_with_retry(txn)
    assert "title" in seen_cols[-1], "retry must merge against the evolved schema"
    assert t.read().count() == 50
