"""A version's columns come from its log entry, never from the files.

Every full write records its schema (``sschema``) and a metadata-only
DDL records a schema document; ``ParquetTable.schema(v)`` returns that
record and ``read(v)`` declares it to the parquet reader, so the two
agree at every version and planning a read runs no Spark job. Spark's
own inference would read a partition column's type off the directory
names (``p=3`` -> int) instead of the type it was written in.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F, types as T

from conftest import spark_jobs
from synch_spark.config import SyncConfig, TableSpec
from synch_spark.ddl import apply_alter, parse_alter
from synch_spark.events import RAW_EVENT_SCHEMA
from synch_spark.operators.cdc_apply import apply_cdc_batch
from synch_spark.sources.schema_evolution import TableSchema, evolve_schema
from synch_spark.sources.table import ParquetTable
from synch_spark.streaming.pipeline import CdcPipeline

BIG = 3_000_000_000  # a bigint partition value that no int holds


def test_read_schema_is_the_recorded_schema(spark, tmp_path):
    """With files, at 0 files and after a metadata-only DDL: one answer,
    the partition column last in its written type, every field
    nullable."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, 3, "a"), (2, 4, "b")],
                                      "k long, p long, v string"), "p", key="k")
    want = T.StructType([T.StructField("k", T.LongType()),
                         T.StructField("v", T.StringType()),
                         T.StructField("p", T.LongType())])
    assert t.read().schema == want
    assert t.schema() == want

    t.overwrite(spark.createDataFrame([], "k long not null, p long, v string"),
                "p")
    assert t.snapshot().files == {}
    assert t.read().schema == want
    assert t.schema() == want

    ts, reasons = evolve_schema(TableSchema.from_struct(t.schema()),
                                parse_alter("alter table db.t add column c int"))
    assert not reasons
    t.commit_schema(ts)
    want = T.StructType([*want.fields, T.StructField("c", T.IntegerType())])
    assert t.read().schema == want
    assert t.schema() == want
    for v in t.versions():
        assert t.schema(v) == t.read(v).schema


def test_planning_a_read_runs_no_job(spark, tmp_path):
    """The DV mask's broadcast is the only job a read adds: 1 job to
    collect an unmasked table, 2 once a merge masked a row."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, 3, "a"), (2, 3, "b")],
                                      "k long, p long, v string").coalesce(1),
                "p", key="k")
    with spark_jobs(spark) as jobs:
        t.read()
    assert jobs == []
    with spark_jobs(spark) as jobs:
        t.schema()
    assert jobs == []
    with spark_jobs(spark) as jobs:
        assert len(t.read().collect()) == 2
    assert len(jobs) == 1

    spec = TableSpec(schema="db", table="t", pk=("k",), partition_by="p")
    apply_cdc_batch(t, spark.createDataFrame(
        [("delete", 1, 3, "a", 10, 1)],
        "action string, k long, p long, v string, event_unixtime long, "
        "action_seq int"), spec, value_columns=["k", "p", "v"])
    assert any(t.snapshot().dv(r) for r in t.snapshot().files)
    with spark_jobs(spark) as jobs:
        assert t.read().collect() == [(2, "b", 3)]
    assert len(jobs) == 2


def test_changes_across_a_narrowing_rewrite(spark, tmp_path):
    """A DDL rewrite that narrows a column: v_to records the narrow
    type, the removed files hold the wide one. The old side reads under
    v_from's schema, so the feed compares values, not physical types."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, 10), (2, 20)], "k long, q long"),
                key="k")
    t.overwrite(apply_alter(t.read(), parse_alter(
        "alter table db.t modify column q int")), key="k")
    assert dict(t.read().dtypes)["q"] == "int"
    assert t.changes(0, 1).collect() == []
    assert t.changes(0, 1, pk="k").collect() == []


def _pipeline(spark, tmp_path):
    cfg = SyncConfig()
    cfg.add_table(TableSpec(schema="db", table="t", pk=("k",),
                            partition_by="p"))
    return CdcPipeline(
        spark=spark, cfg=cfg, warehouse=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        value_schemas={"db.t": T.StructType([
            T.StructField("k", T.LongType()), T.StructField("p", T.LongType()),
            T.StructField("v", T.StringType())])})


def _insert(spark, pipe, epoch, k, p):
    after = json.dumps({"k": k, "p": p, "v": str(k)})
    pipe.apply_batch(spark.createDataFrame(
        [("db", "t", "insert", None, after, 100 + epoch)], RAW_EVENT_SCHEMA),
        epoch)


def _stored(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "wh" / "db" / "t"))
    return sorted((r["k"], r["p"]) for r in t.read().collect())


def test_restarted_consumer_keeps_a_bigint_partition_value(spark, tmp_path):
    """After a restart the value schema comes back from the table: its
    ``p`` must be the bigint it was written as, or 3e9 parses to NULL."""
    _insert(spark, _pipeline(spark, tmp_path), 1, 1, 3)
    _insert(spark, _pipeline(spark, tmp_path), 2, 2, BIG)  # the restart
    assert _stored(spark, tmp_path) == [(1, 3), (2, BIG)]


def test_metadata_ddl_keeps_the_partition_type(spark, tmp_path):
    """A metadata-only ADD COLUMN seeds the schema document from the
    recorded schema; an ``int`` partition type read off the directory
    names would fail every later read once ``p=3000000000`` lands."""
    pipe = _pipeline(spark, tmp_path)
    _insert(spark, pipe, 1, 1, 3)
    pipe.apply_batch(spark.createDataFrame([(
        "db", "t", "query", None,
        json.dumps({"query": "ALTER TABLE db.t ADD COLUMN c int"}), 102)],
        RAW_EVENT_SCHEMA), 2)
    t = ParquetTable(spark, str(tmp_path / "wh" / "db" / "t"))
    assert t.schema_spec() is not None  # metadata-only: a schema document
    _insert(spark, pipe, 3, 2, BIG)
    assert _stored(spark, tmp_path) == [(1, 3), (2, BIG)]
    assert t.read().schema == t.schema()
    assert t.read().filter(F.col("p") == BIG).count() == 1
