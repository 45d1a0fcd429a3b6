"""Per-file stats in the manifest log (sources.manifest): written by the
commit that adds the file, one snapshot replay per merge instead of an
O(files) footer storm; entries ride with their immutable pool file
across versions for free."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from synch_spark.config import Engine, TableSpec
from synch_spark.operators.cdc_apply import apply_cdc_batch
from synch_spark.sources import bloom
from synch_spark.sources import table as table_mod
from synch_spark.sources.manifest import load_manifest
from synch_spark.sources.table import ParquetTable


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "action string, k long, p string, v double, event_unixtime long"
    ).withColumn("action_seq", F.lit(0)).withColumn("schema", F.lit("db")) \
     .withColumn("table", F.lit("t"))


def _count_footer_reads(monkeypatch) -> list:
    calls: list = []
    real = table_mod.file_key_range
    monkeypatch.setattr(table_mod, "file_key_range",
                        lambda *a: calls.append(a) or real(*a))
    return calls


def test_refresh_reads_only_new_files(spark, tmp_path, monkeypatch):
    calls = _count_footer_reads(monkeypatch)
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(100).select(F.col("id").alias("k"),
                                        (F.col("id") % 2).cast("string").alias("p"),
                                        F.lit(1.0).alias("v")).repartition(4),
                "p", key="k")
    n1 = len(calls)
    assert n1 >= 4  # every file footer-read once, at commit
    man = load_manifest(t, "k")
    assert man is not None and len(man) == n1
    for rng in man.values():
        assert rng is not None and rng[0] <= rng[1]

    # add one file: only it is read
    t.overwrite_cow_files(spark.createDataFrame(
        [(500, "0", 2.0)], "k long, p string, v double").coalesce(1), [],
        key="k", partition_by="p")
    assert len(calls) == n1 + 1
    assert len(load_manifest(t, "k")) == n1 + 1


def test_manifest_carries_across_cow_versions(spark, tmp_path, monkeypatch):
    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE, partition_by="p")
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame(
        [(k, "a" if k % 2 else "b", float(k)) for k in range(200)],
        "k long, p string, v double").repartition(4), "p", key="k")
    before = load_manifest(t, "k")
    calls = _count_footer_reads(monkeypatch)
    batch = _events(spark, [("insert", 3, "a", 99.0, 10)])
    apply_cdc_batch(t, batch, spec, value_columns=["k", "p", "v"])
    fresh = len(calls)
    after = load_manifest(t, "k")
    carried = set(before) & set(after)
    assert carried, "carried pool files must keep their stats entries"
    for rel in carried:
        assert before[rel] == after[rel]
    # only the merge's new files needed footer reads
    assert fresh == len(after) - len(carried)
    assert set(after) == set(t.snapshot().files)


@pytest.mark.slow
def test_classify_uses_manifest_same_result(spark, tmp_path):
    """Merge outcomes (content + carried-file set) are identical with
    and without commit-time stats; missing stats fall back to footers."""
    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE, partition_by="p")

    def run(root, with_manifest):
        t = ParquetTable(spark, str(root))
        evens = [(k, "a", float(k)) for k in range(0, 100, 2)]
        odds = [(k, "a", float(k)) for k in range(1, 100, 2)]
        key = "k" if with_manifest else None
        t.overwrite(spark.createDataFrame(evens, "k long, p string, v double")
                    .coalesce(1), "p", key=key)
        t.overwrite_cow_files(spark.createDataFrame(
            odds, "k long, p string, v double").coalesce(1), [], key=key,
            partition_by="p")
        batch = _events(spark, [("delete", 2, "a", 2.0, 11)])
        apply_cdc_batch(t, batch, spec, value_columns=["k", "p", "v"])
        files = sorted(r for r in t.snapshot().files if r.startswith("p=a/"))
        rows = {r["k"]: r["v"] for r in t.read().collect()}
        return rows, len(files)

    r1, n1 = run(tmp_path / "plain", with_manifest=False)
    r2, n2 = run(tmp_path / "man", with_manifest=True)
    assert r1 == r2
    assert 2 not in r1 and len(r1) == 99  # 50 evens + 50 odds - 1 delete
    assert n1 == n2


def test_manifest_wrong_column_ignored(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(10).select(F.col("id").alias("k")), key="k")
    assert load_manifest(t, "k")
    # a column no commit indexed has no entries: callers footer-fallback
    assert not load_manifest(t, "other")


def test_string_pk_manifest_records_null_ranges(spark, tmp_path):
    """String pks have no exact stats: the manifest records null — same
    conservative semantics as the footer path (bloom is the lever)."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(10).select(
        F.concat(F.lit("k"), F.col("id")).alias("k")), key="k")
    man = load_manifest(t, "k")
    assert man and all(v is None for v in man.values())


def test_stats_survive_checkpoint_rollover(spark, tmp_path):
    """Stats committed in an entry are carried into the next
    checkpoint entry (snapshot replay folds them forward) and survive
    log GC of the entry that first recorded them."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, 1.0)], "k long, v double"), key="k")
    first = load_manifest(t, "k")
    assert first
    from synch_spark.sources.table import CKPT_EVERY

    for i in range(CKPT_EVERY + 2):  # force a checkpoint commit + GC
        t.append(spark.createDataFrame([(100 + i, 2.0)], "k long, v double"))
    man = load_manifest(t, "k")
    for rel, rng in first.items():
        assert man.get(rel) == rng


def test_point_lookup_uses_manifest(spark, tmp_path):
    """prune_files consumes the manifest too: a manifest-backed lookup
    returns the same rows as the footer-backed one."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    df = spark.range(1000).select(F.col("id").alias("k"),
                                  (F.col("id") * 2).alias("v"))
    t.overwrite(df, cluster_by=("k",))
    assert not load_manifest(t, "k")
    no_man = {r["k"]: r["v"] for r in bloom.point_lookup(t, "k", [5, 500]).collect()}
    t.overwrite(df, cluster_by=("k",), key="k")
    assert load_manifest(t, "k")
    with_man = {r["k"]: r["v"] for r in bloom.point_lookup(t, "k", [5, 500]).collect()}
    assert no_man == with_man == {5: 10, 500: 1000}
