"""Per-file Bloom index: membership pruning beyond footer min/max."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from synch_spark.config import Engine, TableSpec
from synch_spark.operators.cdc_apply import apply_cdc_batch, compact_table
from synch_spark.sources import bloom
from synch_spark.sources.table import ParquetTable


@pytest.fixture(scope="module")
def spark():
    from synch_spark.session import get_spark

    return get_spark("test-bloom", cpus=8)


def _sidecars(t) -> set[str]:
    """Pool-relative paths of every bloom sidecar under ``data/``."""
    out = set()
    for d, _, names in os.walk(t._data):
        for n in names:
            if n.endswith(".bloom"):
                out.add(os.path.relpath(os.path.join(d, n), t._data))
    return out


def _rels(t, part=None):
    """Pool-relative data files of the current version (optionally one
    partition). Pool files are immutable and never move: path identity
    IS file identity across versions."""
    return sorted(
        r for r in t.snapshot().files
        if part is None or r.startswith(f"{part}/")
    )


def test_bloom_membership_no_false_negatives(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(1000).select(F.col("id").alias("k"),
                                         (F.col("id") * 2).alias("v")),
                key="k")
    assert _sidecars(t)
    hits = misses = 0
    for rel in _rels(t):
        bl = bloom.load_bloom(t._abs(rel), "k")
        assert bl is not None
        import pyarrow.parquet as pq

        present = pq.read_table(t._abs(rel), columns=["k"])
        present = present.column(0).to_pylist()
        # every present key must probe True (no false negatives)
        assert bloom.might_contain_any(bl, [present[0]])
        assert bloom.might_contain_any(bl, [present[-1]])
        # absent keys: mostly False (fpp ~1%; 50 probes, allow a few)
        for probe in range(5000, 5050):
            if bloom.might_contain_any(bl, [probe]):
                hits += 1
            else:
                misses += 1
    assert misses > hits * 5  # overwhelmingly pruned


def test_bloom_wrong_column_and_missing_sidecar(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t2"))
    t.overwrite(spark.range(10).select(F.col("id").alias("k")), key="k")
    assert bloom.load_bloom(t._abs("nonexistent.parquet"), "k") is None
    name = _rels(t)[0]
    assert bloom.load_bloom(t._abs(name), "k") is not None
    assert bloom.load_bloom(t._abs(name), "other_col") is None


def _events(spark, rows):
    # (action, k, part, v, us)
    return spark.createDataFrame(
        rows, "action string, k long, p string, v double, event_unixtime long"
    ).withColumn("action_seq", F.lit(0)).withColumn("schema", F.lit("db")) \
     .withColumn("table", F.lit("t"))


@pytest.mark.slow
def test_interleaved_files_pruned_by_bloom_not_minmax(spark, tmp_path):
    """Two files in one partition with fully OVERLAPPING key ranges
    (evens vs odds): min/max cannot prune either, but the bloom proves
    the odd file holds no touched (even) key — after the merge the odd
    file must be CARRIED in the manifest (same pool file) with no
    deletion vector, and the table content must be exactly the merged
    state."""
    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE, partition_by="p")
    t = ParquetTable(spark, str(tmp_path / "t3"))
    evens = [(k, "a", float(k)) for k in range(0, 200, 2)]
    odds = [(k, "a", float(k)) for k in range(1, 200, 2)]
    df_e = spark.createDataFrame(evens, "k long, p string, v double").coalesce(1)
    df_o = spark.createDataFrame(odds, "k long, p string, v double").coalesce(1)
    t.overwrite(df_e, "p", key="k")
    t.overwrite_cow_files(df_o, [], key="k", partition_by="p")  # add-only
    before = _rels(t, "p=a")
    assert len(before) == 2
    # touch two EVEN keys only
    batch = _events(spark, [("insert", 0, "a", 100.0, 10),
                            ("delete", 2, "a", 2.0, 11)])
    apply_cdc_batch(t, batch, spec, value_columns=["k", "p", "v"])
    after = _rels(t, "p=a")
    carried = set(before) & set(after)
    assert carried, "odd-keys file should be carried, not rewritten"
    snap = t.snapshot()
    assert sum(1 for r in before if snap.dv(r)) == 1, "odd file was masked"
    # and the merged content is right
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[0] == 100.0 and 2 not in got and got[3] == 3.0
    assert len(got) == 199  # 100 evens + 100 odds - 1 delete


def test_merge_without_blooms_unchanged(spark, tmp_path):
    """No sidecars: behavior identical to pure min/max classification."""
    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE, partition_by="p")
    t = ParquetTable(spark, str(tmp_path / "t4"))
    t.overwrite(spark.createDataFrame(
        [(k, "a", float(k)) for k in range(50)], "k long, p string, v double"
    ), "p")
    batch = _events(spark, [("insert", 7, "a", 70.0, 10)])
    apply_cdc_batch(t, batch, spec, value_columns=["k", "p", "v"])
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[7] == 70.0 and len(got) == 50


def test_compact_table_builds_blooms(spark, tmp_path):
    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE)
    t = ParquetTable(spark, str(tmp_path / "t5"))
    t.overwrite(spark.createDataFrame(
        [(k, float(k), 1, 0) for k in range(20)],
        "k long, v double, _version long, _event_unixtime long",
    ))
    compact_table(t, spec)
    rels = _rels(t)
    assert rels
    assert all(bloom.load_bloom(t._abs(r), "k") is not None for r in rels)


def test_point_lookup_prunes_and_matches(spark, tmp_path):
    """Pruned lookup returns exactly the full-scan filter's rows while
    provably opening fewer files; keys absent everywhere prune to an
    empty (schema-stable) result."""
    from synch_spark.sources.bloom import point_lookup, prune_files

    t = ParquetTable(spark, str(tmp_path / "t6"))
    # 4 range-disjoint files (explicit repartition: AQE would coalesce
    # a write this tiny into one file, defeating the pruning assertion)
    df = (
        spark.range(400)
        .select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    t.overwrite(df, key="k")
    n_files = len(_rels(t))
    keys = [5, 7]
    files = prune_files(t, "k", keys)
    assert files is not None and 0 < len(files) < n_files
    got = {r["k"]: r["v"] for r in point_lookup(t, "k", keys).collect()}
    want = {r["k"]: r["v"] for r in t.read().filter(F.col("k").isin(keys)).collect()}
    assert got == want == {5: 15, 7: 21}
    # absent keys: empty proof, schema preserved
    empty = point_lookup(t, "k", [100000, 100001])
    assert empty.columns == t.read().columns
    assert empty.count() == 0


def test_point_lookup_falls_back_without_proof(spark, tmp_path):
    """String-keyed table without blooms still answers correctly via the
    full-scan fallback path (and after blooms exist, prunes)."""
    from synch_spark.sources.bloom import point_lookup

    t = ParquetTable(spark, str(tmp_path / "t7"))
    df = spark.createDataFrame([(f"k{i}", i) for i in range(50)],
                               "k string, v long")
    t.overwrite(df)
    got = {r["k"]: r["v"] for r in point_lookup(t, "k", ["k7", "k9"]).collect()}
    assert got == {"k7": 7, "k9": 9}
    t.overwrite(df, key="k")
    assert bloom.prune_files(t, "k", ["k7", "k9"]) is not None
    got2 = {r["k"]: r["v"] for r in point_lookup(t, "k", ["k7", "k9"]).collect()}
    assert got2 == got


def test_bloom_type_gating(spark, tmp_path):
    """Blooms are type-enforced to int/str/bytes keys: unsafe key types
    (timestamp/decimal/float) get no bloom at build time, and a probe with an unsafe key makes no absence claim — the
    tz-aware-vs-naive datetime divergence can therefore never turn into
    a silent false negative (= lost update in the CoW merge)."""
    t = ParquetTable(spark, str(tmp_path / "tt"))
    t.overwrite(
        spark.range(20).select(
            F.col("id").alias("k"),
            F.timestamp_seconds(F.col("id")).alias("ts"),
            (F.col("id") / 2.0).alias("f"),
            F.col("id").cast("decimal(10,2)").alias("d"),
        )
    )
    rels = _rels(t)
    name = t._abs(rels[0])
    # unsafe columns: no bloom
    for col in ("ts", "f", "d"):
        assert bloom.build_file_blooms(t, rels, col) == 0
        assert bloom.load_bloom(name, col) is None
    assert not _sidecars(t)
    # safe column builds; an unsafe PROBE key disables the absence claim
    assert bloom.build_file_blooms(t, rels, "k") >= 1
    bl = bloom.load_bloom(name, "k")
    import datetime

    assert bloom.might_contain_any(bl, [datetime.datetime(2020, 1, 1)])
    assert bloom.might_contain_any(bl, [1.5])
    assert not bloom.might_contain_any(bl, [999999])  # safe key still prunes
    assert not bloom.bloom_safe_key(True)  # bools stringify as True/False


def test_unbuildable_files_not_relisted(spark, tmp_path, monkeypatch):
    """A non-bloom-safe pk (float) gets no sidecar at commit, and later
    commits never list it again: each commit indexes only the files it
    adds, so carried files cost no footer opens on later batches."""
    spec = TableSpec(schema="db", table="t", pk=("f",),
                     engine=Engine.REPLACING_MERGE_TREE)
    t = ParquetTable(spark, str(tmp_path / "tu"))
    t.overwrite(spark.range(30).select((F.col("id") / 2.0).alias("f"),
                                       F.col("id").alias("v"))
                .repartitionByRange(3, "f"), key="f")
    assert not _sidecars(t)
    before = set(_rels(t))
    listed = []
    orig = bloom.build_file_blooms
    monkeypatch.setattr(bloom, "build_file_blooms",
                        lambda tbl, rels, key: listed.extend(rels)
                        or orig(tbl, rels, key))
    batch = spark.createDataFrame(
        [("insert", 0.5, 100, 10)],
        "action string, f double, v long, event_unixtime long",
    ).withColumn("action_seq", F.lit(0)).withColumn("schema", F.lit("db")) \
     .withColumn("table", F.lit("t"))
    apply_cdc_batch(t, batch, spec, value_columns=["f", "v"])
    assert listed and not set(listed) & before, \
        "carried files must not be re-listed"
    assert set(listed) == set(_rels(t)) - before
    assert t.read().filter("f = 0.5").collect()[0]["v"] == 100


def test_bloom_skips_partition_column(spark, tmp_path):
    """A leading pk that is ALSO the partition column is absent from the
    data files; the builder must skip those files instead of crashing
    compact_table (pq.read_table would raise)."""
    t = ParquetTable(spark, str(tmp_path / "tp"))
    t.overwrite(
        spark.range(20).select(F.col("id").alias("p"), F.col("id").alias("v")),
        partition_by="p", key="p",
    )
    assert not _sidecars(t)  # no crash, no blooms
    assert bloom.build_file_blooms(t, _rels(t), "p") == 0
    spec = TableSpec(schema="db", table="t", pk=("p",),
                     engine=Engine.REPLACING_MERGE_TREE, partition_by="p")
    compact_table(t, spec)  # commits with key="p": must not raise
    assert t.read().count() == 20


def test_bloom_sidecar_gc(spark, tmp_path):
    """Compaction rewrites the file set (fresh uuids); the sidecars of
    the retired files are freed together with them when their version
    expires, live ones are kept."""
    from synch_spark.sources.bloom import sidecar_path

    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE)
    t = ParquetTable(spark, str(tmp_path / "tg"))
    t.overwrite(spark.range(100).select(F.col("id").alias("k"),
                                        (F.col("id") * 2).alias("v")),
                key="k")
    before = _sidecars(t)
    assert before

    def live():
        return {sidecar_path(r) for v in t.versions()
                for r in t.snapshot(v).files}

    compact_table(t, spec)  # rewrites files with fresh sidecars
    after = _sidecars(t)
    assert after == live()
    # the pre-compaction generation is still retained as version v-1
    # (readable by in-flight readers), so its sidecars must SURVIVE;
    # one more commit expires it, then they must be gone
    assert before <= after
    compact_table(t, spec)
    final = _sidecars(t)
    assert not (before & final), "expired-generation sidecars must be gone"
    assert final == live()


def test_bloom_keys_are_partition_scoped(spark, tmp_path):
    """One task writing a partitioned table emits the SAME part-file
    basename into every partition dir. Basename-keyed sidecars would let
    partition a's bloom prove false absence for partition b's file and
    carry away a genuinely-changed file (lost update). With
    partition-scoped keys, a delete of a key that lives only in p=b must
    actually remove the row."""
    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE, partition_by="p")
    t = ParquetTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(k, "a", float(k)) for k in range(100)]
        + [(k, "b", float(k)) for k in range(100, 200)],
        "k long, p string, v double",
    ).repartition(1)  # one task -> identical basenames across partitions
    t.overwrite(df, "p", key="k")
    names_a = {r.split("/")[-1] for r in _rels(t, "p=a")}
    names_b = {r.split("/")[-1] for r in _rels(t, "p=b")}
    assert names_a == names_b, "precondition: basenames collide across partitions"
    assert len(_sidecars(t)) == 2, "one sidecar PER FILE, not per basename"
    # delete a key that exists ONLY in p=b
    batch = _events(spark, [("delete", 150, "b", 150.0, 10)])
    apply_cdc_batch(t, batch, spec, value_columns=["k", "p", "v"])
    got = {r["k"] for r in t.read().collect()}
    assert 150 not in got, "lost update: stale row survived a basename-collided bloom"
    assert len(got) == 199


@pytest.mark.slow
def test_string_pk_files_pruned_by_bloom_alone(spark, tmp_path):
    """String pks have no exact min/max stats (BYTE_ARRAY may truncate),
    so the bloom is the only pruning lever — a merge touching keys in
    one file must carry the other file instead of rewriting both."""
    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE, partition_by="p")
    t = ParquetTable(spark, str(tmp_path / "ts"))
    g1 = [(f"key_a{i:04d}", "a", float(i)) for i in range(100)]
    g2 = [(f"key_b{i:04d}", "a", float(i)) for i in range(100)]
    t.overwrite(spark.createDataFrame(g1, "k string, p string, v double")
                .coalesce(1), "p", key="k")
    t.overwrite_cow_files(spark.createDataFrame(
        g2, "k string, p string, v double").coalesce(1), [], key="k",
        partition_by="p")
    before = _rels(t, "p=a")
    assert len(before) == 2
    batch = spark.createDataFrame(
        [("insert", "key_a0001", "a", 99.0, 10)],
        "action string, k string, p string, v double, event_unixtime long",
    ).withColumn("action_seq", F.lit(0)).withColumn("schema", F.lit("db")) \
     .withColumn("table", F.lit("t"))
    apply_cdc_batch(t, batch, spec, value_columns=["k", "p", "v"])
    after = _rels(t, "p=a")
    carried = set(before) & set(after)
    assert carried, "the untouched key_b file must be carried"
    snap = t.snapshot()
    assert sum(1 for r in before if snap.dv(r)) == 1, "key_b file was masked"
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got["key_a0001"] == 99.0 and len(got) == 200


@pytest.mark.slow
def test_consecutive_merges_bounded_rewrites(spark, tmp_path):
    """Five consecutive micro-batches, each touching 2 keys in a narrow
    range of a pk-clustered + bloomed table: every merge must rewrite a
    BOUNDED number of files (the touched candidates + the batch's new
    file), never re-rewrite the whole accumulated file set — the
    rewrite-amplification guarantee the commit-time blooms exist for."""
    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE, partition_by="p")
    t = ParquetTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(k, "a", float(k)) for k in range(4000)], "k long, p string, v double"
    )
    t.overwrite(df, "p", cluster_by=("k",), key="k")

    for b in range(5):
        before = set(_rels(t))
        lo = b * 700
        batch = _events(spark, [("insert", lo, "a", -1.0, 100 + b),
                                ("insert", lo + 1, "a", -2.0, 100 + b)])
        apply_cdc_batch(t, batch, spec, value_columns=["k", "p", "v"])
        after = set(_rels(t))
        fresh = after - before
        # bound: the touched candidate file(s) get rewritten and the
        # merge writes its own new file(s) — but the untouched bulk of
        # an ever-growing file set must carry through untouched
        assert len(fresh) <= 4, f"batch {b}: rewrote {len(fresh)} files: {sorted(fresh)}"
        carried = len(before & after)
        assert carried >= len(before) - 2, f"batch {b}: too few carried files"
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(got) == 4000 and got[0] == -1.0 and got[2801] == -2.0


def test_bloom_second_column_does_not_thrash(spark, tmp_path):
    """A file's bloom is written once, for the key its commit named: a
    build for a different column can neither replace nor destroy it
    (the sidecar is write-once), and probes for that column find none."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(50).select(F.col("id").alias("k"),
                                       (F.col("id") * 2).alias("v")),
                key="k")
    rel = _rels(t)[0]
    before = bloom.load_bloom(t._abs(rel), "k")
    assert before is not None
    with pytest.raises(FileExistsError):
        bloom.build_file_blooms(t, [rel], "v")
    assert bloom.load_bloom(t._abs(rel), "v") is None
    after = bloom.load_bloom(t._abs(rel), "k")
    assert after is not None and after[0] == before[0]


def test_bloom_accepts_bytearray_probe_keys(spark, tmp_path):
    """Spark collect() returns BinaryType as bytearray while the build
    side yields bytes; rejecting bytearray made binary-pk blooms build
    and then never prune a single merge."""
    from synch_spark.sources.bloom import (
        bloom_safe_key, _obj_hashes, load_bloom, might_contain_any)
    from synch_spark.sources.table import ParquetTable
    from pyspark.sql import functions as F

    assert bloom_safe_key(bytearray(b"k1"))
    assert _obj_hashes([bytearray(b"k1")])[0] == _obj_hashes([b"k1"])[0]

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(50).select(
        F.encode(F.concat(F.lit("k"), F.col("id").cast("string")), "utf-8")
        .alias("bk"),
        F.col("id").alias("v")).coalesce(1), key="bk")  # one file, every key
    rel = next(iter(t.snapshot().files))
    bl = load_bloom(t._abs(rel), "bk")
    assert bl is not None
    # probe with the COLLECT-side representation
    assert might_contain_any(bl, [bytearray(b"k7")])
    assert not might_contain_any(bl, [bytearray(b"nope-xyz")])


def test_prune_files_mixed_type_keys_degrade_to_none(spark, tmp_path):
    from synch_spark.sources.bloom import prune_files
    from synch_spark.sources.table import ParquetTable
    from pyspark.sql import functions as F

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(10).select(F.col("id").alias("k")))
    assert prune_files(t, "k", [1, "2"]) is None  # unorderable: full scan


def test_sidecar_lifecycle_follows_its_file(spark, tmp_path):
    """A sidecar is part of its pool file: a lost publish race removes
    the loser's sidecars with its data files, version expiry frees
    them, vacuum keeps live ones and drops orphans, and restore / clone
    copy them to the new identities byte for byte."""
    from synch_spark.sources.bloom import sidecar_path
    from synch_spark.sources.table import ConcurrentWriteError

    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE)

    def gen(lo):
        return spark.range(lo, lo + 300).select(
            F.col("id").alias("k"), F.lit(1.0).alias("v")).repartition(2)

    t = ParquetTable(spark, str(tmp_path / "t"), retain=2)
    t.overwrite(gen(0), key="k")
    first = _sidecars(t)
    t.overwrite(gen(1000), key="k")
    # lost race: version 1 is taken, so this writer's files go away
    pool = _sidecars(t)
    with pytest.raises(ConcurrentWriteError):
        t.overwrite(gen(2000), key="k", expected_base=0)
    assert _sidecars(t) == pool, "loser's sidecars must be removed"
    # expiry: a third commit frees version 0's files and their sidecars
    t.overwrite(gen(3000), key="k")
    assert not first & _sidecars(t)
    live = {sidecar_path(r) for v in t.versions() for r in t.snapshot(v).files}
    assert _sidecars(t) == live
    # vacuum: an orphaned file + sidecar go, live sidecars stay
    orphan = os.path.join(t._data, "part-orphan.parquet")
    for path in (orphan, bloom.sidecar_path(orphan)):
        with open(path, "wb") as f:
            f.write(b"x")
        os.utime(path, (0, 0))
    assert t.vacuum(staging_ttl_s=0) == 2
    assert _sidecars(t) == live
    # restore: the re-materialized files carry their sidecars
    v_old = t.versions()[0]
    apply_cdc_batch(t, spark.createDataFrame(
        [("delete", 1000, 1.0, 10)],
        "action string, k long, v double, event_unixtime long",
    ).withColumn("action_seq", F.lit(0)).withColumn("schema", F.lit("db"))
        .withColumn("table", F.lit("t")), spec, value_columns=["k", "v"])
    t.restore(v_old)
    restored = [r for r in _rels(t) if r.startswith("restore-")]
    assert restored
    assert all(bloom.load_bloom(t._abs(r), "k") is not None for r in restored)
    # clone: every file's sidecar is copied verbatim
    dup = t.clone(str(tmp_path / "dup"))
    for r in _rels(t):
        with open(bloom.sidecar_path(t._abs(r)), "rb") as a, \
                open(bloom.sidecar_path(dup._abs(r)), "rb") as b:
            assert a.read() == b.read()
    assert {r["k"] for r in bloom.point_lookup(dup, "k", [1000, 1001])
            .collect()} == {1000, 1001}


def test_bloom_build_probe_hash_parity(spark, tmp_path):
    """The build side (pyarrow over the written file) and the probe side
    (Spark-collected keys) hash every bloom-safe type identically:
    int64 extremes, negative ints, str, bytes and bytearray. A probe key
    outside int64 makes no claim."""
    ints = [-(2**63), 2**63 - 1, -1, -12345, 0, 7]
    t = ParquetTable(spark, str(tmp_path / "i"))
    t.overwrite(spark.createDataFrame([(k,) for k in ints], "k long")
                .coalesce(1), key="k")
    (rel,) = _rels(t)
    bl = bloom.load_bloom(t._abs(rel), "k")
    for row in t.read().collect():
        assert bloom.might_contain_any(bl, [row["k"]]), row
    assert not bloom.might_contain_any(bl, [123456789, -987654321])
    assert bloom.might_contain_any(bl, [2**63])
    assert bloom.might_contain_any(bl, [-(2**63) - 1])

    strs = ["", "a", "ключ", "k\n1", "🙂"]
    t = ParquetTable(spark, str(tmp_path / "s"))
    t.overwrite(spark.createDataFrame(
        [(s, s.encode()) for s in strs], "s string, b binary").coalesce(1),
        key="s")
    (rel,) = _rels(t)
    bl = bloom.load_bloom(t._abs(rel), "s")
    rows = t.read().collect()
    for row in rows:
        assert bloom.might_contain_any(bl, [row["s"]]), row
    assert not bloom.might_contain_any(bl, ["not-there", "nope"])
    rels = _rels(t)
    os.remove(bloom.sidecar_path(t._abs(rel)))
    assert bloom.build_file_blooms(t, rels, "b") == 1
    bl = bloom.load_bloom(t._abs(rel), "b")
    for row in rows:
        assert bloom.might_contain_any(bl, [bytearray(row["b"])]), row
        assert bloom.might_contain_any(bl, [bytes(row["b"])]), row
    assert not bloom.might_contain_any(bl, [b"not-there", bytearray(b"no")])

