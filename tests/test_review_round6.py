"""Round-6 review-sweep regressions: manifest stat typing, Hive bool
partition encoding, bootstrap commit races, zorder domains, INT96."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from synch_spark.config import Engine, TableSpec
from synch_spark.operators.cdc_apply import apply_cdc_batch
from synch_spark.sources.table import ConcurrentWriteError, ParquetTable


@pytest.fixture(scope="module")
def spark():
    from synch_spark.session import get_spark

    return get_spark("test-review-r6", cpus=8)


def test_manifest_survives_date_and_timestamp_pk(spark, tmp_path):
    """pyarrow returns DATE/TIMESTAMP footer stats as datetime objects;
    the manifest layer must encode them JSON-safe (the old json.dump
    crashed every micro-batch of a temporal-pk table) and decode them
    back to the same comparable objects."""
    from synch_spark.sources.manifest import load_manifest

    t = ParquetTable(spark, str(tmp_path / "t"), retain=4)
    t.overwrite(
        spark.range(100).select(
            F.date_add(F.lit("2020-01-01").cast("date"),
                       F.col("id").cast("int")).alias("d"),
            F.col("id").alias("v"),
        ).repartitionByRange(4, "d"),
        key="d",  # crashed with TypeError before the fix
    )
    man = load_manifest(t, "d")
    assert len(man) >= 1
    assert man and all(rng is not None for rng in man.values())
    los = [rng[0] for rng in man.values()]
    assert all(isinstance(lo, datetime.date) for lo in los)
    assert min(los) == datetime.date(2020, 1, 1)
    # the committed stats are really in the log (fresh handle, no cache)
    t2 = ParquetTable(spark, str(tmp_path / "t"))
    assert load_manifest(t2, "d") == man


def test_bool_partition_merge_probe_path_removes_old_files(spark, tmp_path):
    """A merge into a BOOLEAN-partitioned table: the copy-on-write
    probe once matched touched={'True'} against the 'hot=true' dir, so
    old files stayed live and every carried-over row duplicated. With
    no pruning proof (every file a candidate) the merge must mask the
    superseded row and leave no duplicates."""
    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE, partition_by="hot")
    t = ParquetTable(spark, str(tmp_path / "t"), retain=4)
    t.overwrite(
        spark.range(40).select(
            F.col("id").alias("k"), (F.col("id") % 2 == 0).alias("hot"),
            F.col("id").cast("double").alias("v")),
        partition_by="hot",
    )
    batch = spark.createDataFrame(
        [("insert", 0, True, -1.0, 10)],
        "action string, k long, hot boolean, v double, event_unixtime long",
    ).withColumn("action_seq", F.lit(0)) \
     .withColumn("schema", F.lit("db")).withColumn("table", F.lit("t"))

    # no pruning proof: every live file is a semi-join candidate
    from synch_spark.sources import bloom

    orig = bloom.prune_files
    bloom.prune_files = lambda *a, **k: None
    try:
        apply_cdc_batch(t, batch, spec, value_columns=["k", "hot", "v"])
    finally:
        bloom.prune_files = orig
    rows = t.read().groupBy("k").count().filter("count > 1").collect()
    assert rows == [], f"duplicated pks after bool-partition merge: {rows}"
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[0] == -1.0 and len(got) == 40


def test_first_batch_creation_race_falls_through_to_merge(spark, tmp_path):
    """Two consumers race the FIRST batch: the loser's bootstrap
    overwrite raises ConcurrentWriteError and must converge via the
    normal merge cycle, not kill the stream."""
    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE)
    t = ParquetTable(spark, str(tmp_path / "t"), retain=4)
    winner = ParquetTable(spark, str(tmp_path / "t"), retain=4)
    seed = spark.createDataFrame([(99, 9.0)], "k long, v double")

    real = t.overwrite
    calls = {"n": 0}

    def racing(df, partition_by=None, **kw):
        if calls["n"] == 0:
            calls["n"] += 1
            winner.overwrite(seed)  # the other consumer lands v0
            raise ConcurrentWriteError("lost the v0 race (simulated)")
        return real(df, partition_by, **kw)

    t.overwrite = racing
    batch = spark.createDataFrame(
        [("insert", 1, 1.0, 10)],
        "action string, k long, v double, event_unixtime long",
    ).withColumn("action_seq", F.lit(0)) \
     .withColumn("schema", F.lit("db")).withColumn("table", F.lit("t"))
    apply_cdc_batch(t, batch, spec, value_columns=["k", "v"])  # must not raise
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {99: 9.0, 1: 1.0}, got


def test_append_bootstrap_race_falls_through(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), retain=4)
    winner = ParquetTable(spark, str(tmp_path / "t"), retain=4)
    real = t.overwrite
    calls = {"n": 0}

    def racing(df, partition_by=None, **kw):
        if calls["n"] == 0:
            calls["n"] += 1
            winner.overwrite(spark.createDataFrame([(99,)], "k long"))
            raise ConcurrentWriteError("lost the v0 race (simulated)")
        return real(df, partition_by, **kw)

    t.overwrite = racing
    t.append(spark.createDataFrame([(1,)], "k long"))
    assert {r["k"] for r in t.read().collect()} == {99, 1}


def test_changes_per_commit_rejects_reversed_range(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), retain=4)
    t.overwrite(spark.range(5).select(F.col("id").alias("k")))
    t.append(spark.createDataFrame([(100,)], "k long"))
    with pytest.raises(ValueError, match="v_from"):
        t.changes_per_commit(t.current_version(), 0, pk="k")


def test_zorder_temporal_ok_string_rejected(spark):
    from synch_spark.sources.table import zorder_layout

    df = spark.range(100).select(
        F.col("id").alias("n"),
        F.date_add(F.lit("2020-01-01").cast("date"),
                   F.col("id").cast("int")).alias("d"),
        F.col("id").cast("string").alias("s"),
    )
    # DATE now works (used to fail analysis on cast to double)
    out = zorder_layout(df, ["n", "d"], num_files=4)
    assert out.count() == 100
    with pytest.raises(ValueError, match="zorder column 's'"):
        zorder_layout(df, ["s"])


def test_int96_stats_not_trusted(tmp_path, spark):
    """INT96 min/max has no defined sort order (PARQUET-1065): even when
    a legacy writer emits stats, file_key_range must return None rather
    than prune on them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from synch_spark.sources.table import file_key_range

    p = str(tmp_path / "int96.parquet")
    tbl = pa.table({"ts": [datetime.datetime(2020, 1, 1),
                           datetime.datetime(2021, 1, 1)]})
    pq.write_table(tbl, p, use_deprecated_int96_timestamps=True)
    assert file_key_range(p, "ts") is None

# --- similarity/text/sampling hardening (review sweep 4) -------------------
def test_similarity_survives_nan_and_null_vectors(spark):
    """One NaN element used to top every desc prefilter ranking (NaN >
    any double) and then kill the exact decimal rescore under ANSI;
    NULL/ragged vectors crashed the GEMM kernel's np.stack. All are
    garbage embeddings: dropped at the door, queries survive."""
    from synch_spark.operators import similarity as sim

    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [float("nan"), 1.0]),
            (4, None), (5, [1.0, 0.0, 0.0]),  # ragged
            (6, [float("inf"), 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    good = spark.createDataFrame(rows[:2], "vec_id long, embedding array<double>")

    top = sim.cosine_topk(df, df, k=2).collect()
    assert {r["probe_id"] for r in top} <= {1, 2, 5}
    assert all(r["neighbor_id"] not in (3, 4, 6) for r in top)

    pairs = sim.embedding_near_dups_exact(df, threshold=0.5).collect()
    ok = sim.embedding_near_dups_exact(good, threshold=0.5).collect()
    # ragged id 5 is dropped within the (single) block; 1-2 pair survives
    assert {(r["a"], r["b"]) for r in pairs} == {(r["a"], r["b"]) for r in ok}

    lsh = sim.embedding_near_dups(df, threshold=0.5).collect()
    assert all(r["a"] not in (3, 4, 6) and r["b"] not in (3, 4, 6)
               for r in lsh)


def test_near_dups_exact_string_ids(spark):
    from synch_spark.operators.similarity import embedding_near_dups_exact

    df = spark.createDataFrame(
        [("x", [1.0, 0.0]), ("y", [0.99, 0.01]), ("z", [0.0, 1.0])],
        "vec_id string, embedding array<double>")
    got = {(r["a"], r["b"]) for r in
           embedding_near_dups_exact(df, threshold=0.9).collect()}
    assert got == {("x", "y")}


def test_hyperplane_num_tables_validated(spark):
    from synch_spark.operators.similarity import hyperplane_signature

    df = spark.createDataFrame([(1, [1.0])], "id long, v array<double>")
    with pytest.raises(ValueError, match="num_tables"):
        hyperplane_signature(df, "v", num_planes=4, num_tables=0)


def test_tokens_drop_boundary_empties(spark):
    """split('\\s+') yields '' for empty text and at boundaries; the
    tokenizer (and the DuckDB oracle's, in lockstep) filters them so
    token budgets and quality denominators stop over-counting."""
    from synch_spark.operators.text import token_count

    df = spark.createDataFrame(
        [("",), ("   ",), (" a b ",), ("a b",)], "text string")
    got = [r[0] for r in df.select(token_count("text")).collect()]
    assert got == [0, 0, 2, 2]


def test_fingerprint_non_latin_fallback(spark):
    """[a-z0-9] normalization strips CJK text entirely; distinct
    non-Latin documents must NOT collapse onto md5('')."""
    from synch_spark.operators.dedup import exact_dedup
    from synch_spark.operators.text import fingerprint

    df = spark.createDataFrame(
        [(1, "你好世界"), (2, "完全不同的文本"), (3, "hello world"),
         (4, "HELLO,   world!")],
        "doc_id long, text string")
    fps = {r["doc_id"]: r["fp"] for r in
           df.select("doc_id", fingerprint("text").alias("fp")).collect()}
    assert fps[1] != fps[2], "distinct CJK docs collapsed to one fingerprint"
    assert fps[3] == fps[4]  # normalization still folds Latin variants
    kept = {r["doc_id"] for r in exact_dedup(df, "text", "doc_id").collect()}
    assert kept == {1, 2, 3}


def test_sampling_salt_validation():
    from pyspark.sql import functions as F

    from synch_spark.operators.sampling import sample_gate

    with pytest.raises(ValueError, match="salt"):
        sample_gate(F.col("id"), 0.5, salt="a:b")

# --- engines/diff/hash hardening (review sweep 6) ---------------------------
def test_diff_snapshots_rejects_empty_pk(spark):
    from synch_spark.sources.snapshot_diff import diff_snapshots

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(ValueError, match="non-empty pk"):
        diff_snapshots(df, df, (), "db", "t", 1)


def test_diff_snapshots_survives_added_column(spark):
    """ALTER TABLE ADD COLUMN between producer polls: the old snapshot
    lacks the column — the diff must emit updates for rows whose new
    value is set, not crash with UNRESOLVED_COLUMN."""
    import json as _json

    from synch_spark.sources.snapshot_diff import diff_snapshots

    old = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    new = spark.createDataFrame(
        [(1, "a", None), (2, "b", "fresh")], "k long, v string, c string")
    out = diff_snapshots(old, new, ("k",), "db", "t", 10).collect()
    got = {r["action"]: _json.loads(r["after"] or "{}") for r in out}
    # row 1: added column NULL on both sides -> unchanged; row 2 updates
    assert list(got) == ["update"] and got["update"]["k"] == 2
    assert got["update"]["c"] == "fresh"


def test_row_hash_separator_forgery_resistant(spark):
    """('x\\x01y','z') vs ('x','y\\x01z') used to hash EQUAL (the
    separator re-split); the length-prefixed encoding is injective."""
    from synch_spark.functions import null_safe_row_hash

    df = spark.createDataFrame(
        [("x\x01y", "z"), ("x", "y\x01z"), (None, "\x00NULL\x00")],
        "a string, b string")
    hs = [r[0] for r in df.select(null_safe_row_hash(["a", "b"])).collect()]
    assert len(set(hs)) == 3, f"colliding row hashes: {hs}"


def test_engine_view_matches_read_current_state_for_collapsing(spark, tmp_path):
    """The public dispatcher and read_current_state must agree on a
    collapsing table with PENDING (uncompacted) updates — engine_view
    used to ignore the stored arrival order and pick the survivor by
    partition layout."""
    from synch_spark.operators.cdc_apply import read_current_state
    from synch_spark.operators.engines import engine_view

    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.COLLAPSING_MERGE_TREE)
    t = ParquetTable(spark, str(tmp_path / "t"), retain=6)

    def batch(rows):
        return spark.createDataFrame(
            rows, "action string, k long, v double, event_unixtime long"
        ).withColumn("action_seq", F.lit(0)) \
         .withColumn("schema", F.lit("db")).withColumn("table", F.lit("t"))

    apply_cdc_batch(t, batch([("insert", 1, 1.0, 10)]), spec,
                    value_columns=["k", "v"])
    apply_cdc_batch(t, batch([("delete", 1, 1.0, 20),
                              ("insert", 1, 2.0, 21)]), spec,
                    value_columns=["k", "v"])
    via_state = {(r["k"], r["v"]) for r in read_current_state(t, spec).collect()}
    via_view = {(r["k"], r["v"])
                for r in engine_view(t.read(), spec).collect()}
    assert via_state == via_view == {(1, 2.0)}
    assert set(engine_view(t.read(), spec).columns) == {"k", "v"}


def test_interleave_bits_validates_inputs():
    from synch_spark.functions import interleave_bits

    with pytest.raises(ValueError, match="at least one"):
        interleave_bits([], 8)
    with pytest.raises(ValueError, match="at least one"):
        interleave_bits([F.lit(1)], 0)


def test_pg_pk_query_excludes_include_columns_and_quotes():
    from synch_spark.sources.catalog import pk_query

    q = pk_query("postgres", "public", "Orders")
    assert "indnkeyatts" in q, "INCLUDE covering columns must be excluded"
    assert "to_regclass('\"public\".\"Orders\"')" in q

# --- mv/multimodal/plans hardening (review sweep 7) --------------------------
def test_mv_sync_intent_not_promoted_by_foreign_commit(spark, tmp_path):
    """A crashed sync's intent must NOT be promoted by an unrelated
    commit to the MV table (event-path refresh landing in between):
    promotion is token-identified via the commit entry's epoch."""
    from synch_spark.operators.mv import MaterializedView

    src = ParquetTable(spark, str(tmp_path / "src"), retain=6)
    src.overwrite(spark.createDataFrame([(1, 10.0), (2, 20.0)],
                                        "k long, amount double"))
    view = MaterializedView.create(
        spark, str(tmp_path / "mv"), "db.t", group_cols=["k"],
        sum_cols=["amount"])
    view.refresh_from_changes(src, pk="k")  # baseline build
    v0 = src.current_version()
    # source moves; a sync CRASHES after writing its intent
    src.append(spark.createDataFrame([(3, 30.0)], "k long, amount double"))
    cur = src.current_version()
    mv_v = view.table.current_version()
    view._write_sync(v0, cur, mv_v + 1, token="mv_sync:crashed")
    # an UNRELATED commit lands on the MV table (event-path refresh)
    batch = spark.createDataFrame([("insert", 9, 90.0)],
                                  "action string, k long, amount double")
    view.refresh_from_batch(batch)
    assert view.table.current_version() >= mv_v + 1
    # the feed interval (v0, cur] must still be pending, not dropped
    assert view._last_synced() == v0, \
        "foreign commit promoted the crashed sync's intent"
    view.refresh_from_changes(src, pk="k")
    got = {r["k"]: float(r["amount_delta"])
           for r in view.table.read().collect()}
    assert got.get(3) == 30.0, f"feed interval silently dropped: {got}"


def test_mv_delete_recompute_handles_null_group_key(spark, tmp_path):
    """A delete touching a NULL group key must recompute that group's
    min/max from base — name-list joins never match NULL keys, so the
    recompute used to write NULL min/max into a group base still had
    rows for."""
    from synch_spark.operators.mv import MaterializedView

    view = MaterializedView.create(
        spark, str(tmp_path / "mv"), "db.t", group_cols=["city"],
        sum_cols=["amt"], minmax_cols=["amt"])
    ins = spark.createDataFrame(
        [("insert", None, 5.0), ("insert", None, 9.0), ("insert", "x", 1.0)],
        "action string, city string, amt double")
    view.refresh_from_batch(ins)
    base_after = spark.createDataFrame(
        [(None, 5.0), ("x", 1.0)], "city string, amt double")
    dele = spark.createDataFrame([("delete", None, 9.0)],
                                 "action string, city string, amt double")
    view.refresh_from_batch(dele, base=base_after)
    state = {r["city"]: (float(r["amt_min"]), float(r["amt_max"]))
             for r in view.table.read().collect()}
    assert state[None] == (5.0, 5.0), \
        f"NULL group min/max not recomputed: {state}"


def test_resize_media_null_and_empty_payloads(spark):
    from synch_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(1, "some text"), (2, ""), (3, None)], "doc_id long, text string")
    media = multimodal.attach_fake_media(docs, "text")
    # force a NULL payload through (attach makes bytes; null the text row)
    media = media.withColumn(
        "media", F.when(F.col("doc_id") == 3, F.lit(None)).otherwise(
            F.col("media")))
    out = {r["id"]: (r["media"], r["media_meta"]["width"])
           for r in multimodal.resize_media(media, target=8).collect()}
    assert out[3][0] is None and out[3][1] == 0  # NULL passes through
    payload2, w2 = out[2]
    assert w2 == (0 if (payload2 is None or len(payload2) == 0) else 8)
    assert len(out[1][0]) == 8 and out[1][1] == 8


def test_session_cache_parallel_keys_and_same_key_dedup(spark):
    import threading
    import time as _time

    from synch_spark.plans.dataops import _SessionCache

    cache = _SessionCache()
    calls = {"a": 0, "b": 0}

    def slow_a():
        calls["a"] += 1
        _time.sleep(1.0)
        return "A"

    def fast_b():
        calls["b"] += 1
        return "B"

    out = {}
    ta = threading.Thread(
        target=lambda: out.__setitem__("a", cache.get_or_build(spark, "a", slow_a)))
    ta.start()
    _time.sleep(0.2)  # a's build is in flight
    t0 = _time.monotonic()
    out["b"] = cache.get_or_build(spark, "b", fast_b)  # must NOT block on a
    assert _time.monotonic() - t0 < 0.5, "different key blocked behind a build"
    # same-key racer waits for a's build instead of rebuilding
    out["a2"] = cache.get_or_build(spark, "a", slow_a)
    ta.join()
    assert (out["a"], out["a2"], out["b"]) == ("A", "A", "B")
    assert calls == {"a": 1, "b": 1}
