"""CLI parity: etl + check against a YAML config (reference synch.yaml shape)."""

from __future__ import annotations

import json

import yaml

from synch_spark.cli import main
import pytest


def _write_cfg(tmp_path, warehouse):
    cfg = {
        "core": {"insert_num": 100, "insert_interval": 1},
        "source_dbs": [
            {
                "db_type": "mysql",
                "databases": [
                    {
                        "database": "db",
                        "tables": [
                            {
                                "table": "customer",
                                "pk": ["c_custkey"],
                                "clickhouse_engine": "replacing_merge_tree",
                            }
                        ],
                    }
                ],
            }
        ],
        "spark": {
            "warehouse": warehouse,
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "source_format": "parquet",
            "sources": {"db.customer": "/root/testdata/sf0.001/customer.parquet"},
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    return str(p)


@pytest.mark.slow
def test_cli_produce_consume_check_loop(tmp_path, capsys, spark):
    """Full binlog-free CDC loop through the CLI: produce (snapshot-diff
    poller) -> consume (stream apply) -> check parity; then mutate the
    source view and loop again."""
    from synch_spark.session import read_table

    src_path = str(tmp_path / "src.parquet")
    read_table(spark, "/root/testdata/sf0.001", "region").write.parquet(src_path)
    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "region", "pk": ["r_regionkey"]}]}]}],
        "spark": {
            "warehouse": str(tmp_path / "wh"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "events_dir": str(tmp_path / "events"),
            "source_format": "parquet",
            "sources": {"db.region": src_path},
            "value_schemas": {
                "db.region": spark.read.parquet(src_path).schema.jsonValue()
            },
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    assert main(["--config", str(p), "produce", "--once"]) == 0
    assert main(["--config", str(p), "consume", "--available-now"]) == 0
    assert main(["--config", str(p), "check", "--checksum"]) == 0
    capsys.readouterr()

    # mutate the source: rename region 0, drop region 4
    from pyspark.sql import functions as F

    cur = spark.read.parquet(src_path)
    mutated = cur.filter(F.col("r_regionkey") != 4).withColumn(
        "r_name",
        F.when(F.col("r_regionkey") == 0, F.lit("RENAMED")).otherwise(F.col("r_name")),
    )
    mutated.write.mode("overwrite").parquet(src_path + ".v2")
    cfg["spark"]["sources"]["db.region"] = src_path + ".v2"
    p.write_text(yaml.dump(cfg))
    assert main(["--config", str(p), "produce", "--once"]) == 0
    assert main(["--config", str(p), "consume", "--available-now"]) == 0
    assert main(["--config", str(p), "check", "--checksum"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["ok"] is True and out["check"]["db.region"]["target"] == 4

    # BOTH sides leave monitor records in the commits they make:
    # producer rounds (type=1, ref reader/__init__.py:84) in the
    # _producer_state table, consumer batches (type=2,
    # continuous.py:154) in the target; no separate monitor table
    from synch_spark.sources.table import ParquetTable

    wh = tmp_path / "wh"
    prod = [h["info"] for h in ParquetTable(
        spark, str(wh / "_producer_state" / "db" / "region")).history()]
    cons = [h["info"] for h in ParquetTable(
        spark, str(wh / "db" / "region")).history()]
    assert {i["type"] for i in prod} == {1}
    assert {i["type"] for i in cons} == {2}
    produced = sum(i["num"] for i in prod)
    assert produced >= 5 + 2  # first snapshot + the two-change diff
    assert not (wh / "_synch_log").exists()


def test_cli_etl_then_check(tmp_path, capsys, spark):
    cfg = _write_cfg(tmp_path, str(tmp_path / "wh"))
    assert main(["--config", cfg, "etl"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["etl"]["db.customer"] is True
    assert main(["--config", cfg, "check", "--checksum"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["ok"] is True
    assert out["check"]["db.customer"]["source"] == out["check"]["db.customer"]["target"]


@pytest.mark.slow
def test_cli_optimize_and_repair(tmp_path, capsys, spark):
    """optimize compacts without changing state; repair closes a forced
    source/target divergence, verified by check --checksum."""
    import shutil

    src_copy = str(tmp_path / "customer_src")
    shutil.copy("/root/testdata/sf0.001/customer.parquet", src_copy + ".parquet")
    cfg = _write_cfg(tmp_path, str(tmp_path / "wh"))
    assert main(["--config", cfg, "etl"]) == 0
    assert main(["--config", cfg, "optimize"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["optimized"] == ["db.customer"]
    assert main(["--config", cfg, "check", "--checksum"]) == 0
    capsys.readouterr()

    # force divergence: point the source at a mutated copy
    import yaml as _yaml
    from pyspark.sql import functions as F

    raw = _yaml.safe_load(open(cfg))
    mutated = (
        spark.read.parquet(raw["spark"]["sources"]["db.customer"])
        .filter(F.col("c_custkey") != 1)
        .withColumn(
            "c_name",
            F.when(F.col("c_custkey") == 2, F.lit("REPAIRED")).otherwise(
                F.col("c_name")
            ),
        )
    )
    mpath = str(tmp_path / "customer_mut.parquet")
    mutated.write.parquet(mpath)
    raw["spark"]["sources"]["db.customer"] = mpath
    open(cfg, "w").write(_yaml.dump(raw))

    assert main(["--config", cfg, "check", "--checksum"]) == 1  # diverged
    capsys.readouterr()
    assert main(["--config", cfg, "repair"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["repaired_events"]["db.customer"] > 0
    assert main(["--config", cfg, "check", "--checksum"]) == 0  # healed


def test_cli_quality_pipeline(tmp_path, capsys, spark):
    """quality command annotates a documents source and reports corpus
    stats; the annotated table lands in the warehouse."""
    from synch_spark.sources.table import ParquetTable

    cfg = _write_cfg(tmp_path, str(tmp_path / "wh"))
    rc = main(
        [
            "--config",
            cfg,
            "quality",
            "--source",
            "/root/testdata/sf0.001/documents.parquet",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["quality"]
    assert out["n_docs"] > 0
    assert 0 <= out["n_pass"] <= out["n_docs"]
    assert 0 < out["n_unique_fingerprints"] <= out["n_docs"]
    t = ParquetTable(spark, str(tmp_path / "wh" / "_quality" / "documents"))
    cols = set(t.read().columns)
    assert {"gopher_pass", "lang_pred", "fingerprint", "n_tokens"} <= cols
    assert t.count() == out["n_docs"]


def test_cli_backfill(tmp_path, capsys, spark):
    """`backfill` fills only the holes in a partially-loaded table."""
    from pyspark.sql import functions as F

    from synch_spark.config import TableSpec, config_from_dict
    from synch_spark.pipeline import etl_full
    from synch_spark.session import read_table
    from synch_spark.sources.table import ParquetTable

    wh = str(tmp_path / "wh")
    cfg = _write_cfg(tmp_path, wh)
    source = read_table(spark, "/root/testdata/sf0.001", "customer")
    spec = TableSpec(schema="db", table="customer", pk=("c_custkey",))
    table = ParquetTable(spark, f"{wh}/db/customer")
    etl_full(source.filter(F.col("c_custkey") % 2 == 0), table, spec)

    assert main(["--config", cfg, "backfill", "--chunks", "2"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["backfilled_rows"]["db.customer"] == source.count() - source.filter(
        F.col("c_custkey") % 2 == 0
    ).count()
    assert table.read().count() == source.count()


def test_cli_mv_create_and_read(tmp_path, capsys, spark):
    """`mv create` builds the view state from the replicated table
    snapshot; `mv read` prints it. The etl command lands the table
    first, exactly as a user would sequence it."""
    wh = str(tmp_path / "wh")
    cfg_path = _write_cfg(tmp_path, wh)
    assert main(["--config", cfg_path, "etl"]) == 0
    capsys.readouterr()
    rc = main([
        "--config", cfg_path, "mv", "create", "--name", "cust_by_nation",
        "--source", "db.customer", "--group-by", "c_nationkey", "--sum", "c_acctbal",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    rows = out["mv"]["rows"]
    assert rows and all(r["n"] >= 1 for r in rows)
    import duckdb

    truth = duckdb.connect().execute(
        "SELECT c_nationkey, COUNT(*) FROM "
        "read_parquet('/root/testdata/sf0.001/customer.parquet') GROUP BY 1"
    ).fetchall()
    assert {r["c_nationkey"]: r["n"] for r in rows} == dict(truth)
    assert main(["--config", cfg_path, "mv", "read", "--name", "cust_by_nation"]) == 0


def test_cli_join_mv_create_and_read(tmp_path, capsys, spark):
    """Join-MV CLI lifecycle: fact=db.customer (FK c_nationkey),
    dim=db.nation joined at read, grouped by n_name; state equals the
    one-shot DuckDB join+aggregate."""
    wh = str(tmp_path / "wh")
    cfg = {
        "core": {"insert_num": 100, "insert_interval": 1},
        "source_dbs": [
            {
                "db_type": "mysql",
                "databases": [
                    {
                        "database": "db",
                        "tables": [
                            {"table": "customer", "pk": ["c_custkey"],
                             "clickhouse_engine": "replacing_merge_tree"},
                            {"table": "nation", "pk": ["n_nationkey"],
                             "clickhouse_engine": "replacing_merge_tree"},
                        ],
                    }
                ],
            }
        ],
        "spark": {
            "warehouse": wh,
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "source_format": "parquet",
            "sources": {
                "db.customer": "/root/testdata/sf0.001/customer.parquet",
                "db.nation": "/root/testdata/sf0.001/nation.parquet",
            },
        },
    }
    cfg_path = tmp_path / "synch.yaml"
    cfg_path.write_text(yaml.dump(cfg))
    assert main(["--config", str(cfg_path), "etl"]) == 0
    capsys.readouterr()
    rc = main([
        "--config", str(cfg_path), "mv", "create", "--name", "bal_by_nation",
        "--source", "db.customer", "--group-by", "c_nationkey",
        "--sum", "c_acctbal", "--dim-source", "db.nation",
        "--dim-key", "n_nationkey", "--dim-group", "n_name",
    ])
    assert rc == 0
    rows = json.loads(capsys.readouterr().out)["mv"]["rows"]
    import duckdb

    truth = duckdb.connect().execute(
        "SELECT n_name, COUNT(*), "
        "SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM "
        "read_parquet('/root/testdata/sf0.001/customer.parquet') c "
        "JOIN read_parquet('/root/testdata/sf0.001/nation.parquet') n "
        "ON c_nationkey = n_nationkey GROUP BY 1"
    ).fetchall()
    got = {r["n_name"]: (r["n"], float(r["c_acctbal_sum"])) for r in rows}
    assert got == {n: (c, float(s)) for n, c, s in truth}
    # reload path: read must dispatch to the join flavor via the spec kind
    capsys.readouterr()
    assert main(["--config", str(cfg_path), "mv", "read", "--name", "bal_by_nation"]) == 0
    rows2 = json.loads(capsys.readouterr().out)["mv"]["rows"]
    assert rows2 == rows


@pytest.mark.slow
def test_cli_redis_broker_produce_consume(tmp_path, capsys, spark, monkeypatch):
    """The reference's DEFAULT broker end-to-end through the CLI:
    produce --sink redis (XADD per-schema stream) -> consume over
    spark.redis (XREAD -> shared batch applier -> offset commit) ->
    parity check; a second produce/consume round applies only the diff
    and an immediate re-consume is a no-op (offsets committed)."""
    from pyspark.sql import functions as F

    from tests.test_redis_broker import FakeRedis

    fake = FakeRedis()
    monkeypatch.setattr("synch_spark.redis_broker.redis_client",
                        lambda url: fake)
    from synch_spark.session import read_table

    src_path = str(tmp_path / "src.parquet")
    read_table(spark, "/root/testdata/sf0.001", "region").write.parquet(src_path)
    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "region", "pk": ["r_regionkey"]}]}]}],
        "spark": {
            "warehouse": str(tmp_path / "wh"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "events_dir": str(tmp_path / "events"),
            "source_format": "parquet",
            "sources": {"db.region": src_path},
            "redis": {"url": "redis://fake:6379/0", "queue_prefix": "synch",
                      "alias": "a1"},
            "value_schemas": {
                "db.region": spark.read.parquet(src_path).schema.jsonValue()
            },
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    assert main(["--config", str(p), "produce", "--once", "--sink", "redis"]) == 0
    assert fake.streams.get("synch:a1:db"), "events must land in the stream"
    assert main(["--config", str(p), "consume", "--available-now"]) == 0
    assert main(["--config", str(p), "check", "--checksum"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["ok"] is True and out["check"]["db.region"]["target"] == 5

    # diff round: rename + delete flow through the same broker
    cur = spark.read.parquet(src_path)
    mutated = cur.filter(F.col("r_regionkey") != 4).withColumn(
        "r_name",
        F.when(F.col("r_regionkey") == 0, F.lit("R0")).otherwise(F.col("r_name")),
    )
    mutated.write.mode("overwrite").parquet(src_path + ".v2")
    cfg["spark"]["sources"]["db.region"] = src_path + ".v2"
    p.write_text(yaml.dump(cfg))
    assert main(["--config", str(p), "produce", "--once", "--sink", "redis"]) == 0
    assert main(["--config", str(p), "consume", "--available-now"]) == 0
    from synch_spark.sources.table import ParquetTable

    got = {r["r_regionkey"]: r["r_name"]
           for r in ParquetTable(spark, str(tmp_path / "wh" / "db" / "region"))
           .read().collect()}
    assert got[0] == "R0" and 4 not in got and len(got) == 4
    # offsets committed: an immediate re-consume moves nothing
    assert main(["--config", str(p), "consume", "--available-now"]) == 0
    assert {r["r_regionkey"] for r in ParquetTable(
        spark, str(tmp_path / "wh" / "db" / "region")).read().collect()} == {0, 1, 2, 3}


def test_cli_consume_last_msg_id_seeds_offset(tmp_path, capsys, spark, monkeypatch):
    """Reference parity: `consume --last-msg-id <id>` resumes the Redis
    loop AFTER the given stream id — earlier events are skipped (the
    operator's explicit-seek escape hatch; cli.py consume --last-msg-id
    in the reference)."""
    from tests.test_redis_broker import FakeRedis

    fake = FakeRedis()
    monkeypatch.setattr("synch_spark.redis_broker.redis_client",
                        lambda url: fake)
    from synch_spark.session import read_table

    src_path = str(tmp_path / "src.parquet")
    read_table(spark, "/root/testdata/sf0.001", "region").write.parquet(src_path)
    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "region", "pk": ["r_regionkey"]}]}]}],
        "spark": {
            "warehouse": str(tmp_path / "wh"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "events_dir": str(tmp_path / "events"),
            "source_format": "parquet",
            "sources": {"db.region": src_path},
            "redis": {"url": "redis://fake:6379/0", "queue_prefix": "synch",
                      "alias": "a1"},
            "value_schemas": {
                "db.region": spark.read.parquet(src_path).schema.jsonValue()
            },
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    assert main(["--config", str(p), "produce", "--once", "--sink", "redis"]) == 0
    entries = fake.streams["synch:a1:db"]
    assert len(entries) == 5
    # seek past the first three events: only regions 3 and 4 apply
    third_id = entries[2][0]
    import pytest
    with pytest.raises(SystemExit):  # stream ids are schema-scoped
        main(["--config", str(p), "consume", "--available-now",
              "--last-msg-id", third_id])
    assert main(["--config", str(p), "consume", "--available-now",
                 "--schema", "db", "--last-msg-id", third_id]) == 0
    from synch_spark.sources.table import ParquetTable

    got = {r["r_regionkey"] for r in ParquetTable(
        spark, str(tmp_path / "wh" / "db" / "region")).read().collect()}
    assert got == {3, 4}


@pytest.mark.slow
def test_cli_restore_clone_changes(tmp_path, capsys, spark):
    """The store-op verbs end-to-end: etl a table, mutate it through a
    produce/consume loop, then audit the delta (changes), roll it back
    (restore), and fork a snapshot (clone)."""
    from synch_spark.session import read_table
    from synch_spark.sources.table import ParquetTable

    src_path = str(tmp_path / "src.parquet")
    read_table(spark, "/root/testdata/sf0.001", "region").write.parquet(src_path)
    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "region", "pk": ["r_regionkey"], "retain": 4}]}]}],
        "spark": {
            "warehouse": str(tmp_path / "wh"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "events_dir": str(tmp_path / "events"),
            "source_format": "parquet",
            "sources": {"db.region": src_path},
            "value_schemas": {
                "db.region": spark.read.parquet(src_path).schema.jsonValue()
            },
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    assert main(["--config", str(p), "produce", "--once"]) == 0
    assert main(["--config", str(p), "consume", "--available-now"]) == 0
    table = ParquetTable(spark, str(tmp_path / "wh" / "db" / "region"), retain=4)
    v0 = table.current_version()

    # mutate: drop region 4, rename region 0
    from pyspark.sql import functions as F

    cur = spark.read.parquet(src_path)
    mutated = cur.filter(F.col("r_regionkey") != 4).withColumn(
        "r_name",
        F.when(F.col("r_regionkey") == 0, F.lit("RENAMED"))
        .otherwise(F.col("r_name")),
    )
    mutated.write.mode("overwrite").parquet(src_path + ".v2")
    cfg["spark"]["sources"]["db.region"] = src_path + ".v2"
    p.write_text(yaml.dump(cfg))
    assert main(["--config", str(p), "produce", "--once"]) == 0
    assert main(["--config", str(p), "consume", "--available-now"]) == 0
    capsys.readouterr()

    # changes: one delete (region 4) + one update pair (region 0)
    assert main(["--config", str(p), "changes", "--table", "region",
                 "--from", str(v0)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["counts"] == {"delete": 1, "update_preimage": 1,
                             "update_postimage": 1}

    # clone the mutated state, then restore the source table to v0
    assert main(["--config", str(p), "clone", "--table", "region",
                 "--dest", str(tmp_path / "fork")]) == 0
    capsys.readouterr()
    assert main(["--config", str(p), "restore", "--table", "region",
                 "--version", str(v0)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["restored_to"] == v0

    restored = {r["r_regionkey"]: r["r_name"] for r in table.read().collect()}
    assert len(restored) == 5 and restored[0] != "RENAMED"
    fork = {r["r_regionkey"]: r["r_name"]
            for r in ParquetTable(spark, str(tmp_path / "fork")).read().collect()}
    assert len(fork) == 4 and fork[0] == "RENAMED"


@pytest.mark.slow
def test_cli_mv_sync_from_change_feed(tmp_path, capsys, spark):
    """`mv sync`: maintain a view from the table's change feed through
    the CLI — create, mutate the source through produce/consume, sync,
    and the view must reflect the post-mutation aggregate."""
    from synch_spark.session import read_table

    src_path = str(tmp_path / "src.parquet")
    read_table(spark, "/root/testdata/sf0.001", "region").write.parquet(src_path)
    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "region", "pk": ["r_regionkey"], "retain": 4}]}]}],
        "spark": {
            "warehouse": str(tmp_path / "wh"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "events_dir": str(tmp_path / "events"),
            "source_format": "parquet",
            "sources": {"db.region": src_path},
            "value_schemas": {
                "db.region": spark.read.parquet(src_path).schema.jsonValue()
            },
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    assert main(["--config", str(p), "produce", "--once"]) == 0
    assert main(["--config", str(p), "consume", "--available-now"]) == 0
    assert main(["--config", str(p), "mv", "create", "--name", "by_region",
                 "--source", "db.region", "--group-by", "r_regionkey",
                 "--sum", "r_regionkey"]) == 0
    capsys.readouterr()

    from pyspark.sql import functions as F

    cur = spark.read.parquet(src_path)
    cur.filter(F.col("r_regionkey") != 4).write.mode("overwrite").parquet(
        src_path + ".v2")
    cfg["spark"]["sources"]["db.region"] = src_path + ".v2"
    p.write_text(yaml.dump(cfg))
    assert main(["--config", str(p), "produce", "--once"]) == 0
    assert main(["--config", str(p), "consume", "--available-now"]) == 0
    capsys.readouterr()
    assert main(["--config", str(p), "mv", "sync", "--name", "by_region"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    keys = {int(r["r_regionkey"]) for r in out["mv"]["rows"]}
    assert keys == {0, 1, 2, 3}, keys


@pytest.mark.slow
def test_cli_table_to_table_replication_via_change_feed(tmp_path, capsys, spark):
    """The full fan-out loop: warehouse A's table re-emits its deltas as
    standard change events (`changes --sink spool`), a SECOND consumer
    bootstrapped by `clone` applies them, and the downstream table
    converges to A — table-to-table replication with no source DB."""
    from pyspark.sql import functions as F

    from synch_spark.session import read_table
    from synch_spark.sources.table import ParquetTable

    src_path = str(tmp_path / "src.parquet")
    read_table(spark, "/root/testdata/sf0.001", "region").write.parquet(src_path)

    def cfg_for(wh, ev):
        return {
            "core": {"insert_num": 1000, "insert_interval": 1},
            "source_dbs": [{"databases": [{"database": "db", "tables": [
                {"table": "region", "pk": ["r_regionkey"], "retain": 4}]}]}],
            "spark": {
                "warehouse": str(tmp_path / wh),
                "checkpoint_dir": str(tmp_path / f"ckpt-{wh}"),
                "events_dir": str(tmp_path / ev),
                "source_format": "parquet",
                "sources": {"db.region": src_path},
                "value_schemas": {
                    "db.region": spark.read.parquet(src_path).schema.jsonValue()
                },
            },
        }

    p1 = tmp_path / "a.yaml"
    p1.write_text(yaml.dump(cfg_for("whA", "evA")))
    assert main(["--config", str(p1), "produce", "--once"]) == 0
    assert main(["--config", str(p1), "consume", "--available-now"]) == 0
    a = ParquetTable(spark, str(tmp_path / "whA" / "db" / "region"), retain=4)
    v0 = a.current_version()

    # bootstrap B from A's snapshot (clone), before A moves on
    a.clone(str(tmp_path / "whB" / "db" / "region"))

    # A mutates: drop region 4, rename region 0
    cur = spark.read.parquet(src_path)
    cur.filter(F.col("r_regionkey") != 4).withColumn(
        "r_name", F.when(F.col("r_regionkey") == 0, F.lit("RENAMED"))
        .otherwise(F.col("r_name"))
    ).write.mode("overwrite").parquet(src_path + ".v2")
    c1 = cfg_for("whA", "evA")
    c1["spark"]["sources"]["db.region"] = src_path + ".v2"
    p1.write_text(yaml.dump(c1))
    assert main(["--config", str(p1), "produce", "--once"]) == 0
    assert main(["--config", str(p1), "consume", "--available-now"]) == 0

    # re-emit A's deltas into B's events_dir, then consume as usual
    c1b = cfg_for("whA", "evB")  # A's tables, B's broker boundary
    pb = tmp_path / "ab.yaml"
    pb.write_text(yaml.dump(c1b))
    capsys.readouterr()
    assert main(["--config", str(pb), "changes", "--table", "region",
                 "--from", str(v0), "--sink", "spool"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["events"] == 3  # delete(4) + update pair on 0
    p2 = tmp_path / "b.yaml"
    p2.write_text(yaml.dump(cfg_for("whB", "evB")))
    assert main(["--config", str(p2), "consume", "--available-now"]) == 0

    b = ParquetTable(spark, str(tmp_path / "whB" / "db" / "region"))
    want = {(r["r_regionkey"], r["r_name"]) for r in a.read().collect()}
    got = {(r["r_regionkey"], r["r_name"]) for r in b.read().collect()}
    assert got == want and len(got) == 4


@pytest.mark.slow
def test_cli_index_sync_from_change_feed(tmp_path, capsys, spark):
    """`index sync`: declared indexes follow their source table's change
    feed through the CLI — first sync builds, a merge + second sync
    un-indexes the deleted doc."""
    from pyspark.sql import functions as F

    from synch_spark.config import Engine, TableSpec
    from synch_spark.operators.cdc_apply import apply_cdc_batch
    from synch_spark.operators.dedup_index import DedupIndex
    from synch_spark.session import read_table
    from synch_spark.sources.table import ParquetTable

    wh = tmp_path / "wh"
    t = ParquetTable(spark, str(wh / "db" / "documents"), retain=4)
    docs = read_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text").filter(F.col("doc_id") < 40)
    t.overwrite(docs)
    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "documents", "pk": ["doc_id"], "retain": 4}]}]}],
        "spark": {
            "warehouse": str(wh),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "source_format": "parquet",
            "sources": {},
            "indexes": {
                "docs_lsh": {"kind": "lsh", "root": str(tmp_path / "idx"),
                             "source": "db.documents",
                             "text_col": "text", "id_col": "doc_id"},
            },
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    assert main(["--config", str(p), "index", "sync"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["indexes"]["docs_lsh"]["synced_to"] == t.current_version()

    idx = DedupIndex(spark, str(tmp_path / "idx"))
    assert idx.table.read().filter("id = 7").count() == idx.bands

    spec = TableSpec(schema="db", table="documents", pk=("doc_id",),
                     engine=Engine.REPLACING_MERGE_TREE)
    batch = spark.createDataFrame(
        [("delete", 7, None, 1)],
        "action string, doc_id long, text string, event_unixtime long",
    ).withColumn("action_seq", F.lit(0)) \
     .withColumn("schema", F.lit("db")).withColumn("table", F.lit("documents"))
    apply_cdc_batch(t, batch, spec, value_columns=["doc_id", "text"])
    assert main(["--config", str(p), "index", "sync", "--name", "docs_lsh"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["indexes"]["docs_lsh"]["synced_to"] == t.current_version()
    assert idx.table.read().filter("id = 7").count() == 0
    assert idx.signatures.read().filter("id = 7").count() == 0


@pytest.mark.slow
def test_cli_index_sync_semdedup_kind(tmp_path, capsys, spark):
    """`index sync` drives a SemDedupIndex: first sync builds (fixed
    centroids from centroid_filter), a source merge + second sync
    re-collapses only the touched blocks; the kept store matches a
    one-shot semantic_dedup over the final source state."""
    from pyspark.sql import functions as F

    from synch_spark.config import Engine, TableSpec
    from synch_spark.operators.cdc_apply import apply_cdc_batch
    from synch_spark.operators.semdedup_index import SemDedupIndex
    from synch_spark.operators.similarity import semantic_dedup
    from synch_spark.session import read_table
    from synch_spark.sources.table import ParquetTable

    wh = tmp_path / "wh"
    t = ParquetTable(spark, str(wh / "db" / "embeddings"), retain=4)
    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings") \
        .select("vec_id", "embedding").filter(F.col("vec_id") < 60)
    t.overwrite(emb)
    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "embeddings", "pk": ["vec_id"], "retain": 4}]}]}],
        "spark": {
            "warehouse": str(wh),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "source_format": "parquet",
            "sources": {},
            "indexes": {
                "emb_sd": {"kind": "semdedup",
                           "root": str(tmp_path / "sdidx"),
                           "source": "db.embeddings", "threshold": 0.35,
                           "centroid_filter": "vec_id < 4"},
            },
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    assert main(["--config", str(p), "index", "sync"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["indexes"]["emb_sd"]["synced_to"] == t.current_version()

    idx = SemDedupIndex(spark, str(tmp_path / "sdidx"), threshold=0.35)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").cast("int").alias("cid"),
        F.col("embedding").alias("cvec"))

    def one_shot(src_df):
        return {tuple(r) for r in
                semantic_dedup(src_df, cents, threshold=0.35).collect()}

    assert {tuple(r) for r in idx.read_kept().collect()} == one_shot(emb)

    # source mutates: delete one vector, then sync again
    spec = TableSpec(schema="db", table="embeddings", pk=("vec_id",),
                     engine=Engine.REPLACING_MERGE_TREE)
    batch = spark.createDataFrame(
        [("delete", 17, None, 1)],
        "action string, vec_id long, embedding array<float>, "
        "event_unixtime long",
    ).withColumn("action_seq", F.lit(0)) \
     .withColumn("schema", F.lit("db")) \
     .withColumn("table", F.lit("embeddings"))
    apply_cdc_batch(t, batch, spec, value_columns=["vec_id", "embedding"])
    assert main(["--config", str(p), "index", "sync",
                 "--name", "emb_sd"]) == 0
    assert {tuple(r) for r in idx.read_kept().collect()} == \
        one_shot(emb.filter(F.col("vec_id") != 17))


@pytest.mark.slow
def test_cli_index_sync_composite_pk_source(tmp_path, capsys, spark):
    """Composite-pk sources sync correctly: the FULL pk tuple is
    threaded into changes() (keying the feed's full-outer join on the
    truncated first column used to cross-product — tenant here is
    deliberately non-unique), while the index stays keyed on the
    single-valued id_col."""
    from pyspark.sql import functions as F

    from synch_spark.config import Engine, TableSpec
    from synch_spark.operators.cdc_apply import apply_cdc_batch
    from synch_spark.operators.dedup_index import DedupIndex
    from synch_spark.sources.table import ParquetTable

    wh = tmp_path / "wh"
    t = ParquetTable(spark, str(wh / "db" / "documents"), retain=4)
    rows = [(i % 3, i, f"document number {i} about topic {i % 5}")
            for i in range(30)]  # tenant 0..2 repeats: pk[0] alone is NOT unique
    t.overwrite(spark.createDataFrame(
        rows, "tenant long, doc_id long, text string"))
    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "documents", "pk": ["tenant", "doc_id"], "retain": 4}]}]}],
        "spark": {
            "warehouse": str(wh),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "source_format": "parquet",
            "sources": {},
            "indexes": {
                "docs_lsh": {"kind": "lsh", "root": str(tmp_path / "idx"),
                             "source": "db.documents",
                             "text_col": "text", "id_col": "doc_id"},
            },
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    assert main(["--config", str(p), "index", "sync"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["indexes"]["docs_lsh"]["synced_to"] == t.current_version()
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    assert idx.table.read().filter("id = 7").count() == idx.bands

    spec = TableSpec(schema="db", table="documents",
                     pk=("tenant", "doc_id"),
                     engine=Engine.REPLACING_MERGE_TREE)
    batch = spark.createDataFrame(
        [("delete", 1, 7, None, 1),
         ("insert", 2, 8, "completely rewritten text for doc eight", 2)],
        "action string, tenant long, doc_id long, text string, "
        "event_unixtime long",
    ).withColumn("action_seq", F.lit(0)) \
     .withColumn("schema", F.lit("db")).withColumn("table", F.lit("documents"))
    apply_cdc_batch(t, batch, spec, value_columns=["tenant", "doc_id", "text"])
    assert main(["--config", str(p), "index", "sync"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["indexes"]["docs_lsh"]["synced_to"] == t.current_version()
    assert idx.table.read().filter("id = 7").count() == 0, \
        "composite-keyed delete not propagated"
    assert idx.signatures.read().filter("id = 7").count() == 0
    # the update (tenant 2, doc 8) re-signed under the new text
    assert idx.signatures.read().filter("id = 8").count() == idx.num_hashes


@pytest.mark.slow
def test_cli_changes_follow_loop(tmp_path, capsys, spark):
    """`changes --follow`: the standing fan-out loop baselines on first
    run, emits exactly the new commits on later runs, checkpoints its
    cursor, and a downstream consumer converges."""
    from pyspark.sql import functions as F

    from synch_spark.config import Engine, TableSpec
    from synch_spark.operators.cdc_apply import apply_cdc_batch
    from synch_spark.session import read_table
    from synch_spark.sources.table import ParquetTable

    wh = tmp_path / "whA"
    t = ParquetTable(spark, str(wh / "db" / "region"), retain=4)
    region = read_table(spark, "/root/testdata/sf0.001", "region")
    t.overwrite(region)
    t.clone(str(tmp_path / "whB" / "db" / "region"))

    def cfg_for(warehouse, ev):
        return {
            "core": {"insert_num": 1000, "insert_interval": 1},
            "source_dbs": [{"databases": [{"database": "db", "tables": [
                {"table": "region", "pk": ["r_regionkey"], "retain": 4}]}]}],
            "spark": {
                "warehouse": str(tmp_path / warehouse),
                "checkpoint_dir": str(tmp_path / f"ck-{warehouse}"),
                "events_dir": str(tmp_path / ev),
                "source_format": "parquet",
                "sources": {},
                "value_schemas": {"db.region": region.schema.jsonValue()},
            },
        }

    pa = tmp_path / "a.yaml"
    pa.write_text(yaml.dump(cfg_for("whA", "evB")))
    # round 1: baseline — nothing emitted, cursor set
    assert main(["--config", str(pa), "changes", "--table", "region",
                 "--follow", "--rounds", "1", "--sink", "spool"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["events"] == 0

    spec = TableSpec(schema="db", table="region", pk=("r_regionkey",),
                     engine=Engine.REPLACING_MERGE_TREE)
    batch = spark.createDataFrame(
        [("delete", 4, None, None, 1),
         ("insert", 0, "RENAMED", "c0", 1)],
        "action string, r_regionkey long, r_name string, r_comment string, "
        "event_unixtime long",
    ).withColumn("action_seq", F.lit(0)) \
     .withColumn("schema", F.lit("db")).withColumn("table", F.lit("region"))
    apply_cdc_batch(t, batch, spec,
                    value_columns=["r_regionkey", "r_name", "r_comment"])

    # round 2: the new commit flows; round 3: cursor says nothing new
    assert main(["--config", str(pa), "changes", "--table", "region",
                 "--follow", "--rounds", "1", "--sink", "spool"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["events"] == 3  # delete + update pre/post pair
    assert main(["--config", str(pa), "changes", "--table", "region",
                 "--follow", "--rounds", "1", "--sink", "spool"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["events"] == 0
    capsys.readouterr()

    pb = tmp_path / "b.yaml"
    pb.write_text(yaml.dump(cfg_for("whB", "evB")))
    assert main(["--config", str(pb), "consume", "--available-now"]) == 0
    b = ParquetTable(spark, str(tmp_path / "whB" / "db" / "region"))
    got = {(r["r_regionkey"], r["r_name"]) for r in b.read().collect()}
    want = {(r["r_regionkey"], r["r_name"]) for r in t.read().collect()}
    assert got == want and len(got) == 4


def test_cli_replay_binlog_follow_ships_on_rotation(tmp_path, capsys, spark):
    """`replay-binlog --follow`: the active (newest) file is never
    decoded; each file ships exactly once when a newer file appears;
    the cursor survives invocations; the shipped events apply."""
    from synch_spark.sources import binlog_file as B
    from synch_spark.sources.table import ParquetTable
    from tests.binlog_builder import BinlogBuilder

    blog = tmp_path / "binlogs"
    blog.mkdir()
    cols = [("id", B.T_LONG, 0), ("name", B.T_VARCHAR, 64)]

    def write_file(seq, rows):
        b = BinlogBuilder()
        b.table_map(7, "db", "t", cols, names_tlv=True)
        b.insert(7, *rows)
        (blog / f"binlog.{seq:06d}").write_bytes(b.bytes())

    write_file(1, [(1, "a"), (2, "b")])
    write_file(2, [(3, "c")])

    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "t", "pk": ["id"]}]}]}],
        "spark": {
            "warehouse": str(tmp_path / "wh"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "events_dir": str(tmp_path / "events"),
            "source_format": "parquet",
            "sources": {},
            "value_schemas": {"db.t": {
                "type": "struct", "fields": [
                    {"name": "id", "type": "long", "nullable": True,
                     "metadata": {}},
                    {"name": "name", "type": "string", "nullable": True,
                     "metadata": {}},
                ]}},
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))

    # round 1: file 1 ships (file 2 is active), cursor lands
    assert main(["--config", str(p), "replay-binlog", "--path", str(blog),
                 "--follow", "--rounds", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["events"] == 2 and out["shipped_through"] == "binlog.000001"

    # nothing rotated: nothing ships
    assert main(["--config", str(p), "replay-binlog", "--path", str(blog),
                 "--follow", "--rounds", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["events"] == 0

    # file 3 appears -> file 2 completed -> ships
    write_file(3, [(4, "d")])
    assert main(["--config", str(p), "replay-binlog", "--path", str(blog),
                 "--follow", "--rounds", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["events"] == 1 and out["shipped_through"] == "binlog.000002"
    capsys.readouterr()

    assert main(["--config", str(p), "consume", "--available-now"]) == 0
    t = ParquetTable(spark, str(tmp_path / "wh" / "db" / "t"))
    got = {(r["id"], r["name"]) for r in t.read().collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}  # file 3 not shipped yet


@pytest.mark.slow
def test_cli_replay_wal_follow_tails_complete_lines(tmp_path, capsys, spark):
    """`replay-wal --follow`: a torn trailing line waits for its
    newline; completed lines ship exactly once past the byte cursor;
    consume applies them."""
    from synch_spark.sources.table import ParquetTable

    dump = tmp_path / "wal.json"

    def payload(rid, name):
        return ('{"change":[{"kind":"insert","schema":"db","table":"t",'
                '"columnnames":["id","name"],"columnvalues":['
                f'{rid},"{name}"' ']}]}')

    # one complete line + one torn line (no trailing newline)
    dump.write_text(payload(1, "a") + "\n" + payload(2, "b"))

    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "t", "pk": ["id"]}]}]}],
        "spark": {
            "warehouse": str(tmp_path / "wh"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "events_dir": str(tmp_path / "events"),
            "source_format": "parquet",
            "sources": {},
            "value_parse": "string",  # PG wire format carries TEXT values
            "value_schemas": {"db.t": {
                "type": "struct", "fields": [
                    {"name": "id", "type": "long", "nullable": True,
                     "metadata": {}},
                    {"name": "name", "type": "string", "nullable": True,
                     "metadata": {}},
                ]}},
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))

    assert main(["--config", str(p), "replay-wal", "--path", str(dump),
                 "--follow", "--rounds", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["events"] == 1, "torn line must not ship"

    # complete the torn line and append a third payload
    with open(dump, "a") as f:
        f.write("\n" + payload(3, "c") + "\n")
    assert main(["--config", str(p), "replay-wal", "--path", str(dump),
                 "--follow", "--rounds", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["events"] == 2

    # idle poll: nothing new
    assert main(["--config", str(p), "replay-wal", "--path", str(dump),
                 "--follow", "--rounds", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["events"] == 0
    capsys.readouterr()

    assert main(["--config", str(p), "consume", "--available-now"]) == 0
    t = ParquetTable(spark, str(tmp_path / "wh" / "db" / "t"))
    got = {(r["id"], r["name"]) for r in t.read().collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_cli_etl_multi_table_and_consume_etl_first(tmp_path, capsys, spark):
    """Reference-parity flags: `etl --table a,b` runs several tables
    (ref -t is repeatable), and `consume --etl-first` bootstraps any
    missing table from its source before streaming (ref cli.py:75-77)."""
    from synch_spark.session import read_table
    from synch_spark.sources.table import ParquetTable

    srcs = {}
    for t in ("region", "nation"):
        path = str(tmp_path / f"{t}.parquet")
        read_table(spark, "/root/testdata/sf0.001", t).write.parquet(path)
        srcs[f"db.{t}"] = path
    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "region", "pk": ["r_regionkey"]},
            {"table": "nation", "pk": ["n_nationkey"]}]}]}],
        "spark": {
            "warehouse": str(tmp_path / "wh"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "events_dir": str(tmp_path / "events"),
            "source_format": "parquet",
            "sources": srcs,
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    assert main(["--config", str(p), "etl", "--table", "region,nation"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["etl"] == {"db.region": True, "db.nation": True}

    # wipe the warehouse; --etl-first re-bootstraps before draining an
    # empty broker boundary
    import shutil as _sh

    _sh.rmtree(tmp_path / "wh")
    (tmp_path / "events").mkdir(exist_ok=True)
    assert main(["--config", str(p), "consume", "--available-now",
                 "--etl-first"]) == 0
    capsys.readouterr()
    for t, n in (("region", 5), ("nation", 25)):
        got = ParquetTable(spark, str(tmp_path / "wh" / "db" / t)).read().count()
        assert got == n, (t, got)


@pytest.mark.slow
def test_cli_collapsing_table_replication_semantics(tmp_path, capsys, spark):
    """Collapsing-engine table-to-table replication: ±sign storage rows
    ship through `changes --follow` with the sign-aware action mapping
    (a -1 cancel row must arrive as a delete so the downstream append
    re-derives -1), and the downstream ENGINE VIEW equals upstream's —
    including a delete that cancels an earlier insert."""
    from pyspark.sql import functions as F

    from synch_spark.config import Engine, TableSpec
    from synch_spark.operators.cdc_apply import apply_cdc_batch, read_current_state
    from synch_spark.sources.table import ParquetTable

    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.COLLAPSING_MERGE_TREE)
    a = ParquetTable(spark, str(tmp_path / "whA" / "db" / "t"), retain=6)

    def batch(rows):
        return spark.createDataFrame(
            rows, "action string, k long, v double, event_unixtime long"
        ).withColumn("action_seq", F.lit(0)) \
         .withColumn("schema", F.lit("db")).withColumn("table", F.lit("t"))

    apply_cdc_batch(a, batch([("insert", 1, 1.0, 10), ("insert", 2, 2.0, 11)]),
                    spec, value_columns=["k", "v"])
    v0 = a.current_version()
    a.clone(str(tmp_path / "whB" / "db" / "t"))

    # upstream keeps moving: k3 arrives, k1 is deleted (a -1 cancel row)
    apply_cdc_batch(a, batch([("insert", 3, 3.0, 12)]),
                    spec, value_columns=["k", "v"])
    apply_cdc_batch(a, batch([("delete", 1, 1.0, 13)]),
                    spec, value_columns=["k", "v"])

    def cfg_for(wh):
        return {
            "core": {"insert_num": 1000, "insert_interval": 1},
            "source_dbs": [{"databases": [{"database": "db", "tables": [
                {"table": "t", "pk": ["k"], "retain": 6,
                 "clickhouse_engine": "collapsing_merge_tree"}]}]}],
            "spark": {
                "warehouse": str(tmp_path / wh),
                "checkpoint_dir": str(tmp_path / f"ck-{wh}"),
                "events_dir": str(tmp_path / "ev"),
                "source_format": "parquet",
                "sources": {},
                "value_schemas": {"db.t": {
                    "type": "struct", "fields": [
                        {"name": "k", "type": "long", "nullable": True,
                         "metadata": {}},
                        {"name": "v", "type": "double", "nullable": True,
                         "metadata": {}},
                    ]}},
            },
        }

    pa = tmp_path / "a.yaml"
    pa.write_text(yaml.dump(cfg_for("whA")))
    assert main(["--config", str(pa), "changes", "--table", "t", "--follow",
                 "--from", str(v0), "--rounds", "1", "--sink", "spool"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["events"] == 2  # +1 row for k3, -1 cancel row for k1
    capsys.readouterr()

    pb = tmp_path / "b.yaml"
    pb.write_text(yaml.dump(cfg_for("whB")))
    assert main(["--config", str(pb), "consume", "--available-now"]) == 0

    b = ParquetTable(spark, str(tmp_path / "whB" / "db" / "t"))
    va = {(r["k"], r["v"]) for r in read_current_state(a, spec).collect()}
    vb = {(r["k"], r["v"]) for r in read_current_state(b, spec).collect()}
    assert va == vb == {(2, 2.0), (3, 3.0)}, (va, vb)


def test_cli_replay_binlog_follow_numeric_rollover_and_index_file(tmp_path, capsys, spark):
    """Rotation ordering is NUMERIC, not lexicographic: binlog.1000000
    follows binlog.999999 (as strings it sorts before it), and a
    mysql-bin.index file neither ships nor masquerades as the active
    file."""
    from synch_spark.sources import binlog_file as B
    from tests.binlog_builder import BinlogBuilder

    blog = tmp_path / "binlogs"
    blog.mkdir()
    cols = [("id", B.T_LONG, 0), ("name", B.T_VARCHAR, 64)]

    def write_file(name, rows):
        b = BinlogBuilder()
        b.table_map(7, "db", "t", cols, names_tlv=True)
        b.insert(7, *rows)
        (blog / name).write_bytes(b.bytes())

    write_file("binlog.999999", [(1, "a")])
    write_file("binlog.1000000", [(2, "b")])  # lexicographically SMALLER
    (blog / "mysql-bin.index").write_text("binlog.999999\nbinlog.1000000\n")

    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "t", "pk": ["id"]}]}]}],
        "spark": {
            "warehouse": str(tmp_path / "wh"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "events_dir": str(tmp_path / "events"),
            "source_format": "parquet", "sources": {},
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))

    # 999999 ships; 1000000 is the ACTIVE file (highest numeric seq)
    assert main(["--config", str(p), "replay-binlog", "--path", str(blog),
                 "--follow", "--rounds", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["events"] == 1 and out["shipped_through"] == "binlog.999999"

    # rollover completes: 1000001 appears -> 1000000 ships (post-rollover
    # files must not be stuck behind the lexicographically-larger cursor)
    write_file("binlog.1000001", [(3, "c")])
    assert main(["--config", str(p), "replay-binlog", "--path", str(blog),
                 "--follow", "--rounds", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["events"] == 1 and out["shipped_through"] == "binlog.1000000"


def test_cli_replay_wal_follow_detects_regrown_rotation(tmp_path, capsys, spark):
    """logrotate swaps the dump and the NEW file grows past the old
    offset before the next poll: the head fingerprint must reset the
    cursor so the new segment ships from byte 0 (a size check alone
    would resume mid-file and lose its first events)."""
    dump = tmp_path / "wal.json"

    def payload(rid):
        return ('{"change":[{"kind":"insert","schema":"db","table":"t",'
                '"columnnames":["id"],"columnvalues":[' f"{rid}" ']}]}')

    dump.write_text(payload(1) + "\n")
    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "t", "pk": ["id"]}]}]}],
        "spark": {
            "warehouse": str(tmp_path / "wh"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "events_dir": str(tmp_path / "events"),
            "source_format": "parquet", "sources": {},
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    assert main(["--config", str(p), "replay-wal", "--path", str(dump),
                 "--follow", "--rounds", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["events"] == 1

    # rotate: NEW segment, already LARGER than the old offset
    dump.write_text(payload(101) + "\n" + payload(102) + "\n"
                    + payload(103) + "\n")
    assert main(["--config", str(p), "replay-wal", "--path", str(dump),
                 "--follow", "--rounds", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["events"] == 3, "regrown rotation lost the segment head"


def test_cli_changes_follow_cursors_are_per_destination(tmp_path, capsys, spark):
    """Two downstream consumers on the same sink KIND (different
    events_dirs) each keep their own cursor — the second must not be
    starved by the first's position."""
    from pyspark.sql import functions as F

    from synch_spark.config import Engine, TableSpec
    from synch_spark.operators.cdc_apply import apply_cdc_batch
    from synch_spark.session import read_table
    from synch_spark.sources.table import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "wh" / "db" / "region"), retain=4)
    region = read_table(spark, "/root/testdata/sf0.001", "region")
    t.overwrite(region)
    v0 = t.current_version()
    spec = TableSpec(schema="db", table="region", pk=("r_regionkey",),
                     engine=Engine.REPLACING_MERGE_TREE)
    batch = spark.createDataFrame(
        [("delete", 4, None, None, 1)],
        "action string, r_regionkey long, r_name string, r_comment string, "
        "event_unixtime long",
    ).withColumn("action_seq", F.lit(0)) \
     .withColumn("schema", F.lit("db")).withColumn("table", F.lit("region"))
    apply_cdc_batch(t, batch, spec,
                    value_columns=["r_regionkey", "r_name", "r_comment"])

    def cfg_for(ev):
        return {
            "core": {"insert_num": 1000, "insert_interval": 1},
            "source_dbs": [{"databases": [{"database": "db", "tables": [
                {"table": "region", "pk": ["r_regionkey"], "retain": 4}]}]}],
            "spark": {
                "warehouse": str(tmp_path / "wh"),
                "checkpoint_dir": str(tmp_path / f"ck-{ev}"),
                "events_dir": str(tmp_path / ev),
                "source_format": "parquet", "sources": {},
            },
        }

    for ev in ("ev1", "ev2"):
        pc = tmp_path / f"{ev}.yaml"
        pc.write_text(yaml.dump(cfg_for(ev)))
        assert main(["--config", str(pc), "changes", "--table", "region",
                     "--follow", "--from", str(v0), "--rounds", "1",
                     "--sink", "spool"]) == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["events"] == 1, f"destination {ev} starved"

def test_cli_mv_create_validates_before_writing_spec(tmp_path, capsys, spark):
    """Missing --sum / --source must be a clean usage error; a create
    against a missing source table must exit 1 WITHOUT persisting a
    spec file (a {\"source\": null} spec breaks every later mv verb)."""
    import os

    wh = str(tmp_path / "wh")
    cfg_path = _write_cfg(tmp_path, wh)
    # missing --sum: exit 2, no traceback
    rc = main(["--config", cfg_path, "mv", "create", "--name", "v",
               "--source", "db.customer", "--group-by", "c_nationkey"])
    assert rc == 2
    assert "required" in capsys.readouterr().err
    assert not os.path.exists(f"{wh}/_mv/v"), "spec persisted on usage error"
    # missing source table: exit 1, still no spec
    rc = main(["--config", cfg_path, "mv", "create", "--name", "v",
               "--source", "db.typo", "--group-by", "a", "--sum", "x"])
    assert rc == 1
    assert "not found" in capsys.readouterr().err
    assert not os.path.exists(f"{wh}/_mv/v")


def test_cli_replay_binlog_follow_sequence_reset(tmp_path, capsys, spark):
    """RESET MASTER re-numbers binlogs from .000001; a cursor stuck at a
    higher seq must detect the reset (cursor file gone + all visible
    seqs below) and re-baseline instead of silently shipping nothing
    forever."""
    from synch_spark.sources import binlog_file as B
    from tests.binlog_builder import BinlogBuilder

    blog = tmp_path / "binlogs"
    blog.mkdir()
    cols = [("id", B.T_LONG, 0), ("name", B.T_VARCHAR, 64)]

    def write_file(name, rows):
        b = BinlogBuilder()
        b.table_map(7, "db", "t", cols, names_tlv=True)
        b.insert(7, *rows)
        (blog / name).write_bytes(b.bytes())

    cfg = {
        "core": {"insert_num": 100, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "t", "pk": ["id"]}]}]}],
        "spark": {"warehouse": str(tmp_path / "wh"),
                  "checkpoint_dir": str(tmp_path / "ckpt"),
                  "events_dir": str(tmp_path / "ev"), "sources": {}},
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))

    write_file("binlog.000041", [(1, "a")])
    write_file("binlog.000042", [(2, "b")])  # active, never shipped
    assert main(["--config", str(p), "replay-binlog", "--path", str(blog),
                 "--follow", "--rounds", "1", "--sink", "spool"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["shipped_through"] == "binlog.000041"

    # RESET MASTER: all old files gone, numbering restarts
    for f in blog.iterdir():
        f.unlink()
    write_file("binlog.000001", [(3, "c")])
    write_file("binlog.000002", [(4, "d")])  # active
    assert main(["--config", str(p), "replay-binlog", "--path", str(blog),
                 "--follow", "--rounds", "1", "--sink", "spool"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["shipped_through"] == "binlog.000001", \
        "sequence reset not detected: new events silently dropped"
    assert out["events"] == 1


@pytest.mark.slow
def test_cli_status_snapshot(tmp_path, capsys, spark):
    """`status`: after a produce+consume cycle the snapshot reports the
    table's version/layout, the latest producer/consumer monitor rows,
    an EXACT spool backlog (files on disk minus checkpoint-committed),
    and stays best-effort when pieces are missing."""
    import glob
    import json as _json
    import os

    import yaml

    from synch_spark.cli import main

    from pyspark.sql import types as T

    src = tmp_path / "src"
    spark.range(10).selectExpr("id", "CAST(id AS DOUBLE) AS amount") \
        .write.parquet(str(src / "db.t"))
    ev_dir = tmp_path / "events"
    vschema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("amount", T.DoubleType()),
    ])
    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "t", "pk": ["id"]}]}]}],
        "spark": {
            "warehouse": str(tmp_path / "wh"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "events_dir": str(ev_dir),
            "sources": {"db.t": str(src / "db.t")},
            "value_schemas": {"db.t": vschema.jsonValue()},
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    assert main(["--config", str(p), "produce", "--once"]) == 0
    assert main(["--config", str(p), "consume", "--available-now"]) == 0
    capsys.readouterr()
    assert main(["--config", str(p), "status", "--counts"]) == 0
    out = _json.loads(capsys.readouterr().out)
    t = out["tables"]["db.t"]
    assert t["exists"] and t["rows"] == 10 and t["files"]["files"] >= 1
    assert t["last_producer"]["num"] == 10
    assert t["last_consumer"]["num"] == 10
    # the same counts, read straight from the two tables' commit records
    from synch_spark.sources.table import ParquetTable

    wh = tmp_path / "wh"
    state = ParquetTable(spark, str(wh / "_producer_state" / "db" / "t"))
    target = ParquetTable(spark, str(wh / "db" / "t"))
    assert state.history()[-1]["info"]["num"] == 10
    assert target.history()[-1]["info"]["num"] == 10
    assert t["last_consumer"]["at"] == target.history()[-1]["committed_at"]
    sp = out["spool"]
    n_disk = len([f for f in glob.glob(str(ev_dir / "*"))
                  if os.path.isfile(f)])
    assert sp["files_on_disk"] == n_disk
    assert sp["backlog_files"] == 0, "everything consumed => no backlog"
    # an UNCONSUMED file shows up as backlog with its byte size
    extra = ev_dir / "zz_new.json"
    extra.write_text('{"schema":"db","table":"t","action":"insert",'
                     '"before":null,"after":"{\\"id\\":11,\\"amount\\":1.0}",'
                     '"event_unixtime":999}\n')
    capsys.readouterr()
    assert main(["--config", str(p), "status"]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert out["spool"]["backlog_files"] == 1
    assert out["spool"]["backlog_bytes"] == extra.stat().st_size


def test_cli_status_reads_commit_records(tmp_path, capsys, spark):
    """`status` takes a table's last consumer batch from the monitor
    record in the target's newest commit: one apply_batch, no produce
    step, no monitor table, and no producer record to report."""
    import yaml

    from synch_spark.config import SyncConfig, TableSpec
    from synch_spark.events import RAW_EVENT_SCHEMA
    from synch_spark.sources.table import ParquetTable
    from synch_spark.streaming.pipeline import CdcPipeline
    from pyspark.sql import types as T

    wh = tmp_path / "wh"
    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "t", "pk": ["id"]}]}]}],
        "spark": {"warehouse": str(wh),
                  "checkpoint_dir": str(tmp_path / "ckpt")},
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    sc = SyncConfig()
    sc.add_table(TableSpec(schema="db", table="t", pk=("id",)))
    pipe = CdcPipeline(
        spark=spark, cfg=sc, warehouse=str(wh),
        checkpoint_dir=str(tmp_path / "ckpt"),
        value_schemas={"db.t": T.StructType(
            [T.StructField("id", T.LongType())])})
    rows = [("db", "t", "insert", None, f'{{"id": {i}}}', 100 + i)
            for i in range(3)]
    pipe.apply_batch(spark.createDataFrame(rows, RAW_EVENT_SCHEMA), 4)
    capsys.readouterr()
    assert main(["--config", str(p), "status"]) == 0
    t = json.loads(capsys.readouterr().out)["tables"]["db.t"]
    newest = ParquetTable(spark, str(wh / "db" / "t")).history()[-1]
    assert newest["info"] == {"alias": "default", "batch": 4, "num": 3,
                              "type": 2}
    assert t["last_consumer"] == {"num": 3, "at": newest["committed_at"]}
    assert "last_producer" not in t
    assert not (wh / "_synch_log").exists()


@pytest.mark.slow
def test_consume_infers_missing_value_schema(tmp_path, capsys, spark):
    """An undeclared value schema previously dead-lettered EVERY event
    for the table; consume now infers it from the configured source
    path (first run) or the materialized target (later runs), with
    explicit spark.value_schemas still winning."""
    import json as _json

    import yaml

    from synch_spark.cli import main
    from synch_spark.sources.table import ParquetTable

    src = tmp_path / "src"
    spark.range(5).selectExpr("id", "CAST(id AS DOUBLE) AS amount") \
        .write.parquet(str(src / "db.t"))
    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "t", "pk": ["id"]}]}]}],
        "spark": {
            "warehouse": str(tmp_path / "wh"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "events_dir": str(tmp_path / "events"),
            "sources": {"db.t": str(src / "db.t")},
            # no value_schemas on purpose
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    assert main(["--config", str(p), "produce", "--once"]) == 0
    assert main(["--config", str(p), "consume", "--available-now"]) == 0
    err = capsys.readouterr().err
    assert "value schema for db.t inferred (source)" in err
    t = ParquetTable(spark, str(tmp_path / "wh" / "db" / "t"))
    assert t.exists and t.count() == 5
    dl = ParquetTable(spark, str(tmp_path / "wh" / "_synch_dead_letter_events"))
    assert not dl.exists, "inference must prevent the dead-letter path"
    # second cycle: the target now exists and is the inference source
    spark.range(5, 7).selectExpr("id", "CAST(id AS DOUBLE) AS amount") \
        .write.mode("overwrite").parquet(str(src / "db.t"))
    assert main(["--config", str(p), "produce", "--once"]) == 0
    assert main(["--config", str(p), "consume", "--available-now"]) == 0
    assert "inferred (target)" in capsys.readouterr().err


def test_consume_refuses_archive_dir_without_clean_mode(tmp_path, capsys):
    """spool_archive_dir without spool_clean LOOKS enabled but sets no
    source option — refuse instead of silently growing the spool."""
    import yaml

    from synch_spark.cli import main

    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "t", "pk": ["id"]}]}]}],
        "spark": {
            "warehouse": str(tmp_path / "wh"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "events_dir": str(tmp_path / "events"),
            "sources": {},
            "spool_archive_dir": str(tmp_path / "archive"),
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    import pytest as _pytest
    with _pytest.raises(SystemExit, match="spool_clean"):
        main(["--config", str(p), "consume", "--available-now"])


def test_cli_status_reports_index_lag(tmp_path, capsys, spark):
    """`status` surfaces declared-index sync lag: caught-up after a
    sync (lag 0), behind by N after N more source commits, never-built
    as a null cursor."""
    from pyspark.sql import functions as F

    from synch_spark.config import Engine, TableSpec
    from synch_spark.operators.cdc_apply import apply_cdc_batch
    from synch_spark.session import read_table
    from synch_spark.sources.table import ParquetTable

    wh = tmp_path / "wh"
    t = ParquetTable(spark, str(wh / "db" / "documents"), retain=6)
    docs = read_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text").filter(F.col("doc_id") < 30)
    t.overwrite(docs)
    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "documents", "pk": ["doc_id"], "retain": 6}]}]}],
        "spark": {
            "warehouse": str(wh),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "source_format": "parquet",
            "sources": {},
            "indexes": {
                "docs_lsh": {"kind": "lsh", "root": str(tmp_path / "idx"),
                             "source": "db.documents",
                             "text_col": "text", "id_col": "doc_id"},
            },
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    # never built: null cursor
    assert main(["--config", str(p), "status"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["indexes"]["docs_lsh"]["synced_version"] is None
    # built and caught up: lag 0
    assert main(["--config", str(p), "index", "sync"]) == 0
    capsys.readouterr()
    assert main(["--config", str(p), "status"]) == 0
    out = json.loads(capsys.readouterr().out)
    ix = out["indexes"]["docs_lsh"]
    assert ix["lag_commits"] == 0 and ix["pending"] is False
    # one more source commit: lag 1
    spec = TableSpec(schema="db", table="documents", pk=("doc_id",),
                     engine=Engine.REPLACING_MERGE_TREE)
    batch = spark.createDataFrame(
        [("delete", 3, None, 1)],
        "action string, doc_id long, text string, event_unixtime long",
    ).withColumn("action_seq", F.lit(0)) \
     .withColumn("schema", F.lit("db")).withColumn("table", F.lit("documents"))
    apply_cdc_batch(t, batch, spec, value_columns=["doc_id", "text"])
    capsys.readouterr()
    assert main(["--config", str(p), "status"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["indexes"]["docs_lsh"]["lag_commits"] == 1


def test_produce_kafka_sink_needs_no_events_dir(tmp_path, capsys):
    """--sink kafka must not KeyError on a missing spark.events_dir
    (the spool dir is only the spool sink's concern); the kafka config
    validation itself still runs."""
    import yaml

    from synch_spark.cli import main

    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "t", "pk": ["id"]}]}]}],
        "spark": {
            "warehouse": str(tmp_path / "wh"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "sources": {},
            # no events_dir, no kafka block: the SINK validation fires,
            # not a KeyError about the spool dir
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    import pytest as _pytest
    with _pytest.raises(SystemExit) as e:
        main(["--config", str(p), "produce", "--once", "--sink", "kafka"])
    assert "kafka" in str(e.value).lower()


def test_mv_create_validates_dim_before_persisting(tmp_path, capsys, spark):
    """A typo'd --dim-source must fail BEFORE the spec persists —
    not leave a broken view behind after paying a full build."""
    import os

    import yaml

    from synch_spark.cli import main
    from synch_spark.sources.table import ParquetTable

    src_path = str(tmp_path / "region.parquet")
    spark.read.parquet("/root/testdata/sf0.001/region.parquet") \
        .write.parquet(src_path)
    cfg = {
        "core": {"insert_num": 10000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "region", "pk": ["r_regionkey"]}]}]}],
        "spark": {
            "warehouse": str(tmp_path / "wh"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "events_dir": str(tmp_path / "events"),
            "sources": {"db.region": src_path},
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    assert main(["--config", str(p), "produce", "--once"]) == 0
    assert main(["--config", str(p), "consume", "--available-now"]) == 0
    capsys.readouterr()
    rc = main(["--config", str(p), "mv", "create", "--name", "broken",
               "--source", "db.region", "--group-by", "r_regionkey",
               "--sum", "r_regionkey",
               "--dim-source", "db.nope", "--dim-key", "r_regionkey",
               "--dim-group", "r_name"])
    assert rc == 1
    assert "db.nope" in capsys.readouterr().err
    # nothing persisted: the view root must not exist
    mv_root = os.path.join(str(tmp_path / "wh"), "_mv", "broken")
    assert not os.path.exists(mv_root), "broken view spec must not persist"


def test_cli_status_spool_reads_compacted_source_log(tmp_path, capsys):
    """After Spark compacts the file-source metadata log (every ~10
    batches) committed paths live in N.compact, not digit files —
    status must parse the newest committed compact or long-running
    consumers over-report consumed files as backlog."""
    import json as _json

    import yaml

    from synch_spark.cli import main

    ev_dir = tmp_path / "events"
    ev_dir.mkdir()
    consumed = ev_dir / "a.json"
    consumed.write_text("{}\n")
    fresh = ev_dir / "b.json"
    fresh.write_text("{}\n")
    ckpt = tmp_path / "ckpt"
    src_log = ckpt / "sources" / "0"
    src_log.mkdir(parents=True)
    commits = ckpt / "commits"
    commits.mkdir()
    # batches 0..3 committed; the source log was compacted at batch 3 so
    # only 3.compact (carrying a.json) remains — no digit files at all
    for b in range(4):
        (commits / str(b)).write_text("v1\n{}")
    (src_log / "3.compact").write_text(
        "v1\n"
        + _json.dumps({"path": consumed.as_uri(), "timestamp": 1,
                       "batchId": 0}) + "\n")
    # a LATER compact whose batch is NOT committed must be ignored
    (src_log / "9.compact").write_text(
        "v1\n" + _json.dumps({"path": fresh.as_uri(), "timestamp": 2,
                              "batchId": 9}) + "\n")
    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "db", "tables": [
            {"table": "t", "pk": ["id"]}]}]}],
        "spark": {
            "warehouse": str(tmp_path / "wh"),
            "checkpoint_dir": str(ckpt),
            "events_dir": str(ev_dir),
            "sources": {},
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    capsys.readouterr()
    assert main(["--config", str(p), "status"]) == 0
    out = _json.loads(capsys.readouterr().out)
    sp = out["spool"]
    assert sp["files_on_disk"] == 2
    assert sp["files_committed"] == 1, \
        "a.json committed via 3.compact must not count as backlog"
    assert sp["backlog_files"] == 1, \
        "b.json (only in the uncommitted 9.compact) stays backlog"
