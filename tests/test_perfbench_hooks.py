"""The replication benchmark's traced run (``perfbench/run.py --trace
1``) wraps public names of ``synch_spark`` from outside
(``perfbench/layers.py``) and reads some of their arguments by
position. These tests keep those names and call shapes working, so a
rename or a reordered signature fails here instead of in a traced
benchmark run."""

from __future__ import annotations

import os
import sys

from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import layers  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402


def test_layer_hooks_resolve_record_and_restore(spark, tmp_path):
    from synch_spark.config import SyncConfig, TableSpec
    from synch_spark.events import RAW_EVENT_SCHEMA
    from synch_spark.streaming.pipeline import CdcPipeline

    cfg = SyncConfig()
    cfg.add_table(TableSpec(schema="db", table="t", pk=("id",)))
    pipe = CdcPipeline(
        spark=spark, cfg=cfg, warehouse=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        value_schemas={"db.t": T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType())])})
    # a table with one file, so the batch below merges into it
    pipe.table_for(cfg.tables["db.t"]).overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
        .coalesce(1), key="id")

    tracer = Tracer()
    layers.install(tracer)  # getattr on every name: a missing one raises
    patched = list(tracer._patches)
    try:
        assert patched
        for owner, attr, orig in patched:
            assert getattr(owner, attr) is not orig, attr
        rows = [("db", "t", "update", '{"id": 1, "v": "a"}',
                 '{"id": 1, "v": "z"}', 100)]
        pipe.apply_batch(spark.createDataFrame(rows, RAW_EVENT_SCHEMA), 1)
    finally:
        tracer.restore()
    for owner, attr, orig in patched:
        assert getattr(owner, attr) is orig, f"{attr} not restored"

    names = [s["name"] for s in tracer.spans]
    for name in ("streaming.monitor_row", "cdc_apply.apply",
                 "table.cow_commit"):
        assert names.count(name) == 1, (name, names)
    # the commit hook reads remove_rels / expected_base by position
    cow = next(s for s in tracer.spans if s["name"] == "table.cow_commit")
    assert cow["removed"] == 0 and cow["live"] == 1
