"""CDC apply: compact a micro-batch of change events and merge into the target.

This is the Spark-native rewrite of the reference's consumer flush
(/root/reference/synch/replication/continuous.py:102-154) and the
engine-specific ``handle_event`` accumulators:

- W3 in-batch last-wins dedup: the reference keeps a dict keyed by pk so
  a later event for the same pk overwrites an earlier one
  (/root/reference/synch/writer/merge_tree.py:63-85). Here: window over
  pk ordered by (event_unixtime desc, action_seq desc), row_number()=1 —
  a single pk-partitioned exchange, map-side combinable, skew-safe
  under AQE.
- W5 delete-before-insert: the reference issues ALTER DELETE for all
  deleted pks before the batch insert
  (/root/reference/synch/replication/continuous.py:122-135). Compaction
  makes this order-free: each pk resolves to ONE net action (the
  latest), so delete+reinsert in one batch nets to insert, and
  insert+delete nets to delete. Equivalent final state, one pass.
- The merge itself is MERGE emulation without Delta, one path for
  every pk-keyed table (partitioned or not, with or without key stats):
  the stats+bloom pruned candidate files are semi-joined with the
  batch's pks to find the (file, row position) of every superseded
  target row; each touched file gets a deletion vector masking those
  rows (ClickHouse lightweight DELETE, Delta deletion vectors), and
  only the net upserts are written. No file is rewritten; a file whose
  rows are all masked is removed instead.
- W6 collapsing engines never merge: they append sign-annotated rows
  (/root/reference/synch/writer/collapsing_merge_tree.py:37-58); state
  is recovered at read time by engines.collapsing_view.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window as W, functions as F

from synch_spark.config import Engine, TableSpec, WIRE_SEQ_COL
from synch_spark.operators import engines
from synch_spark.sources.table import ParquetTable


def compact_batch(events: DataFrame, pk: tuple[str, ...]) -> DataFrame:
    """W3: reduce a batch to one net event per pk (last-wins).

    ``events`` must already have typed row columns (events.parse_values)
    including the pk columns, plus action/event_unixtime/action_seq.
    When the frame carries the decoder-attached wire-order column
    (events.WIRE_SEQ_COL), it breaks event_unixtime ties BEFORE
    action_seq: distinct wire changes sharing one stamp (a wal2json
    transaction's shared commit timestamp, Debezium's millisecond ts_ms)
    resolve in wire order, while an update's delete+insert halves (same
    wire seq) still resolve by action_seq. Absent/null seqs sort as 0 —
    the pre-upgrade arbitrary-tie contract.
    """
    keys = [F.col("event_unixtime").desc()]
    if WIRE_SEQ_COL in events.columns:
        keys.append(F.coalesce(F.col(WIRE_SEQ_COL), F.lit(0)).desc())
    keys.append(F.col("action_seq").desc())
    w = W.partitionBy(*pk).orderBy(*keys)
    return events.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def apply_cdc_batch(
    table: ParquetTable,
    events: DataFrame,
    spec: TableSpec,
    value_columns: list[str] | None = None,
    epoch: str | None = None,
    info: dict | None = None,
) -> None:
    """Merge one micro-batch of typed change events into ``table``.

    Dispatches on engine: MergeTree/Replacing do compaction + upsert
    merge; Collapsing engines do the append-only sign write.

    ``epoch``: at-least-once replay marker for the APPEND-ONLY paths
    (collapsing engines, no-pk tables). The pk-keyed merge is naturally
    idempotent (last-wins per key), but a replayed append would land the
    same signed rows twice — net sign 2, after which one legitimate
    delete can never cancel the row. The marker rides in the commit log
    entry; a replay that finds it in the retained window skips the
    append. Streaming passes (checkpoint, batch, segment); direct batch
    callers can leave it None.

    ``info``: the caller's record of the batch, stored in whichever
    commit the apply makes (bootstrap overwrite, merge, or append —
    see ``ParquetTable.overwrite``). An apply that commits nothing
    (deletes of absent keys, a replayed append) stores no record.
    """
    if spec.engine in (Engine.COLLAPSING_MERGE_TREE, Engine.VERSIONED_COLLAPSING_MERGE_TREE):
        _apply_collapsing(table, events, spec, value_columns, epoch=epoch,
                          info=info)
    else:
        _apply_merging(table, events, spec, value_columns, epoch=epoch,
                       info=info)


def _row_cols(events: DataFrame, value_columns: list[str] | None) -> list[str]:
    meta = {"schema", "table", "action", "event_unixtime", "action_seq",
            WIRE_SEQ_COL}
    return value_columns or [c for c in events.columns if c not in meta]


def _apply_merging(
    table: ParquetTable,
    events: DataFrame,
    spec: TableSpec,
    value_columns: list[str] | None,
    epoch: str | None = None,
    info: dict | None = None,
) -> None:
    if not spec.has_pk:
        # no pk: reference skips delete/update and appends inserts only
        # (/root/reference/synch/replication/etl.py:33-35 analog)
        cols = _row_cols(events, value_columns)
        table.append(events.filter(F.col("action") == "insert").select(*cols),
                     spec.partition_by, epoch=epoch, info=info)
        return

    pk = spec.pk
    cols = _row_cols(events, value_columns)
    net = compact_batch(events, pk).select("action", *cols)
    # one cache: net is used for both the anti-join keys and the inserts
    net = net.persist()
    try:
        upserts = net.filter(F.col("action") != "delete").drop("action")
        if not table.exists:
            from synch_spark.sources.table import ConcurrentWriteError

            try:
                # expected_base=-1: the bootstrap must CREATE version 0.
                # Unpinned, a racer's just-committed v0 would become the
                # sampled base and its batch silently truncated — the
                # loser-falls-through comment below would never trigger
                table.overwrite(upserts, spec.partition_by,
                                expected_base=-1, key=pk[0], info=info)
                return
            except ConcurrentWriteError:
                # two consumers raced the FIRST batch: the loser falls
                # through to the normal retried merge cycle against the
                # table the winner just created, instead of killing the
                # stream on a one-off bootstrap race
                pass

        # one job over the cached net rows: the batch's leading-pk keys
        # (the pruning probe) and its upsert count (the write width)
        batch = net.select(pk[0], F.col("action") != "delete").collect()
        if not batch:
            return
        n_up = sum(1 for r in batch if r[1])
        keys = [r[0] for r in batch]

        from synch_spark.sources.table import commit_with_retry

        # the whole find-mask-commit cycle re-runs against the new head
        # on a lost race (commit_with_retry), so a concurrent commit
        # never sees masks computed against files it replaced
        commit_with_retry(
            lambda: _merge(table, net.select(*pk), upserts, keys, n_up, spec,
                           info),
            retries=3)
    finally:
        net.unpersist()


def _merge(table: ParquetTable, pks: DataFrame, upserts: DataFrame,
           keys: list, n_up: int, spec: TableSpec,
           info: dict | None = None) -> None:
    """One merge attempt against the current head: mask every target
    row whose pk is in the batch, append the net upserts, commit both
    in one entry anchored to the head it read."""
    import numpy as np
    import pyarrow.parquet as pq

    from synch_spark.sources import bloom
    from synch_spark.sources.dv import read as read_dv
    from synch_spark.sources.table import ConcurrentWriteError

    pk = list(spec.pk)
    base = table.current_version()
    snap = table.snapshot(base)
    found = bloom.prune_files(table, pk[0], keys)
    if table.current_version() != base:
        raise ConcurrentWriteError(f"table {table.root}: head moved mid-merge")
    rels = sorted(snap.files) if found is None else sorted(
        os.path.relpath(p, table._data).replace(os.sep, "/") for p in found)
    # the position of every target row the batch supersedes, wherever
    # it lives (a pk that moved partition is found in its old one). Masked
    # rows may match again: the new mask is a set union, so that is free.
    hits = table.locate(rels, snap, pks, pk) if rels else {}
    dvs, remove = {}, []
    for rel, rows in hits.items():
        d = snap.dv(rel)
        old = read_dv(table._abs(d)) if d else np.empty(0, np.int64)
        rows = np.union1d(np.asarray(rows, dtype=np.int64), old)
        if len(rows) == len(old):
            continue  # only already-masked rows matched
        if len(rows) == pq.ParquetFile(table._abs(rel)).metadata.num_rows:
            remove.append(rel)  # every row superseded: drop the file
        else:
            dvs[rel] = rows
    if not (dvs or remove or n_up):
        return  # deletes of keys the table does not hold
    # the new rows take the table's column types: they share reads with
    # the masked files, so a wider batch type (a long key into an int
    # table) would split the table's physical schema. The partition
    # column keeps the batch's type (its table type is inferred from
    # directory names). One output file per partition for a
    # micro-batch; bulk batches split at ~2M rows so a backfill doesn't
    # land as one jumbo file.
    schema = table.read(base).schema
    df = (upserts.select(*[
        F.col(f.name) if f.name == spec.partition_by
        else F.col(f.name).cast(f.dataType) for f in schema])
          .coalesce(max(1, -(-n_up // 2_000_000))) if n_up else None)
    table.overwrite_cow_files(df, remove, expected_base=base, key=pk[0],
                              partition_by=spec.partition_by, dvs=dvs,
                              info=info)


def _apply_collapsing(
    table: ParquetTable,
    events: DataFrame,
    spec: TableSpec,
    value_columns: list[str] | None,
    epoch: str | None = None,
    info: dict | None = None,
) -> None:
    """W6: append-only write with sign = +1 insert / -1 delete.

    No compaction, no merge — the fastest write path; read-time
    collapsing_view recovers the current state. For the reference's
    exact arrival-order cancellation semantics the event time rides
    along as a hidden ordering column. ``epoch`` (see apply_cdc_batch)
    makes a micro-batch replay skip the duplicate append.
    """
    from synch_spark.events import annotate_sign

    cols = _row_cols(events, value_columns)
    signed = annotate_sign(events, spec.sign_column)  # T6, one definition
    out = signed.select(*cols, spec.sign_column,
                        F.col("event_unixtime").alias("_event_unixtime"))
    table.append(out, spec.partition_by, epoch=epoch, info=info)


def compact_table(
    table: ParquetTable, spec: TableSpec, zorder: tuple[str, ...] | None = None
) -> None:
    """Eagerly apply the engine view and rewrite the table — the analog of
    ClickHouse `OPTIMIZE TABLE ... FINAL` (the background merge the
    reference relies on, /root/reference/synch/writer/*.py engine DDL).

    For collapsing engines this folds the accumulated ±1 rows down to the
    surviving state (keeping sign=+1 rows so subsequent appends keep
    cancelling correctly); for Replacing it drops superseded versions.
    At scale this is the periodic maintenance job that keeps read-time
    window/aggregate cost bounded; with ``partition_by`` set it can run
    per-partition.

    ``zorder``: lay the compacted files out along a Morton curve over the
    given columns instead of pk-clustering — choose it when reads probe
    MULTIPLE columns (pk clustering gives perfect skipping on pk and none
    elsewhere; Z-order trades a little pk tightness for usable min/max
    ranges on every listed column — the Delta OPTIMIZE ZORDER trade).
    """
    # merging engines: the stored rows ARE the final state (every apply
    # path keeps them pk-unique), so compaction is a pure re-layout —
    # mark it dataChange=false and incremental change-feed consumers
    # skip the hop instead of diffing the whole rewrite. Collapsing
    # engines FOLD their stored ±sign rows here, which IS a storage-level
    # row change, so their compactions stay unmarked.
    row_preserving = spec.engine in (Engine.MERGE_TREE,
                                     Engine.REPLACING_MERGE_TREE)
    # pin the base BEFORE reading: compaction reads a snapshot and then
    # runs a long re-layout job; an unpinned overwrite would sample its
    # base at COMMIT time and silently revert any merge that landed in
    # between (lost update, no ConcurrentWriteError) — the exact hazard
    # overwrite()'s docstring warns about
    base = table.current_version()
    key = spec.pk[0] if spec.has_pk else None
    if spec.engine in (Engine.COLLAPSING_MERGE_TREE, Engine.VERSIONED_COLLAPSING_MERGE_TREE):
        # one table.read(): read_current_state would build the same
        # reconciled-read plan a second time just to recover the stored
        # column order — inline its collapsing branch over one df
        df = table.read(base)
        cols = df.columns
        version = (spec.version_column
                   if spec.engine == Engine.VERSIONED_COLLAPSING_MERGE_TREE
                   and spec.version_column in cols else None)
        state = engines.collapsing_view(
            df, spec.pk, spec.sign_column, version,
            # same guard as engines.engine_view: a signed table without
            # the hidden order column (older writer, external bootstrap)
            # reads fine — compaction must not crash on it
            order_column=("_event_unixtime"
                          if "_event_unixtime" in cols else None),
        ).drop(spec.sign_column, "_event_unixtime")
        state = (
            state.withColumn(spec.sign_column, F.lit(1).cast("int"))
            .withColumn("_event_unixtime", F.lit(0).cast("long"))
            .select(*cols)
        )
    else:
        # pinned read (not read_current_state): the snapshot must be the
        # SAME version the expected_base commit guards
        state = engines.engine_view(table.read(base), spec)
    if zorder:
        from synch_spark.sources.table import zorder_layout

        # zorder_layout range-partitions + sorts by the interleaved key;
        # overwrite preserves that file layout (no cluster_by re-sort)
        table.overwrite(zorder_layout(state, list(zorder)), spec.partition_by,
                        data_change=not row_preserving, op="optimize",
                        expected_base=base, key=key)
        return
    # re-cluster on pk so post-compaction files have tight, disjoint pk
    # ranges — restores file-level merge pruning degraded by appends
    table.overwrite(state, spec.partition_by, cluster_by=spec.pk or None,
                    data_change=not row_preserving, op="optimize",
                    expected_base=base, key=key)


def should_compact(
    table: ParquetTable,
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 8,
) -> bool:
    """Layout-driven compaction trigger (the file_stats policy): compact
    when the current version holds at least ``min_files`` data files and
    their MEDIAN size is under ``target_bytes/4`` — many small files mean
    task-scheduling and footer overhead dominate scans. A signal, not a
    timer: steady-state tables with healthy files never rewrite."""
    st = table.file_stats()
    return st["files"] >= min_files and st.get("median_bytes", 0) < target_bytes // 4


def maybe_compact(
    table: ParquetTable,
    spec: TableSpec,
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 8,
    zorder: tuple[str, ...] | None = None,
) -> bool:
    """Run compact_table iff should_compact says the layout needs it.
    Returns whether a compaction ran. The maintenance loop ClickHouse
    gives the reference for free as background merges, here as an
    explicit idempotent call sites can run after every N batches or from
    `cli optimize --auto`."""
    if not table.exists or not should_compact(table, target_bytes, min_files):
        return False
    compact_table(table, spec, zorder=zorder)
    return True


def register_final_view(table: ParquetTable, spec: TableSpec, name: str | None = None):
    """Expose `SELECT * FROM <table>_final` — the FINAL-read convenience
    the reference gets from ClickHouse; here a temp view over the engine
    semantics so downstream SQL needs no knowledge of signs/versions."""
    df = read_current_state(table, spec)
    view = name or f"{spec.table}_final"
    df.createOrReplaceTempView(view)
    return df


def read_current_state(table: ParquetTable, spec: TableSpec) -> DataFrame:
    """Read the table through its engine-semantics view (SURVEY §2.7).
    Thin wrapper: engine_view carries the full dispatch (including the
    collapsing arrival-order + internal-column drop), so the two public
    entry points cannot diverge."""
    return engines.engine_view(table.read(), spec)
