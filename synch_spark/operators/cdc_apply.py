"""CDC apply: compact a micro-batch of change events and merge into the target.

This is the Spark-native rewrite of the reference's consumer flush
(/root/reference/synch/replication/continuous.py:102-154) and the
engine-specific ``handle_event`` accumulators:

- W3 in-batch last-wins dedup: the reference keeps a dict keyed by pk so
  a later event for the same pk overwrites an earlier one
  (/root/reference/synch/writer/merge_tree.py:63-85). Here: window over
  pk ordered by (event_unixtime, action_seq) desc, row_number()=1 — a
  single pk-partitioned exchange, skew-safe under AQE.
- W5 delete-before-insert: the reference issues ALTER DELETE for all
  deleted pks before the batch insert
  (/root/reference/synch/replication/continuous.py:122-135). Compaction
  makes this order-free: each pk resolves to ONE net action (the
  latest), so delete+reinsert in one batch nets to insert, and
  insert+delete nets to delete. Equivalent final state, one pass.
- Q2 ReplacingMergeTree(version) keeps each pk's max-version row. The
  merge decides it once, in the batch (compact_batch) and against the
  stored row (_merge), so FINAL reads return the stored rows.
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
  is recovered at read time by engines.collapsing_view. Each batch is
  first folded to at most one cancel row and one state row per key
  (fold_collapsing), as a ClickHouse merge of the batch would fold it,
  so stored rows grow with the keys a batch touches, not with its
  events.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window as W, functions as F

from synch_spark.config import Engine, TableSpec, WIRE_SEQ_COL
from synch_spark.operators import engines
from synch_spark.sources.table import ConcurrentWriteError, ParquetTable


def arrival_order(events: DataFrame):
    """The order a batch's events arrived in, as one sortable struct:
    (event_unixtime, wire seq, action_seq).

    When the frame carries the decoder-attached wire-order column
    (events.WIRE_SEQ_COL), it breaks event_unixtime ties BEFORE
    action_seq: distinct wire changes sharing one stamp (a wal2json
    transaction's shared commit timestamp, Debezium's millisecond ts_ms)
    resolve in wire order, while an update's delete+insert halves (same
    wire seq) still resolve by action_seq. Absent/null seqs sort as 0 —
    the pre-upgrade arbitrary-tie contract."""
    keys = [F.col("event_unixtime")]
    if WIRE_SEQ_COL in events.columns:
        keys.append(F.coalesce(F.col(WIRE_SEQ_COL), F.lit(0)))
    keys.append(F.col("action_seq"))
    return F.struct(*keys)


def compact_batch(events: DataFrame, pk: tuple[str, ...],
                  version: str | None = None) -> DataFrame:
    """W3: reduce a batch to one net event per pk, the latest in
    ``arrival_order``.

    ``events`` must already have typed row columns (events.parse_values)
    including the pk columns, plus action/event_unixtime/action_seq.

    Without ``version`` the latest event wins. With it, a pk nets to its
    latest event if that is a delete (a delete removes the pk whatever
    its version), else to the highest-version upsert after its last
    delete — a tie goes to the later event, a NULL version loses — and
    ``_deleted`` says whether the batch deleted the pk. All windows
    share the pk partitioning: one exchange.
    """
    order = arrival_order(events)
    out, rank = events.withColumn("_ord", order), [F.col("_ord").desc()]
    if version is not None:
        every = W.partitionBy(*pk)
        dele = F.col("action") == "delete"
        out = out.select("*", F.max(order).over(every).alias("_last"),
                         F.max(F.when(dele, order)).over(every).alias("_del"))
        # the latest delete, or the upserts after the last delete
        out = (out.filter(F.when(dele, F.col("_ord") == F.col("_last"))
                          .otherwise(F.col("_del").isNull()
                                     | (F.col("_ord") > F.col("_del"))))
               .withColumn("_deleted", F.col("_del").isNotNull())
               .drop("_last", "_del"))
        rank.insert(0, F.col(version).desc_nulls_last())
    w = W.partitionBy(*pk).orderBy(*rank)
    return (out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn", "_ord"))


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
    merge; Collapsing engines append their folded signed rows.

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
    cols = _row_cols(events, value_columns)
    if not spec.has_pk:
        # no pk: reference skips delete/update and appends inserts only
        # (/root/reference/synch/replication/etl.py:33-35 analog)
        table.append(events.filter(F.col("action") == "insert").select(*cols),
                     spec.partition_by, epoch=epoch, info=info)
        return

    pk = spec.pk
    version = replacing_version(spec, cols)
    net = compact_batch(events, pk, version).select(
        "action", *cols, *(["_deleted"] if version else []))
    # one cache: net is used for the keys, the semi-join and the inserts
    net = net.persist()
    try:
        upserts = net.filter(F.col("action") != "delete").select(*cols)
        if not table.exists:
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

        # one job over the cached net rows: {pk: (upsert?, [deleted?,
        # version])}, the merge's pruning probe, write width and rivals
        batch = {_key(r[:len(pk)]): tuple(r[len(pk):]) for r in net.select(
            *pk, F.col("action") != "delete",
            *(["_deleted", version] if version else [])).collect()}
        if not batch:
            return

        from synch_spark.sources.table import commit_with_retry

        # the whole find-mask-commit cycle re-runs against the new head
        # on a lost race (commit_with_retry), so a concurrent commit
        # never sees masks computed against files it replaced
        commit_with_retry(
            lambda: _merge(table, net.select(*pk), upserts, batch, spec,
                           version, info),
            retries=3)
    finally:
        net.unpersist()


def replacing_version(spec: TableSpec, cols: list[str]) -> str | None:
    """Q2: the version column whose max a Replacing table keeps per pk,
    if the batch carries it (compact_batch, _merge)."""
    return (spec.version_column if spec.engine == Engine.REPLACING_MERGE_TREE
            and spec.version_column in cols else None)


def _key(values) -> tuple:
    """Collected pk values as a dict key: PySpark collects BinaryType as
    an unhashable bytearray (before 4.1, or with
    spark.sql.execution.pyspark.binaryAsBytes off)."""
    return tuple(bytes(v) if isinstance(v, bytearray) else v for v in values)


#: Stale upserts up to this many leave by an IN list (no Spark job, but
#: driver work per key), more by a broadcast anti-join (one job). One
#: merge on local[2]: IN is faster to 16 keys, even at 32, and 9x
#: slower at 1024 (22 s against 2.5 s).
STALE_IN_MAX = 32


def _outranks(stored, net: tuple | None) -> bool:
    """Whether a live stored row of version ``stored`` beats the batch's
    net row ``net`` = (upsert?, deleted?, version) — the rule of
    compact_batch, with the stored row as the earlier event."""
    if net is None or not net[0] or net[1] or stored is None:
        return False
    return net[2] is None or stored > net[2]


def _merge(table: ParquetTable, pks: DataFrame, upserts: DataFrame,
           batch: dict, spec: TableSpec, version: str | None,
           info: dict | None = None) -> None:
    """One merge attempt against the current head: mask every live target
    row with a batch pk (under a ``version``, drop instead the upserts a
    stored row outranks), append the net upserts, commit both in one
    entry anchored to the head it read."""
    import numpy as np
    import pyarrow.parquet as pq

    from synch_spark.sources import bloom
    from synch_spark.sources.dv import read as read_dv

    pk = list(spec.pk)
    base = table.current_version()
    snap = table.snapshot(base)
    found = bloom.prune_files(table, pk[0], [k[0] for k in batch])
    if table.current_version() != base:
        raise ConcurrentWriteError(f"table {table.root}: head moved mid-merge")
    rels = sorted(snap.files) if found is None else sorted(
        os.path.relpath(p, table._data).replace(os.sep, "/") for p in found)
    schema = table.schema(base)
    carry = [*pk, version] if version in schema.names else []
    # every target row with a batch pk, masked or not, wherever it lives
    # (a pk that moved partition is found in its old one)
    hits = table.locate(rels, snap, pks, pk, carry) if rels else {}
    dvs, remove, stale = {}, [], set()
    for rel, matched in hits.items():
        d = snap.dv(rel)
        old = read_dv(table._abs(d)) if d else np.empty(0, np.int64)
        dead, new = set(old.tolist()), []
        for pos, *stored in matched:
            if pos in dead:
                continue  # masked already: no rival, nothing to mask
            if stored and _outranks(stored[-1],
                                    batch.get(key := _key(stored[:-1]))):
                stale.add(key)  # the stored row stays
            else:
                new.append(pos)
        if not new:
            continue
        rows = np.union1d(np.asarray(new, dtype=np.int64), old)
        if len(rows) == pq.ParquetFile(table._abs(rel)).metadata.num_rows:
            remove.append(rel)  # every row superseded: drop the file
        else:
            dvs[rel] = rows
    n_up = sum(1 for a in batch.values() if a[0]) - len(stale)
    if not (dvs or remove or n_up):
        return  # deletes of absent keys, or only stale upserts
    if stale:
        fields = upserts.select(*pk).schema.fields
        if len(stale) <= STALE_IN_MAX:
            upserts = upserts.filter(~F.struct(*pk).isin([
                F.struct(*[F.lit(v).cast(f.dataType).alias(f.name)
                           for v, f in zip(key, fields)]) for key in stale]))
        else:
            from pyspark.sql.types import StructType

            gone = upserts.sparkSession.createDataFrame(
                list(stale), StructType(fields))
            upserts = upserts.join(F.broadcast(gone), pk, "left_anti")
    # the new rows take the table's column types: they share reads with
    # the masked files, so a wider batch type (a long key into an int
    # table) would split the table's physical schema. One output file
    # per partition for a micro-batch; bulk batches split at ~2M rows so
    # a backfill doesn't land as one jumbo file. Rows are pk-sorted within
    # each file (no extra job): sorted keys delta-encode small.
    df = (upserts.select(*[F.col(f.name).cast(f.dataType) for f in schema])
          .coalesce(max(1, -(-n_up // 2_000_000)))
          .sortWithinPartitions(*pk) if n_up else None)
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
    """W6: append the batch's folded signed rows (fold_collapsing).

    No merge: read-time collapsing_view recovers the current state. The
    event time rides along as a hidden ordering column for it. ``epoch``
    (see apply_cdc_batch) makes a micro-batch replay skip the duplicate
    append.
    """
    cols = _row_cols(events, value_columns)
    out = fold_collapsing(events, spec, cols).select(
        *cols, spec.sign_column,
        F.col("event_unixtime").alias("_event_unixtime"))
    table.append(out, spec.partition_by, epoch=epoch, info=info)


def fold_collapsing(events: DataFrame, spec: TableSpec,
                    cols: list[str]) -> DataFrame:
    """T6 + fold: sign a Collapsing batch (+1 insert / -1 delete) and keep
    at most one cancel row and one state row per key — the one write
    rule of the store (_apply_collapsing) and the JDBC sink.

    A key is the pk, or (pk, version) for VersionedCollapsing (SURVEY
    Q4). In ``arrival_order`` a key's group keeps:

    - its first row, if that is a cancel (-1): it cancels a stored row;
    - its last row, if that is a state (+1): the key's new state;
    - for a key the batch inserts and then deletes (first row +1, last
      -1), its last state row and the last row. ClickHouse would keep
      neither; the pair stays as the tombstone backfill_missing needs.

    A group is written unfolded when its first or last position ties in
    arrival order (which row is first is then undecided), or when the
    kept rows' Σ sign differs from the group's (an ill-formed stream: a
    duplicate insert, a double delete). Every aggregate is an unbounded
    window over the one key partitioning: one exchange.
    """
    from synch_spark.events import annotate_sign

    signed = annotate_sign(events, spec.sign_column)
    if not spec.has_pk:
        return signed
    keys = list(spec.pk)
    if (spec.engine == Engine.VERSIONED_COLLAPSING_MERGE_TREE
            and spec.version_column in cols):
        keys.append(spec.version_column)
    # SQL text, not Column trees: one py4j call per expression, where
    # the same Column trees took ~800 calls to build
    over = f" OVER (PARTITION BY {', '.join(map(_sql_name, keys))})"
    sign = _sql_name(spec.sign_column)
    out = signed.select("*", arrival_order(signed).alias("_ord")).selectExpr(
        "*", f"min(named_struct('o', _ord, 's', {sign})){over} AS _first",
        f"max(named_struct('o', _ord, 's', {sign})){over} AS _last",
        f"max(IF({sign} > 0, _ord, NULL)){over} AS _state",
        f"sum({sign}){over} AS _net")
    first, last = "_ord = _first.o", "_ord = _last.o"
    keep = (f"({first} AND {sign} < 0) OR ({last} AND {sign} > 0) OR "
            f"(_first.s > 0 AND _last.s < 0 AND "
            f"({last} OR ({sign} > 0 AND _ord = _state)))")
    folds = (f"sum(CAST({first} AS INT)){over} = 1 AND "
             f"sum(CAST({last} AS INT)){over} = 1 AND "
             f"sum(IF({keep}, {sign}, 0)){over} = _net")
    return (out.selectExpr(*map(_sql_name, signed.columns),
                           f"({keep}) OR NOT ({folds}) AS _kept")
            .filter("_kept").drop("_kept"))


def _sql_name(column: str) -> str:
    return "`" + column.replace("`", "``") + "`"


def compact_table(
    table: ParquetTable, spec: TableSpec, zorder: tuple[str, ...] | None = None
) -> None:
    """Eagerly apply the engine view and rewrite the table — the analog of
    ClickHouse `OPTIMIZE TABLE ... FINAL` (the background merge the
    reference relies on, /root/reference/synch/writer/*.py engine DDL).

    For collapsing engines this folds the accumulated ±1 rows down to the
    surviving state (keeping sign=+1 rows so subsequent appends keep
    cancelling correctly) — at scale the periodic maintenance job that
    keeps the read-time aggregate bounded; with ``partition_by`` set it
    can run per-partition. MergeTree and Replacing tables already store
    their final state (the merge drops superseded versions), so for
    them it is only a re-layout.

    ``zorder``: lay the compacted files out along a Morton curve over the
    given columns instead of pk-clustering — choose it when reads probe
    MULTIPLE columns (pk clustering gives perfect skipping on pk and none
    elsewhere; Z-order trades a little pk tightness for usable min/max
    ranges on every listed column — the Delta OPTIMIZE ZORDER trade).
    """
    # merging engines: a pure re-layout, marked dataChange=false so
    # change-feed consumers skip the hop. Collapsing engines FOLD their
    # stored ±sign rows, a row change: their compactions stay unmarked.
    row_preserving = spec.engine in (Engine.MERGE_TREE,
                                     Engine.REPLACING_MERGE_TREE)
    # pin the base BEFORE reading: compaction reads a snapshot and then
    # runs a long re-layout job; an unpinned overwrite would sample its
    # base at COMMIT time and silently revert any merge that landed in
    # between (lost update, no ConcurrentWriteError) — the exact hazard
    # overwrite()'s docstring warns about
    base = table.current_version()
    key = spec.pk[0] if spec.has_pk else None
    # pinned read (not read_current_state): the snapshot must be the
    # SAME version the expected_base commit guards
    df = table.read(base)
    state = engines.engine_view(df, spec)
    if not row_preserving:
        # the folded rows are stored again as live +1 rows, so later
        # appends keep cancelling against them
        state = (state.withColumn(spec.sign_column, F.lit(1).cast("int"))
                 .withColumn("_event_unixtime", F.lit(0).cast("long"))
                 .select(*df.columns))
    if zorder:
        from synch_spark.sources.table import zorder_layout

        # zorder_layout range-partitions + sorts by the interleaved key;
        # overwrite preserves that file layout (no cluster_by re-sort)
        state = zorder_layout(state, list(zorder))
    # else re-cluster on pk so post-compaction files have tight, disjoint
    # pk ranges — restores file-level merge pruning degraded by appends
    table.overwrite(state, spec.partition_by,
                    cluster_by=None if zorder else spec.pk or None,
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
    """Read the table through its engine-semantics view (SURVEY §2.7),
    ``engines.engine_view``, so the two entry points cannot diverge."""
    return engines.engine_view(table.read(), spec)
