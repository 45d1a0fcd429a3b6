"""CDC apply: compact a micro-batch of change events and merge into the target.

This is the Spark-native rewrite of the reference's consumer flush
(/root/reference/synch/replication/continuous.py:102-154) and the
engine-specific ``handle_event`` accumulators:

- The batch's row rules run on Arrow tables, once per batch: the
  latest-wins and version rule (``net_rows``), the Collapsing fold
  (``fold_rows``) and the merge's key dict (``_key_dict``). One function
  per rule, in two placements chosen by the batch's size (``_placed``):
  a batch of at most ``DRIVER_EVENTS_MAX`` events is collected with one
  ``toArrow()`` and its net rows go back to Spark as a LocalRelation,
  which runs no job; a larger batch runs the same function per pk-hash
  group in ``applyInArrow`` (``compact_batch``, ``fold_collapsing``),
  each group about that size. The size is the caller's event count
  (the streaming prologue, repair and backfill have one), else the
  batch's row count.
- W3 in-batch last-wins dedup: the reference keeps a dict keyed by pk so
  a later event for the same pk overwrites an earlier one
  (/root/reference/synch/writer/merge_tree.py:63-85). Here: each pk's
  latest row in ``arrival_order``.
- W5 delete-before-insert: the reference issues ALTER DELETE for all
  deleted pks before the batch insert
  (/root/reference/synch/replication/continuous.py:122-135). Compaction
  makes this order-free: each pk resolves to ONE net action (the
  latest), so delete+reinsert in one batch nets to insert, and
  insert+delete nets to delete. Equivalent final state, one pass.
- Q2 ReplacingMergeTree(version) keeps each pk's max-version row. The
  merge decides it once, in the batch (net_rows) and against the
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
  (fold_rows), as a ClickHouse merge of the batch would fold it, so
  stored rows grow with the keys a batch touches, not with its events.
"""

from __future__ import annotations

import contextlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F, types as T

from synch_spark.config import Engine, TableSpec, WIRE_SEQ_COL
from synch_spark.operators import engines
from synch_spark.sources.table import ConcurrentWriteError, ParquetTable

#: A batch of at most this many events runs its row rules on the
#: driver, one ``toArrow()`` of its typed rows (at most two per event);
#: a larger one runs them in groups of about this many events, one
#: Arrow table per Python worker call. Measured with
#: tools/placement_cost.py (local[4], a Replacing batch of bigint,
#: decimal, timestamp and string columns, compaction plus the write):
#: with 16-char strings the driver takes 0.18 / 0.44 / 0.87 / 1.65 s at
#: 10k / 100k / 200k / 400k events against 0.63 / 0.67 / 0.96 / 1.16 s
#: grouped, so the two cross between 200k and 400k; with 512-char
#: strings it still wins at 100k (0.78 against 0.96 s) holding 55 MB of
#: Arrow, +72 MB of driver Python memory. The cap sits below both.
DRIVER_EVENTS_MAX = 100_000


def _arrival_cols(columns) -> list[str]:
    """The columns of ``arrival_order``, as far as ``columns`` has them."""
    return [c for c in ("event_unixtime", WIRE_SEQ_COL, "action_seq")
            if c in columns]


def _dense(cols) -> np.ndarray:
    """Each row's 0-based dense rank over the Arrow ``cols`` together:
    ascending, column by column, NULL first; equal rows share a rank."""
    ranks = [pc.rank(c, null_placement="at_start", tiebreaker="dense")
             .to_numpy().astype(np.int64) for c in cols]
    if len(ranks) == 1:
        return ranks[0] - 1
    order = np.lexsort(ranks[::-1])
    s = np.stack(ranks)[:, order]
    out = np.empty(len(order), np.int64)
    out[order] = np.concatenate(
        [[0], np.cumsum((s[:, 1:] != s[:, :-1]).any(axis=0))])[:len(order)]
    return out


def arrival_order(t: pa.Table) -> np.ndarray:
    """The order a batch's events arrived in, as each row's dense rank
    over (event_unixtime, wire seq, action_seq); rows that tie share one.

    When the batch carries the decoder-attached wire-order column
    (events.WIRE_SEQ_COL), it breaks event_unixtime ties BEFORE
    action_seq: distinct wire changes sharing one stamp (a wal2json
    transaction's shared commit timestamp, Debezium's millisecond ts_ms)
    resolve in wire order, while an update's delete+insert halves (same
    wire seq) still resolve by action_seq. Absent/null seqs sort as 0 —
    the pre-upgrade arbitrary-tie contract."""
    return _dense([pc.fill_null(t[c], 0) if c == WIRE_SEQ_COL else t[c]
                   for c in _arrival_cols(t.column_names)])


def _per_key(ufunc, g: np.ndarray, values: np.ndarray, n: int,
             init: int) -> np.ndarray:
    """``ufunc`` (np.maximum, np.minimum) of ``values`` per key id ``g``
    in [0, n); ``init`` for a key without values."""
    out = np.full(n, init, np.int64)
    ufunc.at(out, g, values)
    return out


def net_rows(t: pa.Table, pk: tuple[str, ...],
             version: str | None = None) -> pa.Table:
    """W3: one net event per pk, the latest in ``arrival_order``; the
    rows come out sorted by pk.

    ``t`` holds typed row columns including the pk columns, plus
    action and the ``arrival_order`` columns.

    Without ``version`` the latest event wins. With it, a pk nets to its
    latest event if that is a delete (a delete removes the pk whatever
    its version), else to the highest-version upsert after its last
    delete — a tie goes to the later event, a NULL version loses — and
    an added ``_deleted`` column says whether the batch deleted the pk.
    """
    if not t.num_rows:
        return t if version is None else t.append_column(
            "_deleted", pa.array([], pa.bool_()))
    g, o = _dense([t[c] for c in pk]), arrival_order(t)
    pos = np.arange(len(g))
    rank, cand = [pos, o], pos
    if version is not None:
        n = int(g.max()) + 1
        dele = pc.fill_null(pc.equal(t["action"], "delete"),
                            False).to_numpy(zero_copy_only=False)
        last = _per_key(np.maximum, g, o, n, -1)
        gone = _per_key(np.maximum, g[dele], o[dele], n, -1)[g]
        # the latest delete, or the upserts after the last delete
        cand = np.flatnonzero(np.where(dele, o == last[g], o > gone))
        rank.append(_dense([t[version]]))  # NULL ranks lowest: it loses
    rank.append(g)
    order = cand[np.lexsort([r[cand] for r in rank])]
    win = order[np.r_[g[order][1:] != g[order][:-1], True]]
    out = t.take(win)
    if version is not None:
        out = out.append_column("_deleted", pa.array(gone[win] >= 0))
    return out


def fold_rows(t: pa.Table, keys: list[str], sign: str) -> pa.Table:
    """The Collapsing fold of one signed batch: at most one cancel row
    and one state row per key, sorted by (key, arrival).

    A key is the pk, or (pk, version) for VersionedCollapsing (SURVEY
    Q4). In ``arrival_order`` a key's group keeps:

    - its first row, if that is a cancel (-1): it cancels a stored row;
    - its last row, if that is a state (+1): the key's new state;
    - for a key the batch inserts and then deletes (first row +1, last
      -1), its last state row and the last row. ClickHouse would keep
      neither; the pair stays as the tombstone backfill_missing needs.

    A group is kept unfolded when its first or last position ties in
    arrival order (which row is first is then undecided), or when the
    kept rows' Σ sign differs from the group's (an ill-formed stream: a
    duplicate insert, a double delete).
    """
    if not t.num_rows:
        return t
    g, o = _dense([t[c] for c in keys]), arrival_order(t)
    s = pc.fill_null(t[sign], 0).to_numpy().astype(np.int64)
    n = int(g.max()) + 1
    first, last = (_per_key(np.minimum, g, o, n, len(o)),
                   _per_key(np.maximum, g, o, n, -1))
    is_first, is_last = o == first[g], o == last[g]
    # the sign of the first and the last row, a cancel first on a tie
    s_first = _per_key(np.minimum, g[is_first], s[is_first], n, 2)[g]
    s_last = _per_key(np.maximum, g[is_last], s[is_last], n, -2)[g]
    state = _per_key(np.maximum, g[s > 0], o[s > 0], n, -1)[g]
    keep = ((is_first & (s < 0)) | (is_last & (s > 0))
            | ((s_first > 0) & (s_last < 0)
               & (is_last | ((s > 0) & (o == state)))))
    folds = ((np.bincount(g[is_first], minlength=n) == 1)
             & (np.bincount(g[is_last], minlength=n) == 1)
             & (np.bincount(g, s * keep, n) == np.bincount(g, s, n)))
    rows = np.flatnonzero(keep | ~folds[g])
    return t.take(rows[np.lexsort((rows, o[rows], g[rows]))])


def _placed(frame: DataFrame, num: int | None) -> int:
    """The size that places a batch's row rules: ``num``, the caller's
    count of its events, else ``frame``'s row count (two Spark jobs
    under AQE). Up to ``DRIVER_EVENTS_MAX`` they run on the driver."""
    return frame.count() if num is None else num


def _local(spark, rows: pa.Table, schema: T.StructType) -> DataFrame:
    """Driver-built ``rows`` as a DataFrame of ``schema``: a
    LocalRelation (no Spark job), in ONE partition so that its write
    lands one file per table partition (createDataFrame would slice it
    into defaultParallelism files)."""
    return spark.createDataFrame(rows, schema).coalesce(1)


def _grouped(frame: DataFrame, by, rule, schema: T.StructType,
             num: int | None, **args) -> DataFrame:
    """The grouped placement of an Arrow row ``rule``: ``rule(table,
    **args)`` once per group of ``frame``'s rows by the hash of its
    ``by`` columns, in the executors' Python workers. A batch of ``num``
    events (``_placed``) splits into groups of about
    ``DRIVER_EVENTS_MAX``. The hash is murmur3 (``F.hash``), not the
    xxhash64 that backfill_missing chunks by, so that one chunk spreads
    over every group."""
    def run(t):  # unannotated: applyInArrow reads annotations as a mode
        return rule(t, **args)

    groups = max(1, -(-_placed(frame, num) // DRIVER_EVENTS_MAX))
    return (frame.groupBy(F.pmod(F.hash(*by), F.lit(groups)))
            .applyInArrow(run, schema))


def _net_schema(events: DataFrame, version: str | None) -> T.StructType:
    """The schema of ``net_rows`` over ``events``."""
    extra = [T.StructField("_deleted", T.BooleanType())] if version else []
    return T.StructType([*events.schema.fields, *extra])


def compact_batch(events: DataFrame, pk: tuple[str, ...],
                  version: str | None = None,
                  num: int | None = None) -> DataFrame:
    """``net_rows`` of ``events`` per pk-hash group (applyInArrow): the
    batch's net rows, with ``_deleted`` under a ``version``. ``num``:
    the batch's event count, if the caller has it (``_grouped``)."""
    return _grouped(events, pk, net_rows, _net_schema(events, version),
                    num, pk=tuple(pk), version=version)


@contextlib.contextmanager
def compacted(events: DataFrame, pk: tuple[str, ...], version: str | None,
              cols: list[str], num: int | None = None):
    """The batch's net rows (``net_rows`` over action, ``cols`` and the
    arrival columns) as a DataFrame, with their key columns (pk, action,
    and ``_deleted`` and ``version`` under a version) as an Arrow table.

    On the driver (``_placed``) that is one ``toArrow()``; the grouped
    placement persists its net rows for the key collect and the caller's
    write, until the block exits. A version column that is also a pk
    column appears once among the keys."""
    frame = events.select("action", *cols, *_arrival_cols(events.columns))
    keys = list(dict.fromkeys(
        [*pk, "action", *(["_deleted", version] if version else [])]))
    num = _placed(frame, num)
    if num <= DRIVER_EVENTS_MAX:
        rows = net_rows(frame.toArrow(), tuple(pk), version)
        yield (_local(frame.sparkSession, rows, _net_schema(frame, version)),
               rows.select(keys))
        return
    net = compact_batch(frame, pk, version, num).persist()
    try:
        yield net, net.select(*keys).toArrow()
    finally:
        net.unpersist()


def apply_cdc_batch(
    table: ParquetTable,
    events: DataFrame,
    spec: TableSpec,
    value_columns: list[str] | None = None,
    epoch: str | None = None,
    info: dict | None = None,
    num: int | None = None,
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

    ``num``: the batch's source-event count, when the caller has it (the
    streaming prologue, repair and backfill do); without it the apply
    counts the batch's rows. Up to ``DRIVER_EVENTS_MAX`` the row rules
    run on the driver, above it per pk-hash group.
    """
    if spec.engine in (Engine.COLLAPSING_MERGE_TREE, Engine.VERSIONED_COLLAPSING_MERGE_TREE):
        _apply_collapsing(table, events, spec, value_columns, epoch=epoch,
                          info=info, num=num)
    else:
        _apply_merging(table, events, spec, value_columns, epoch=epoch,
                       info=info, num=num)


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
    num: int | None = None,
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
    with compacted(events, pk, version, cols, num) as (net, keys):
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

        batch = _key_dict(keys, pk, version)
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


def _key_dict(keys: pa.Table, pk: tuple[str, ...],
              version: str | None) -> dict:
    """{pk: (upsert?,)} of the net rows, or {pk: (upsert?, deleted?,
    version)} under a ``version``: the merge's pruning probe, write width
    and rivals. Keys are Arrow's Python values, as ``table.locate``
    returns them (binary as bytes, timestamps tz-aware)."""
    flags = [pc.not_equal(keys["action"], "delete"),
             *([keys["_deleted"], keys[version]] if version else [])]
    return dict(zip(zip(*(keys[c].to_pylist() for c in pk)),
                    zip(*(f.to_pylist() for f in flags))))


def replacing_version(spec: TableSpec, cols: list[str]) -> str | None:
    """Q2: the version column whose max a Replacing table keeps per pk,
    if the batch carries it (net_rows, _merge)."""
    return (spec.version_column if spec.engine == Engine.REPLACING_MERGE_TREE
            and spec.version_column in cols else None)


#: Stale upserts up to this many leave by an IN list (no Spark job, but
#: driver work per key), more by a broadcast anti-join (one job). One
#: merge on local[2]: IN is faster to 16 keys, even at 32, and 9x
#: slower at 1024 (22 s against 2.5 s).
STALE_IN_MAX = 32


def _outranks(stored, net: tuple | None) -> bool:
    """Whether a live stored row of version ``stored`` beats the batch's
    net row ``net`` = (upsert?, deleted?, version) — the rule of
    net_rows, with the stored row as the earlier event."""
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
    # a version that is also a pk column is carried once
    carry = (list(dict.fromkeys([*pk, version]))
             if version in schema.names else [])
    at = carry.index(version) if carry else None
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
            if carry and _outranks(stored[at], batch.get(
                    key := tuple(stored[:len(pk)]))):
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
    num: int | None = None,
) -> None:
    """W6: append the batch's folded signed rows (``folded``).

    No merge: read-time collapsing_view recovers the current state. The
    event time rides along as a hidden ordering column for it. ``epoch``
    (see apply_cdc_batch) makes a micro-batch replay skip the duplicate
    append.
    """
    cols = _row_cols(events, value_columns)
    out = folded(events, spec, cols, num).select(
        *cols, spec.sign_column,
        F.col("event_unixtime").alias("_event_unixtime"))
    table.append(out, spec.partition_by, epoch=epoch, info=info)


def _fold_keys(spec: TableSpec, cols: list[str]) -> list[str]:
    """The fold's key: the pk, or (pk, version) for VersionedCollapsing
    (SURVEY Q4)."""
    keys = list(spec.pk)
    if (spec.engine == Engine.VERSIONED_COLLAPSING_MERGE_TREE
            and spec.version_column in cols):
        keys.append(spec.version_column)
    return keys


def folded(events: DataFrame, spec: TableSpec, cols: list[str],
           num: int | None = None) -> DataFrame:
    """A Collapsing batch signed and folded (``fold_rows``): the one
    write rule of the store (_apply_collapsing) and the JDBC sink. The
    rows hold ``cols``, the sign and the arrival columns. On the driver
    up to ``DRIVER_EVENTS_MAX`` events (``_placed``), else
    ``fold_collapsing``."""
    from synch_spark.events import annotate_sign

    frame = events.select("action", *cols, *_arrival_cols(events.columns))
    if not spec.has_pk:
        return annotate_sign(frame, spec.sign_column)
    num = _placed(frame, num)
    if num > DRIVER_EVENTS_MAX:
        return fold_collapsing(frame, spec, cols, num)
    signed = annotate_sign(frame, spec.sign_column)
    return _local(signed.sparkSession, fold_rows(
        signed.toArrow(), _fold_keys(spec, cols), spec.sign_column),
        signed.schema)


def fold_collapsing(events: DataFrame, spec: TableSpec, cols: list[str],
                    num: int | None = None) -> DataFrame:
    """T6 + fold: sign a Collapsing batch (+1 insert / -1 delete) and run
    ``fold_rows`` per pk-hash group (applyInArrow). A table without a pk
    keeps every signed row. ``num``: the batch's event count, if the
    caller has it (``_grouped``)."""
    from synch_spark.events import annotate_sign

    signed = annotate_sign(events, spec.sign_column)
    if not spec.has_pk:
        return signed
    return _grouped(signed, spec.pk, fold_rows, signed.schema, num,
                    keys=_fold_keys(spec, cols), sign=spec.sign_column)


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
