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
- The merge itself is MERGE emulation without Delta: target rows whose
  pk appears in the batch are dropped (left_anti), then net-inserts are
  unioned in (SCD0 upsert). At scale this is copy-on-write; with
  ``partition_by`` only affected partitions rewrite.
- W6 collapsing engines never merge: they append sign-annotated rows
  (/root/reference/synch/writer/collapsing_merge_tree.py:37-58); state
  is recovered at read time by engines.collapsing_view.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window as W, functions as F

from synch_spark.config import Engine, TableSpec, WIRE_SEQ_COL
from synch_spark.operators import engines
from synch_spark.sources.table import ParquetTable, _partition_dir_value, file_key_range


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
    """
    if spec.engine in (Engine.COLLAPSING_MERGE_TREE, Engine.VERSIONED_COLLAPSING_MERGE_TREE):
        _apply_collapsing(table, events, spec, value_columns, epoch=epoch)
    else:
        _apply_merging(table, events, spec, value_columns, epoch=epoch)


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
) -> None:
    if not spec.has_pk:
        # no pk: reference skips delete/update and appends inserts only
        # (/root/reference/synch/replication/etl.py:33-35 analog)
        cols = _row_cols(events, value_columns)
        table.append(events.filter(F.col("action") == "insert").select(*cols),
                     spec.partition_by, epoch=epoch)
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
                                expected_base=-1, key=pk[0])
                return
            except ConcurrentWriteError:
                # two consumers raced the FIRST batch: the loser falls
                # through to the normal retried merge cycle against the
                # table the winner just created, instead of killing the
                # stream on a one-off bootstrap race
                pass

        def merge_once():
            # anchor the whole read-classify-commit cycle to ONE
            # version: a concurrent commit (compaction, second
            # consumer) in between fails the CoW commit with
            # ConcurrentWriteError — and commit_with_retry re-runs the
            # WHOLE cycle against the new head, so the loser's merge
            # converges instead of silently double-writing rows or
            # killing the stream on one transient race
            base = table.current_version()
            current = table.read()
            changed_keys = net.select(*pk)
            if spec.partition_by and spec.partition_by in current.columns:
                _merge_cow(table, current, changed_keys, upserts, spec, base)
            elif _merge_cow_unpartitioned(table, current, changed_keys,
                                          upserts, spec, base):
                pass  # file-level CoW committed (or proven no-op)
            else:
                # Stats couldn't prove anything (null keys / unorderable
                # types): full MERGE fallback. Drop every target row
                # whose pk is touched, add net inserts. changed_keys is
                # one row per pk in the batch — micro-batch sized, so
                # Catalyst broadcasts it; the big side never shuffles.
                kept = current.join(
                    F.broadcast(changed_keys), list(pk), "left_anti")
                table.overwrite(
                    kept.unionByName(upserts.select(*current.columns)),
                    spec.partition_by, expected_base=base, key=pk[0])

        from synch_spark.sources.table import commit_with_retry

        commit_with_retry(merge_once, retries=3)
    finally:
        net.unpersist()


def _merge_cow(
    table: ParquetTable,
    current: DataFrame,
    changed_keys: DataFrame,
    upserts: DataFrame,
    spec: TableSpec,
    base: int | None = None,
) -> None:
    """Partition-scoped MERGE (copy-on-write).

    Touched partitions = partitions holding a target row whose pk is in
    the batch (the pk may have *moved* partitions, so the target side is
    probed too, not just the new rows) ∪ partitions the upserts land in.
    Only those partitions are anti-joined and rewritten;
    ``ParquetTable.overwrite_cow`` hard-links the rest. The probe scan
    reads only (partition, pk) columns — column-pruned — and at scale is
    the one piece file-level min/max stats would further cut (PERF.md).
    """
    part, pk = spec.partition_by, spec.pk
    pruned = _classify_files(table, changed_keys, upserts, part, pk)
    if pruned is None:
        _merge_cow_probe(table, current, changed_keys, upserts, spec, base)
        return
    candidates, links, vals = pruned
    if not vals:
        return
    # read_files applies the same schema reconciliation as table.read(),
    # so candidate files written before a metadata-only DDL still surface
    # the current logical columns
    affected = (
        table.read_files(candidates)
        if candidates
        else current.limit(0)
    )
    kept = affected.join(F.broadcast(changed_keys), list(pk), "left_anti")
    # coalesce to the rewrite's own width: without it the upsert side
    # keeps its shuffle partitioning and a 2-file merge lands as ~32
    # splinter files — small-file proliferation that compounds per
    # micro-batch (and inflates every downstream change feed). One
    # output task per rewritten input file keeps parallelism O(touched).
    replacement = kept.unionByName(upserts.select(*current.columns)).coalesce(
        _rewrite_width(candidates, upserts))
    table.overwrite_cow(
        replacement, part, vals,
        file_links=links, expected_base=base, key=pk[0],
    )


def _rewrite_width(candidates: list, upserts) -> int:
    """Output tasks for a CoW rewrite: one per rewritten input file,
    floored by the upsert volume so a pure-insert BULK batch (zero
    candidate files — e.g. a backfill of brand-new keys) doesn't
    collapse to one jumbo single-threaded file. The count is taken only
    when the candidate set is tiny, and upserts derive from the
    merge's persisted `net`, so it reads cached blocks."""
    width = len(candidates)
    if width < 4:
        rows = upserts.count()
        width = max(width, (rows + 1_999_999) // 2_000_000)
    return max(1, width)


def _merge_cow_unpartitioned(table, current, changed_keys, upserts, spec,
                             base=None) -> bool:
    """File-level MERGE for a table with no partition column.

    Runs the same stats+bloom file classification as the partitioned
    path, with the table root acting as a single pseudo-partition, and
    commits through ``overwrite_cow_files``: only files whose leading-pk
    min/max (refined by the Bloom sidecar) intersect the batch keys are
    anti-joined and rewritten; every other file is carried by name. This
    replaces the former full-table rewrite — the one remaining
    O(table)-per-batch path — so an unpartitioned 100 TB pk-keyed table
    pays O(intersecting files) per micro-batch like everything else.
    Returns False when stats can't prove anything (caller falls back to
    the full merge).
    """
    pk = spec.pk
    pruned = _classify_files(table, changed_keys, upserts, None, pk)
    if pruned is None:
        return False
    candidates, _links, _vals = pruned
    if not candidates and upserts.isEmpty():
        return True  # pure no-op batch: deletes that provably hit no file
    affected = table.read_files(candidates) if candidates else current.limit(0)
    kept = affected.join(F.broadcast(changed_keys), list(pk), "left_anti")
    remove_rels = [
        os.path.relpath(p, table._data).replace(os.sep, "/") for p in candidates
    ]
    # one output task per rewritten file (see _rewrite_width): a k-file
    # merge must add O(k) files, not O(shuffle partitions) splinters —
    # but a pure-insert bulk batch must not collapse to one task either
    replacement = kept.unionByName(upserts.select(*current.columns)).coalesce(
        _rewrite_width(candidates, upserts))
    table.overwrite_cow_files(replacement, remove_rels, expected_base=base,
                              key=pk[0])
    return True


def _classify_files(table, changed_keys, upserts, part, pk):
    """Metadata-only discovery of the merge's write set.

    Walks the table's partition directories and classifies every data
    file by its leading-pk footer min/max against the batch key set
    (Delta-style stats pruning; the batch is micro-batch sized so
    collecting its keys is the same O(batch) cost as the broadcast we
    already do). A partition is touched when it holds an intersecting
    (candidate) file or receives upserts; candidate files get rewritten
    through the anti-join, every other file hard-links into the new
    version. No table scan happens at all — the 100 TB target's merge
    cost is O(batch + intersecting files) plus a directory walk.

    Leading-pk pruning is conservative (a first-column match without a
    full composite match just means a needless rewrite candidate), so
    correctness never depends on stats quality. When a file carries a
    Bloom sidecar (sources.bloom, written by the commit that added it), a
    min/max range hit is refined by probing the bloom with just the
    batch keys inside the file's range — interleaved-key files whose
    ranges overlap everything stop being rewrite candidates unless a
    key (almost certainly) lives there; no false negatives, so a bloom
    can only ever turn a needless rewrite into a link. Returns
    (candidates, links, touched_values) or None when stats can't prove
    anything (null keys, missing/unorderable stats) — caller falls back
    to the scan-based probe.
    """
    import bisect

    from synch_spark.sources import bloom as bloom_idx
    from synch_spark.sources.manifest import load_manifest

    keys = [r[0] for r in changed_keys.select(pk[0]).distinct().collect()]
    if not keys or any(k is None for k in keys):
        return None
    try:
        # the sort is as fallible as the range comparisons below: batch
        # keys of heterogeneous Python types (a mid-stream type widening
        # can mix str/int) raise TypeError — degrade to the probe/full
        # merge like every other unprovable case, don't crash the stream
        sk = sorted(keys)
    except TypeError:
        return None
    # stats from the manifest log replace the per-file parquet-footer
    # storm (files are immutable, ranges ride in the log entry that
    # added them); any file missing from it falls back to its footer
    manifest = load_manifest(table, pk[0]) or {}
    if part is None:
        upsert_vals: list = []
    else:
        upsert_vals = [r[0] for r in upserts.select(part).distinct().collect()]
    from synch_spark.sources.table import _part_str

    # canonical Hive dir-value strings (str(True) != 'true') so bool /
    # every partition type compares against _partition_dir_value output
    upsert_strs = {_part_str(v) for v in upsert_vals}
    candidates: list[str] = []
    links: dict[str, list[str]] = {}
    touched: list = list(upsert_vals)
    if part is None:
        # pseudo-partition view of an unpartitioned table: every live
        # file grouped by its (usually root) directory
        by_dir: dict[str, list[str]] = {}
        for rel in sorted(table.snapshot().files):
            by_dir.setdefault(rel.rpartition("/")[0], []).append(table._abs(rel))
    else:
        by_dir = table.partition_files(part)
    try:
        for dirname, files in by_dir.items():
            cand_here, link_here = [], []
            for f in files:
                base = os.path.basename(f)
                # no leading slash for root-dir files: the manifest keys
                # bare basenames for unpartitioned tables — "/part-x"
                # would never match and every merge would fall back to a
                # per-file parquet footer read
                rel = f"{dirname}/{base}" if dirname else base
                if rel in manifest:
                    rng = manifest[rel]
                else:
                    try:
                        rng = file_key_range(f, pk[0])
                    except Exception:  # noqa: BLE001 — a corrupt/unreadable
                        # footer must degrade to "no stats" (candidate +
                        # bloom probe), not crash-loop every merge; if the
                        # file truly is unreadable the rewrite's data read
                        # will say so with a real error
                        rng = None
                if rng is not None:
                    i = bisect.bisect_left(sk, rng[0])
                    j = bisect.bisect_right(sk, rng[1])
                    hit = j > i
                    probe = sk[i:j]
                else:
                    # no exact range stats (string pks: BYTE_ARRAY stats
                    # may be truncated) — the bloom is then the ONLY
                    # pruning lever, probed with the full batch key set
                    hit = True
                    probe = sk
                if hit:
                    bl = bloom_idx.load_bloom(f, pk[0])
                    if bl is not None:
                        hit = bloom_idx.might_contain_any(bl, probe)
                (cand_here if hit else link_here).append(f)
            if part is None:
                candidates.extend(cand_here)
                continue
            dval = _partition_dir_value(dirname)
            if cand_here or dval in upsert_strs:
                candidates.extend(cand_here)
                if link_here:
                    links[dirname] = link_here
                if dval not in upsert_strs:
                    touched.append(dval)
    except TypeError:  # stats type doesn't order against key values
        return None
    return candidates, links, touched


def _merge_cow_probe(table, current, changed_keys, upserts, spec, base=None):
    """Scan-based fallback: find touched partitions with a column-pruned
    (partition, pk) semi-join probe and rewrite them whole."""
    part, pk = spec.partition_by, spec.pk
    touched_rows = (
        # dict.fromkeys: when the partition column IS a pk column
        # (dedup_index buckets: pk=(id, band), partition_by=band) a
        # plain (part, *pk) projection duplicates it and the pk join
        # dies with AMBIGUOUS_REFERENCE — the fallback must fall back,
        # not crash the stream
        current.select(*dict.fromkeys([part, *pk]))
        .join(F.broadcast(changed_keys), list(pk), "left_semi")
        .select(part)
        .unionByName(upserts.select(part))
        .distinct()
        .collect()
    )
    vals = [r[0] for r in touched_rows]
    if not vals:
        return
    cond = F.col(part).isin([v for v in vals if v is not None])
    if any(v is None for v in vals):
        cond = cond | F.col(part).isNull()
    affected = current.filter(cond)  # partition-pruned scan
    kept = affected.join(F.broadcast(changed_keys), list(pk), "left_anti")
    replacement = kept.unionByName(upserts.select(*current.columns))
    # same splinter-file guard as every other CoW path: without the
    # coalesce the rewrite lands as ~shuffle-partitions files per batch
    # (one task per touched partition, floored by the upsert volume)
    table.overwrite_cow(
        replacement.coalesce(_rewrite_width(vals, upserts)),
        part, vals, expected_base=base, key=pk[0])


def _apply_collapsing(
    table: ParquetTable,
    events: DataFrame,
    spec: TableSpec,
    value_columns: list[str] | None,
    epoch: str | None = None,
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
    table.append(out, spec.partition_by, epoch=epoch)


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
