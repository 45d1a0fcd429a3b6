"""Incremental materialized-view maintenance under CDC.

The reference outsources aggregate maintenance to ClickHouse's
Summing/AggregatingMergeTree family (siblings of the engines it creates,
`/root/reference/synch/enums.py:14-18`): deltas are appended and the
engine folds them at merge/read time. Here the same contract is native:
an aggregate view (group keys -> count + sums) is maintained from CDC
event batches WITHOUT recomputing over the base table — each batch
contributes signed deltas (+1/insert, -1/delete; updates arrive already
split by the event IR), and merging a delta into the view is one
groupBy over (view ∪ delta), which Spark executes with map-side partial
aggregation and a shuffle proportional to |delta| + |affected groups|,
not the base table size. At 100 TB of base data with a bounded group
space this is the only affordable refresh strategy.

count/sum are purely distributive and fold from deltas alone. min/max
fold on the insert path but are NOT delta-maintainable under deletes
(removing the current max says nothing about the runner-up), so
MaterializedView supports them with the standard partial-recompute
strategy: groups untouched by deletes fold, groups that saw a delete
re-aggregate from the base table — but ONLY those groups (a semi-join
prune), so refresh cost is O(delta + base rows of delete-affected
groups), never a full rescan. avg derives as sum/count at read time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

DEC = "decimal(18,2)"


def delta_aggregate(
    batch: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    sign: Column,
) -> DataFrame:
    """Collapse one CDC batch into signed per-group deltas.

    `sign` is +1 for inserts and -1 for deletes (the T6 annotation,
    reference `synch/writer/collapsing_merge_tree.py:47-56`). Output
    schema: group_cols + n_delta + <c>_delta for each sum column.
    """
    aggs = [F.sum(sign).cast("bigint").alias("n_delta")] + [
        F.sum(F.col(c).cast(DEC) * sign.cast(DEC)).alias(f"{c}_delta")
        for c in sum_cols
    ]
    return batch.groupBy(*group_cols).agg(*aggs)


def merge_delta(
    view: DataFrame | None,
    delta: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Fold a delta frame into the current view state (view may be None
    on first refresh). Groups whose net count reaches 0 are dropped —
    fully-deleted keys must not linger as zero rows (the analog of a
    collapsed pair vanishing at ClickHouse merge time)."""
    if view is not None:
        delta = view.unionByName(delta)
    merged = delta.groupBy(*group_cols).agg(
        F.sum("n_delta").cast("bigint").alias("n_delta"),
        *[F.sum(f"{c}_delta").alias(f"{c}_delta") for c in sum_cols],
    )
    return merged.filter(F.col("n_delta") != 0)


class MaterializedView:
    """A persisted incremental aggregate view over one replicated table,
    refreshed inside the same micro-batch that applies the CDC events
    (CdcPipeline folds the typed batch into every view registered on the
    source table, after the table merge).

    Contract: the event stream is the engine's own IR — updates arrive
    pre-split as delete(before)+insert(after) (T1, reference
    `synch/reader/mysql.py:189-208`), so signed folding never
    double-counts. State lives in a versioned ParquetTable: overwrite
    commits a NEW immutable version dir, so the lazy read-fold-overwrite
    cycle has no read-after-write hazard. State size is group-space
    cardinality; when that itself is huge, pass cluster_by to keep the
    state pk-clustered and fold the delta in as a pk-keyed merge on the
    group columns (cdc_apply's deletion-vector merge) — refresh stays
    O(delta + affected files)."""

    SPEC_FILE = "_mv_spec.json"

    def __init__(self, spark, root: str, source: str,
                 group_cols: list[str], sum_cols: list[str],
                 minmax_cols: list[str] | None = None,
                 hll_cols: list[str] | None = None):
        from synch_spark.sources.table import ParquetTable

        self.spark = spark
        self.root = root
        self.source = source
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols)
        self.minmax_cols = list(minmax_cols or [])
        self.hll_cols = list(hll_cols or [])
        self.table = ParquetTable(spark, root)

    @classmethod
    def create(cls, spark, root, source, group_cols, sum_cols,
               minmax_cols=None, hll_cols=None):
        import json
        import os

        os.makedirs(root, exist_ok=True)
        with open(os.path.join(root, cls.SPEC_FILE), "w") as f:
            json.dump(
                {"source": source, "group_cols": list(group_cols),
                 "sum_cols": list(sum_cols),
                 "minmax_cols": list(minmax_cols or []),
                 "hll_cols": list(hll_cols or [])},
                f,
            )
        return cls(spark, root, source, group_cols, sum_cols, minmax_cols,
                   hll_cols)

    @classmethod
    def load(cls, spark, root):
        import json
        import os

        with open(os.path.join(root, cls.SPEC_FILE)) as f:
            spec = json.load(f)
        return cls(spark, root, spec["source"], spec["group_cols"],
                   spec["sum_cols"], spec.get("minmax_cols"),
                   spec.get("hll_cols"))

    def _state(self) -> DataFrame | None:
        return self.table.read() if self.table.exists else None

    def _mm_aggs(self, src_col):
        aggs = []
        for c in self.minmax_cols:
            aggs.append(F.min(src_col(c)).alias(f"{c}_min"))
            aggs.append(F.max(src_col(c)).alias(f"{c}_max"))
        return aggs

    def _hll_aggs(self, src_col):
        """Per-group DataSketches HLL sketch of each distinct-count column.
        Sketch union is commutative/associative, so insert batches fold in
        any order; deletes cannot un-sketch (same class of problem as
        min/max) and reuse the delete-affected-group recompute path."""
        return [
            F.hll_sketch_agg(src_col(c)).alias(f"{c}_hll") for c in self.hll_cols
        ]

    def _recompute_cols(self):
        """State column names the delete path must rebuild from base."""
        return [f"{c}_{k}" for c in self.minmax_cols for k in ("min", "max")] + [
            f"{c}_hll" for c in self.hll_cols
        ]

    def refresh_from_batch(self, typed_events: DataFrame,
                           base: DataFrame | None = None,
                           action_col: str = "action",
                           epoch: str | None = None) -> None:
        """Fold one typed CDC batch (post update-split) into the state.

        ``base`` is the CURRENT base table (read AFTER the batch was
        applied to it); required only when minmax_cols/hll_cols is set
        and the batch contains deletes — the delete-affected groups
        re-aggregate their min/max and re-sketch their HLL from base,
        semi-join-pruned to just those groups.

        ``epoch``: at-least-once replay guard. The delta fold is NOT
        idempotent — a replayed micro-batch (table merge succeeded, a
        later step in the same foreachBatch failed) would double-count
        every group in the batch. The marker rides in the state commit
        itself (atomic); a replay that finds it in the retained window
        skips the fold. Same mechanism refresh_from_changes gets from
        its two-phase cursor.
        """
        if epoch is not None and self.table.exists \
                and self.table._epoch_applied(epoch):
            return
        persisted = False
        if self._recompute_cols():
            # the has-deletes probe below reads the batch a second time;
            # persist HERE so every caller benefits (the streaming path
            # used to pay the full parse/split lineage twice per batch)
            typed_events = typed_events.persist()
            persisted = True
        try:
            self._refresh_from_batch(typed_events, base, action_col, epoch)
        finally:
            if persisted:
                typed_events.unpersist()

    def _refresh_from_batch(self, typed_events, base, action_col,
                            epoch) -> None:
        is_del = F.col(action_col) == "delete"
        sign = F.when(is_del, F.lit(-1)).otherwise(F.lit(1))
        delta = typed_events.groupBy(*self.group_cols).agg(
            F.sum(sign).cast("bigint").alias("n_delta"),
            *[F.sum(F.col(c).cast(DEC) * sign.cast(DEC)).alias(f"{c}_delta")
              for c in self.sum_cols],
            # inserts fold into min/max + sketches; a delete only flags
            *self._mm_aggs(lambda c: F.when(~is_del, F.col(c))),
            *self._hll_aggs(lambda c: F.when(~is_del, F.col(c))),
            F.max(is_del.cast("int")).alias("_had_del"),
        )
        state = self._state()
        if state is not None:
            delta = state.withColumn("_had_del", F.lit(0)).unionByName(delta)
        merged = (
            delta.groupBy(*self.group_cols)
            .agg(
                F.sum("n_delta").cast("bigint").alias("n_delta"),
                *[F.sum(f"{c}_delta").alias(f"{c}_delta") for c in self.sum_cols],
                *[a for c in self.minmax_cols for a in (
                    F.min(f"{c}_min").alias(f"{c}_min"),
                    F.max(f"{c}_max").alias(f"{c}_max"),
                )],
                *[F.hll_union_agg(f"{c}_hll", allowDifferentLgConfigK=False)
                  .alias(f"{c}_hll") for c in self.hll_cols],
                F.max("_had_del").alias("_had_del"),
            )
            .filter(F.col("n_delta") != 0)
        )
        rebuild = self._recompute_cols()
        if rebuild:
            has_deletes = (
                typed_events.filter(is_del).limit(1).count() > 0
            )
            if has_deletes:
                if base is None:
                    raise ValueError(
                        "minmax_cols/hll_cols set and batch contains deletes: "
                        "refresh_from_batch needs the post-apply base table"
                    )
                affected = merged.filter(F.col("_had_del") == 1).select(
                    *self.group_cols
                )
                # NULL-SAFE group-key joins throughout: a delete touching
                # a NULL group key must recompute that group like any
                # other — name-list equi-joins never match NULL keys, so
                # the recompute silently wrote NULL min/max/HLL into a
                # group base still had rows for
                b, a = base.alias("_b"), affected.alias("_a")
                cond_ba = [F.col(f"_b.{c}").eqNullSafe(F.col(f"_a.{c}"))
                           for c in self.group_cols]
                recomp = (
                    b.join(a, cond_ba, "left_semi")
                    .groupBy(*self.group_cols)
                    .agg(*self._mm_aggs(lambda c: F.col(c)),
                         *self._hll_aggs(lambda c: F.col(c)))
                )
                ren = recomp.select(
                    *[F.col(c).alias(f"_g_{c}") for c in self.group_cols],
                    *[F.col(name).alias(f"_r_{name}") for name in rebuild],
                )
                cond_mr = [F.col(c).eqNullSafe(F.col(f"_g_{c}"))
                           for c in self.group_cols]
                keep = [
                    F.when(F.col("_had_del") == 1, F.col(f"_r_{name}"))
                    .otherwise(F.col(name)).alias(name)
                    for name in rebuild
                ]
                merged = merged.join(ren, cond_mr, "left").select(
                    *self.group_cols, "n_delta",
                    *[f"{c}_delta" for c in self.sum_cols],
                    *keep, "_had_del",
                )
        self.table.overwrite(merged.drop("_had_del"), epoch=epoch)

    def full_build(self, base: DataFrame, epoch: str | None = None) -> None:
        """Initial build from a table snapshot: every row is one +insert.
        ``epoch``: sync-intent token — rides in the commit entry so
        _last_synced promotes on THIS build, not on any other commit."""
        built = base.groupBy(*self.group_cols).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_delta"),
            *[F.sum(F.col(c).cast(DEC)).alias(f"{c}_delta") for c in self.sum_cols],
            *self._mm_aggs(lambda c: F.col(c)),
            *self._hll_aggs(lambda c: F.col(c)),
        )
        self.table.overwrite(built, epoch=epoch)

    # -- change-feed-driven maintenance ---------------------------------------
    SYNC_FILE = "_mv_synced.json"

    def _sync_doc(self) -> dict | None:
        import json
        import os

        path = os.path.join(self.root, self.SYNC_FILE)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def _last_synced(self) -> int | None:
        """Source version the state provably reflects. The intent doc
        records {prev, pending, token} BEFORE the state overwrite; the
        overwrite landing WITH THAT TOKEN in its commit entry is what
        promotes pending -> synced. A crash between intent and overwrite
        therefore re-reads from prev — the feed is re-applied, never
        double-applied, because the state never advanced.

        Token-identified, not version-counted: promoting on
        current_version() >= expected would let ANY other commit to the
        MV table (an event-path refresh_from_batch landing between the
        intent write and a crashed sync's overwrite) falsely mark the
        feed interval applied — its deltas silently dropped forever."""
        doc = self._sync_doc()
        if doc is None:
            return None
        tok = doc.get("token")
        if tok is not None:
            if self.table.exists and self.table._epoch_applied(tok):
                return doc["pending"]
            return doc["prev"]
        # legacy doc (pre-token): version-count promotion
        if self.table.exists and self.table.current_version() >= doc["mv_expected"]:
            return doc["pending"]
        return doc["prev"]

    def _write_sync(self, prev, pending, mv_expected, token=None) -> None:
        import json
        import os
        import uuid

        path = os.path.join(self.root, self.SYNC_FILE)
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"prev": prev, "pending": pending,
                       "mv_expected": mv_expected, "token": token}, f)
        os.replace(tmp, path)

    def mark_synced(self, source_version: int) -> None:
        """Re-baseline the sync cursor after an OUT-OF-BAND full build
        (CLI `mv create`/`mv refresh`). Without this, a sync doc left
        pointing at an older source version would replay a feed interval
        the rebuild already baked in — signed-delta folding is not
        idempotent, so that double-counts silently. Callers that
        full_build outside refresh_from_changes must follow with
        mark_synced(source.current_version()) read BEFORE the build."""
        mv_v = self.table.current_version() if self.table.exists else -1
        # already committed: expected == current promotes immediately
        self._write_sync(None, source_version, mv_v)

    def refresh_from_changes(self, source_table, pk) -> int:
        """Catch the view up to the source table's CURRENT version by
        consuming its row-level change feed (``ParquetTable.changes``) —
        for views that never see the event stream: built after the fact,
        maintained by another team, or fed across a storage boundary.
        The reference has no analog; downstream of its ClickHouse target
        everything re-scans.

        Cost per sync is O(files changed since the last sync) + one
        state merge — never a base-table scan (except the min/max/HLL
        delete-recompute, which stays semi-join-pruned to the affected
        groups). Exactly-once across crashes via a two-phase version
        checkpoint: an intent file written before the state commit, the
        state commit itself doing the promotion (see ``_last_synced``).
        A consumer that lags past the source's retention window can't
        replay the missed feed — it falls back to ``full_build`` (the
        documented contract of bounded retention; same as a Kafka
        consumer off the end of the log).

        Single-maintainer contract like every other refresh path: two
        concurrent syncs of the SAME view race benignly on the intent
        file but waste work; serialize them."""
        import uuid as _uuid

        cur = source_table.current_version()
        last = self._last_synced()
        mv_v = self.table.current_version() if self.table.exists else -1
        if last is not None and last == cur:
            return cur
        token = f"mv_sync:{_uuid.uuid4().hex}"
        if last is None:
            self._write_sync(None, cur, mv_v + 1, token=token)
            self.full_build(source_table.read(), epoch=token)
            self._promote_sync(cur)
            return cur
        try:
            feed = source_table.changes(last, cur, pk=pk)
        except FileNotFoundError:
            # lagged past the source's retention window: the feed for
            # (last, cur] is gone — rebuild from the current snapshot
            self._write_sync(last, cur, mv_v + 1, token=token)
            self.full_build(source_table.read(), epoch=token)
            self._promote_sync(cur)
            return cur
        # the feed IS the engine IR: postimages insert, preimages delete
        typed = feed.withColumn(
            "action",
            F.when(F.col("_change_type").isin("insert", "update_postimage"),
                   F.lit("insert")).otherwise(F.lit("delete")),
        ).drop("_change_type")
        base = source_table.read() if self._recompute_cols() else None
        self._write_sync(last, cur, mv_v + 1, token=token)
        self.refresh_from_batch(typed, base=base, epoch=token)
        self._promote_sync(cur)
        return cur

    def _promote_sync(self, source_version: int) -> None:
        """Durably promote the sync doc AFTER a successful sync commit.
        The token check in ``_last_synced`` relies on the token's epoch
        marker staying visible from the state table's head entry; that
        list is bounded (``ParquetTable._EPOCH_KEEP``), so a view that
        takes many epoch-stamped event-path folds between syncs could
        eventually rotate the token out and regress to doc['prev'] —
        re-applying a non-idempotent delta fold. Writing the doc in
        promoted form (prev == pending, token cleared) closes that
        window; the token check remains only for the crash interval
        between the intent write and this promotion."""
        mv_v = self.table.current_version() if self.table.exists else -1
        self._write_sync(source_version, source_version, mv_v)

    def read(self) -> DataFrame:
        state = self._state()
        if state is None:
            raise FileNotFoundError(f"materialized view at {self.root} not built")
        return read_view(state, self.sum_cols, self.hll_cols)


def read_view(view: DataFrame, sum_cols: list[str],
              hll_cols: list[str] | None = None) -> DataFrame:
    """Read-time projection: expose count and sums under stable names
    (n, <c>_sum) and HLL sketches as estimates (<c>_ndv). Derived
    averages belong here, not in the state."""
    hll_cols = list(hll_cols or [])
    hidden = {"n_delta"} | {f"{c}_hll" for c in hll_cols}
    return view.select(
        *[c for c in view.columns
          if c not in hidden and not c.endswith("_delta")],
        F.col("n_delta").alias("n"),
        *[F.col(f"{c}_delta").alias(f"{c}_sum") for c in sum_cols],
        *[F.hll_sketch_estimate(f"{c}_hll").alias(f"{c}_ndv") for c in hll_cols],
    )


class JoinMaterializedView:
    """Aggregate-over-join MV via join-aggregate decomposition (eager
    aggregation pushdown): the classic "revenue by dimension attribute"
    view — e.g. SUM(value) GROUP BY customer.segment where the fact
    carries only the FK — maintained incrementally WITHOUT joining
    during refresh.

    Design: the persisted state is a plain MaterializedView keyed by the
    fact's FK columns (partial count/sums per FK). Consequences, all
    deliberate and scale-driven:

    - **Fact deltas fold with zero joins** — refresh is exactly the
      per-FK signed fold MaterializedView already does, O(delta +
      affected FKs).
    - **Dimension changes cost NOTHING at refresh time** — the dim is
      joined at read, so a re-labeled customer (segment move, nation
      change) is picked up by the next read with no state maintenance.
      This sidesteps the hard half of delta-join maintenance (removing
      contributions attributed under old dim values), which join-keyed
      state would require tracking.
    - **Read = |distinct FK| partials ⋈ dim → final regroup.** At 100 TB
      of fact data the partial state is FK-cardinality-sized (orders of
      magnitude smaller than the fact); the read-side join broadcasts
      the dim when small and the final regroup shuffles partials, never
      fact rows.

    The trade: read does real (bounded) work. For dashboard-hot paths
    layer a second plain MaterializedView over the read output; its
    staleness is then governed by dim-change frequency.

    Reference parity: ClickHouse users express this as a Summing MV on a
    pre-joined INSERT SELECT, which silently freezes dim attributes at
    insert time; read-time join is the correction of that known wart.
    """

    SPEC_KIND = "join_mv"

    def __init__(self, spark, root: str, source: str, fk_cols: list[str],
                 sum_cols: list[str], dim_source: str,
                 dim_key_cols: list[str], dim_group_cols: list[str]):
        self.inner = MaterializedView(spark, root, source, fk_cols, sum_cols)
        self.spark = spark
        self.root = root
        self.source = source  # CdcPipeline routes batches by this
        self.fk_cols = list(fk_cols)
        self.sum_cols = list(sum_cols)
        self.dim_source = dim_source
        self.dim_key_cols = list(dim_key_cols)
        self.dim_group_cols = list(dim_group_cols)

    @classmethod
    def create(cls, spark, root, source, fk_cols, sum_cols,
               dim_source, dim_key_cols, dim_group_cols):
        import json
        import os

        os.makedirs(root, exist_ok=True)
        with open(os.path.join(root, MaterializedView.SPEC_FILE), "w") as f:
            json.dump(
                {"kind": cls.SPEC_KIND, "source": source,
                 "group_cols": list(fk_cols), "sum_cols": list(sum_cols),
                 "minmax_cols": [], "dim_source": dim_source,
                 "dim_key_cols": list(dim_key_cols),
                 "dim_group_cols": list(dim_group_cols)},
                f,
            )
        return cls(spark, root, source, fk_cols, sum_cols,
                   dim_source, dim_key_cols, dim_group_cols)

    @classmethod
    def load(cls, spark, root):
        import json
        import os

        with open(os.path.join(root, MaterializedView.SPEC_FILE)) as f:
            spec = json.load(f)
        if spec.get("kind") != cls.SPEC_KIND:
            raise ValueError(f"{root} is not a {cls.SPEC_KIND} spec")
        return cls(spark, root, spec["source"], spec["group_cols"],
                   spec["sum_cols"], spec["dim_source"],
                   spec["dim_key_cols"], spec["dim_group_cols"])

    # refresh surface: identical to the inner per-FK view (no join!);
    # ``base`` is accepted for CdcPipeline call-compatibility and unused —
    # per-FK count/sum partials never need a base-table recompute
    def refresh_from_batch(self, typed_events: DataFrame,
                           base: DataFrame | None = None,
                           action_col: str = "action",
                           epoch: str | None = None) -> None:
        self.inner.refresh_from_batch(typed_events, action_col=action_col,
                                      epoch=epoch)

    def refresh_from_changes(self, source_table, pk) -> int:
        """Catch up from the FACT table's change feed (the dim side
        needs no maintenance at all — it joins at read time, which is
        the whole point of FK-keyed partials). Same exactly-once
        two-phase checkpoint as the plain view; per-FK count/sum
        partials never need a base recompute, so no base read either."""
        return self.inner.refresh_from_changes(source_table, pk)

    def mark_synced(self, source_version: int) -> None:
        self.inner.mark_synced(source_version)

    def full_build(self, base: DataFrame) -> None:
        self.inner.full_build(base)

    def read(self, dim: DataFrame, how: str = "inner") -> DataFrame:
        """Partials ⋈ dim → regroup by the dim attributes. ``how='left'``
        keeps dangling-FK partials (dim attrs null) instead of dropping
        them — inner matches SQL JOIN semantics and is the default."""
        partials = self.inner.table.read()
        cond = None
        for fk, dk in zip(self.fk_cols, self.dim_key_cols):
            c = partials[fk] == dim[dk]
            cond = c if cond is None else (cond & c)
        # no broadcast hint: Catalyst/AQE picks broadcast for a small dim
        # and degrades to a shuffle join when the dim outgrows the threshold
        joined = partials.join(dim, cond, how)
        return joined.groupBy(*self.dim_group_cols).agg(
            F.sum("n_delta").cast("bigint").alias("n"),
            *[F.sum(f"{c}_delta").alias(f"{c}_sum") for c in self.sum_cols],
        )


def load_view(spark, root):
    """Polymorphic loader: dispatch on the persisted spec's ``kind`` so
    callers (CLI, pipeline bootstrap) need not know which MV flavor was
    registered at ``root``."""
    import json
    import os

    with open(os.path.join(root, MaterializedView.SPEC_FILE)) as f:
        spec = json.load(f)
    if spec.get("kind") == JoinMaterializedView.SPEC_KIND:
        return JoinMaterializedView.load(spark, root)
    return MaterializedView.load(spark, root)
