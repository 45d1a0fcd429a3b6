"""Continuous CDC: Structured Streaming -> foreachBatch apply.

Parity map (SURVEY §2.3-§2.4, reference EP3
/root/reference/synch/replication/continuous.py:41-170):

- broker consume loop (B2/B4)      -> readStream (file source for tests,
  kafka in production — same code path after normalization)
- insert_num / insert_interval     -> maxFilesPerTrigger-or-
  maxOffsetsPerTrigger + Trigger.ProcessingTime (W1)
- per-(table,action) accumulators  -> one aggregate over the persisted
  micro-batch counts each table's events, bad rows and DDL rows; each
  table is then merged in one pass (W2)
- in-batch pk dedup + delete-before-insert flush
                                   -> operators.cdc_apply (W3/W5)
- DDL barrier (W7)                 -> 'query' events sort the batch into
  segments; data before the DDL is applied, then the ALTER, then the rest
- offset commit after flush (W8)   -> Structured Streaming checkpoint;
  replays are idempotent because apply is last-wins by event time, so
  at-least-once delivery yields exactly-once table state (an upgrade
  over the reference's skip-error-and-hope, continuous.py:120-152)
- graceful drain (W9)              -> query.stop() / availableNow trigger
- monitoring (E4)                  -> per-table, per-batch record
  {alias, batch, num, type} stored in the commit the apply makes
  (``history()``'s ``info``, Delta's commitInfo) and logged as one JSON
  line (the reference's synch_log rows, factory.py:129-151)
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from synch_spark.config import SyncConfig, TableSpec
from synch_spark.ddl import apply_alter, parse_alter
from synch_spark.events import (
    RAW_EVENT_WIRE_SCHEMA,
    WIRE_SEQ_COL,
    dml_kept,
    parse_values,
    split_updates,
)
from synch_spark.operators.cdc_apply import apply_cdc_batch
from synch_spark.sources.schema_evolution import TableSchema, evolve_schema
from synch_spark.sources.table import ParquetTable

#: TRUNCATE [TABLE] [`db`.]`tbl` — MySQL QUERY-event and pgoutput forms
_TRUNCATE_RE = re.compile(
    r"(?is)^\s*TRUNCATE\s+(?:TABLE\s+)?[`\"']?[\w$]+[`\"']?"
    r"(?:\s*\.\s*[`\"']?[\w$]+[`\"']?)?\s*;?\s*$")


def hidden_target_columns(spec) -> set[str]:
    """The pipeline-internal columns a materialized target carries
    beyond the user's value columns — ONE definition, shared by schema
    restore and by consume's value-schema inference (a divergence here
    crash-loops collapsing tables on a duplicate _event_unixtime).
    Deliberately an explicit set, not startswith('_'): a legitimate
    user column named e.g. _status must survive."""
    from synch_spark.sources.schema_evolution import GEN_COL

    return {spec.sign_column, "_event_unixtime", GEN_COL}

def log_monitor_row(schema: str, table: str, info: dict) -> None:
    """One JSON line at INFO on the ``synch_spark`` logger per table per
    micro-batch or produce round: the long-term monitor series for
    whatever collects logs (no Spark job, no file). The same record
    rides in the table's commit (``ParquetTable.history()``'s
    ``info``); for JDBC-sunk tables this line is the only record."""
    import logging

    logging.getLogger("synch_spark").info(
        "monitor %s", json.dumps({"schema": schema, "table": table, **info},
                                 default=str))


@dataclass
class CdcPipeline:
    """One continuous consumer: event stream -> managed tables."""

    spark: SparkSession
    cfg: SyncConfig
    warehouse: str
    checkpoint_dir: str
    value_schemas: dict[str, T.StructType] = field(default_factory=dict)
    alias: str = "default"
    # incremental materialized views, refreshed in the SAME micro-batch as
    # the table apply (operators.mv); keyed implicitly by their .source
    views: list = field(default_factory=list)
    # optional JDBC sinks keyed by qualified table name: route a table's
    # micro-batches to a JDBC target (sinks.jdbc_sink — the reference's
    # ClickHouse delete+insert flush) INSTEAD of the parquet store.
    # Incremental MATERIALIZED VIEWS are parquet-store-based and are NOT
    # refreshed for sunk tables (the JDBC target owns downstream reads);
    # DDL for sunk tables executes on the target (sink.apply_ddl)
    jdbc_sinks: dict = field(default_factory=dict)
    # decode Debezium's default on-wire logical types (precise-mode
    # base64 DECIMAL, adaptive-mode epoch-days DATE / epoch-int
    # timestamps) when typing each table's rows; set automatically by
    # start_kafka_stream(value_format="debezium")
    debezium_types: bool = False
    # pin the connector's decimal.handling.mode ("precise" | "string" |
    # "auto" = plain-first) — resolves the base64-vs-numeric wire
    # ambiguity, see events.parse_values. None (unset) resolves to
    # "precise" on a Debezium-format stream — the connector's own
    # default, where "auto" would silently misdecode base64 payloads
    # that also parse numerically ('9999', '1e10') — and "auto" on the
    # engine's native streams, whose producer never emits base64.
    debezium_decimal_mode: str | None = None
    # text-valued row images (wal2json / PG wire format): parse values
    # as map<string,string> + per-field CAST — see events.parse_values
    string_values: bool = False
    # tables whose value schema has been reconciled against the stored
    # table this pipeline lifetime (_restore_evolved_schema)
    _vschema_synced: set = field(default_factory=set)

    def _decimal_mode(self, debezium_types: bool) -> str:
        """Resolve the wire decimal decode for one batch: an explicit
        setting always wins; unset defaults to "precise" on a Debezium
        stream (the connector's own decimal.handling.mode default —
        "auto"'s plain-first read would silently misdecode base64
        payloads that also parse numerically) and "auto" on native
        streams, whose producer never emits base64."""
        if self.debezium_decimal_mode is not None:
            return self.debezium_decimal_mode
        return "precise" if debezium_types else "auto"

    def table_for(self, spec: TableSpec) -> ParquetTable:
        return ParquetTable(self.spark, f"{self.warehouse}/{spec.schema}/{spec.table}",
                            retain=spec.retain)

    # -- the batch applier (runs once per micro-batch on the driver) --------
    def apply_batch(self, batch: DataFrame, epoch_id: "int | str",
                    debezium_types: bool | None = None) -> None:
        """``epoch_id``: Spark's monotone per-checkpoint batch id on the
        structured-streaming paths, or a CONTENT-BOUND string (committed
        stream position / offset range) on the polling loops — a
        process-local counter must never be used, it restarts at 0
        while the tables' idempotence markers survive the last 64
        commits, so a restarted loop's first batch would collide and be
        silently dropped."""
        try:
            self._apply_batch(batch, epoch_id, debezium_types)
        except Exception:
            # E6 channel: the record reaches whatever alerts.configure_alerts
            # attached (SMTP at ERROR, rate-limited) before the stream dies;
            # re-raise so the checkpoint does NOT advance past the failure
            import logging

            logging.getLogger("synch_spark").exception(
                "micro-batch %s failed for pipeline %s", epoch_id, self.alias
            )
            raise

    def _apply_batch(self, batch: DataFrame, epoch_id: "int | str",
                     debezium_types: bool | None = None) -> None:
        # per-STREAM decode choice: a Debezium stream must not flip the
        # semantics of a raw-format stream sharing this pipeline, so the
        # flag arrives with the batch; the instance field is only the
        # default for direct callers/file streams
        if debezium_types is None:
            debezium_types = self.debezium_types
        raw = batch.persist()
        try:
            routable = (F.col("action").isNotNull() & F.col("schema").isNotNull()
                        & F.col("table").isNotNull())
            # a NULL event_unixtime floors to 0 (the earliest segment), on
            # DDL and data rows alike: a NULL stamp orders against no DDL,
            # so its row would land in whichever segment the CASE falls to
            ts = F.coalesce(F.col("event_unixtime"), F.lit(0).cast("long"))
            # the events the batch applies, by filter_dml's own skip rule:
            # the count below and the filter cannot disagree
            kept = (routable & (F.col("action") != "query") & dml_kept(
                self.cfg.skip_dmls, self.cfg.skip_delete_tables,
                self.cfg.skip_update_tables))
            # the prologue's one Spark action, per table: its unroutable
            # rows, its kept source events (the monitor num; an update is
            # one) and its DDL rows, which are rare
            tables = raw.groupBy("schema", "table").agg(
                F.count(F.when(~routable, 1)).alias("bad"),
                F.count(F.when(kept, 1)).alias("num"),
                F.collect_list(F.when(
                    routable & (F.col("action") == "query"),
                    F.struct(ts.alias("event_unixtime"), "after"))).alias("ddl"),
            ).collect()
            # dead-letter capture (reference's --skip-error, continuous.py:120-152,
            # upgraded from silent skip to an inspectable table): rows that
            # didn't parse into a routable event land in _synch_dead_letter
            if any(r["bad"] for r in tables):
                # drop the optional wire-seq column: the dead-letter
                # table's schema must not flip with the source format.
                # _epoch stamps as STRING always: epoch_id is a long on
                # the structured-streaming paths but a content-bound
                # string on the polling loops, and one shared
                # _synch_dead_letter table must not mix parquet column
                # types by which consumer dead-lettered first
                dl = ParquetTable(
                    self.spark, f"{self.warehouse}/_synch_dead_letter")
                if dl.exists:
                    # ADVICE r11: a table created before _epoch became
                    # string-typed holds LONG parquet columns; appending
                    # string files into it would mix types in one table
                    # and break every later read. Migrate ONCE, in
                    # place, before the first string append.
                    types = {f.name: f.dataType for f in dl.schema()}
                    if types.get("_epoch", T.StringType()) != T.StringType():
                        dl.overwrite(dl.read().withColumn(
                            "_epoch", F.col("_epoch").cast("string")))
                dl.append(
                    raw.filter(~routable).drop(WIRE_SEQ_COL).withColumn(
                        "_epoch", F.lit(str(epoch_id)))
                )
            # DDL barrier: 'query' rows sort the batch into segments; data
            # before a DDL is applied, then the DDL, then the rest
            ddls = sorted(
                ({"schema": r["schema"], "table": r["table"], **d.asDict()}
                 for r in tables for d in r["ddl"]),
                key=lambda d: d["event_unixtime"])
            # filter raw events FIRST (skip semantics distinguish standalone
            # deletes from update-halves); each segment splits its updates
            data = raw.filter(kept).withColumn("event_unixtime", ts)
            counts = [{(r["schema"], r["table"]): r["num"]
                       for r in tables if r["num"]}]
            segments = [data]
            if ddls:
                # segment i holds ddls[i-1] <= ts < ddls[i]; one more
                # aggregate counts the tables of every segment at once
                at = F.col("event_unixtime")
                seg_of = F.when(at < ddls[0]["event_unixtime"], 0)
                for i, d in enumerate(ddls[1:], 1):
                    seg_of = seg_of.when(at < d["event_unixtime"], i)
                seg_of = seg_of.otherwise(len(ddls))
                counts = [{} for _ in range(len(ddls) + 1)]
                for r in data.groupBy(seg_of.alias("seg"), "schema",
                                      "table").count().collect():
                    counts[r["seg"]][(r["schema"], r["table"])] = r["count"]
                segments = [data.filter(seg_of == i) for i in range(len(counts))]
            for i, seg in enumerate(segments):
                self._apply_data_segment(seg, counts[i], debezium_types,
                                         epoch_id=epoch_id, segment=i)
                if i < len(ddls):
                    self._apply_ddl(ddls[i])
        finally:
            raw.unpersist()

    def _apply_data_segment(self, seg: DataFrame,
                            counts: "dict[tuple[str, str], int]",
                            debezium_types: bool = False,
                            epoch_id: "int | str | None" = None,
                            segment: int = 0) -> None:
        """One merge per table in ``counts``: {(schema, table): its
        source events in the segment, the monitor record's ``num``}."""
        # at-least-once replay guard for the NON-idempotent appliers
        # (collapsing/no-pk appends, mv delta folds): one marker per
        # (stream, micro-batch, DDL segment, table) rides in the commit
        epoch = (f"{self.checkpoint_dir}:{epoch_id}:{segment}"
                 if epoch_id is not None else None)
        seg = split_updates(seg)
        for schema, tbl in counts:
            spec = self.cfg.tables.get(f"{schema}.{tbl}")
            if spec is None:
                continue  # unconfigured table: intentionally ignored
            tevents = seg.filter((F.col("schema") == schema) & (F.col("table") == tbl))
            self._restore_evolved_schema(spec)
            vschema = self.value_schemas.get(spec.qualified_name)
            if vschema is None:
                # configured table with no declared schema is a config bug,
                # not ignorable noise: dead-letter the events (checkpoint
                # advances, but the data stays inspectable/replayable)
                ParquetTable(
                    self.spark, f"{self.warehouse}/_synch_dead_letter_events"
                ).append(
                    tevents.withColumn("_reason", F.lit("missing value_schema"))
                )
                continue
            typed = parse_values(tevents, vschema,
                                 debezium_types=debezium_types,
                                 decimal_mode=self._decimal_mode(debezium_types),
                                 string_values=self.string_values)
            # the monitor record (type 2 = consumer; the producer's is 1)
            info = {"alias": self.alias, "batch": epoch_id,
                    "num": counts[(schema, tbl)], "type": 2}
            sink = self.jdbc_sinks.get(spec.qualified_name)
            if sink is not None:
                sink.apply_batch(typed, spec, num=info["num"])
                log_monitor_row(schema, tbl, info)
                continue
            table = self.table_for(spec)
            apply_cdc_batch(table, typed, spec, epoch=epoch, info=info,
                            num=info["num"])
            for view in self.views:
                if view.source == spec.qualified_name:
                    # base read AFTER apply: min/max partial recompute must
                    # see the post-batch state of delete-affected groups.
                    # epoch: the delta fold is NOT idempotent — a replayed
                    # micro-batch would double-count without the guard
                    view.refresh_from_batch(typed, base=table.read(),
                                            epoch=epoch)
            log_monitor_row(schema, tbl, info)

    def _restore_evolved_schema(self, spec: TableSpec) -> None:
        """Once per pipeline lifetime per table: if the MANAGED table
        already exists, rebuild the value schema from its stored columns.
        DDL evolves ``self.value_schemas`` in memory only; after a
        restart the pipeline would otherwise revert to the static YAML
        schema and silently NULL every post-DDL column — the table's own
        evolved schema is the durable record. Columns the config
        declares but the table lacks (pre-declared, not yet created)
        are kept."""
        qname = spec.qualified_name
        if qname in self._vschema_synced:
            return
        self._vschema_synced.add(qname)
        vschema = self.value_schemas.get(qname)
        if vschema is None or qname in self.jdbc_sinks:
            return
        table = self.table_for(spec)
        if not table.exists:
            return
        hidden = hidden_target_columns(spec)
        fields = [f for f in table.schema() if f.name not in hidden]
        have = {f.name for f in fields}
        fields += [f for f in vschema.fields if f.name not in have]
        self.value_schemas[qname] = T.StructType(fields)

    def _dead_letter_ddl(self, row, reason: str) -> None:
        """Unapplicable DDL: record it inspectably and let the stream
        advance — a crash loop on the same event can never self-heal."""
        import logging

        try:  # the payload may BE the problem (null/garbage after)
            sql = json.loads(row["after"])["query"]
        except (TypeError, ValueError, KeyError):
            sql = repr(row["after"])
        logging.getLogger("synch_spark").error(
            "DDL for %s.%s NOT applied (%s): %s",
            row["schema"], row["table"], reason, sql,
        )
        ParquetTable(
            self.spark, f"{self.warehouse}/_synch_dead_letter_ddl"
        ).append(
            self.spark.createDataFrame(
                [(row["schema"], row["table"], row["after"],
                  row["event_unixtime"], reason)],
                "schema string, table string, after string, "
                "event_unixtime long, _reason string",
            )
        )

    def _apply_truncate(self, spec: TableSpec) -> None:
        """TRUNCATE under the DDL barrier: empty the target. Arrives
        from the MySQL binlog as a QUERY event and from pgoutput's
        Truncate message — both carry the 'query' action, so it rides
        the same barrier ALTER does (batches before it still see the
        rows; batches after see none). The managed table commits a new
        EMPTY version — history keeps the pre-truncate version, so time
        travel/restore still reach the old rows, matching every other
        destructive op on the store. A JDBC-sunk table gets the dialect
        statement on every shard (idempotent under replay: truncating
        an empty table is a no-op)."""
        sink = self.jdbc_sinks.get(spec.qualified_name)
        if sink is not None:
            sink.truncate()
            return
        table = self.table_for(spec)
        if table.exists:
            from synch_spark.sources.table import commit_with_retry

            def wipe():
                base = table.current_version()
                table.overwrite(table.read().limit(0), spec.partition_by,
                                expected_base=base)

            commit_with_retry(wipe, retries=3)

    def _apply_ddl(self, row) -> None:
        """W7: ALTER arrives as values={"query": "<sql>"} on the stream.

        The apply is METADATA-ONLY whenever possible (sources.
        schema_evolution): a new table version of hard links plus an
        evolved schema document — ADD/RENAME/DROP on a 100 TB table
        costs O(files) metadata while the DDL barrier holds, not a
        full-table rewrite. Data files rewrite only when the reader
        cannot reconcile them (MODIFY narrowing, name reuse after a
        drop) or when the op touches the pk / partition column (the
        merge's stats pruning and partition layout key on their
        physical names).

        Hardened against wedging: an unparseable statement or one that
        DROPS a pk/partition column dead-letters (with an ERROR log)
        instead of crash-looping the stream on the same checkpointed
        event; a RENAME of a layout column is followed in the in-memory
        spec (the YAML must be updated before restart — logged)."""
        spec = self.cfg.tables.get(f"{row['schema']}.{row['table']}")
        if spec is None:
            return
        try:
            sql = json.loads(row["after"])["query"]
            if not isinstance(sql, str):
                raise ValueError(f"query payload is {type(sql).__name__}")
        except (TypeError, ValueError, KeyError) as e:
            # a poison 'query' record (null/garbage after, missing key)
            # must dead-letter like an unparseable ALTER — this parse
            # ran BEFORE the hardened path below and crash-looped the
            # checkpoint on the same record forever
            self._dead_letter_ddl(row, f"bad query payload: {e}")
            return
        if _TRUNCATE_RE.match(sql):
            self._apply_truncate(spec)
            return
        try:
            ops = parse_alter(sql)
        except ValueError as e:
            self._dead_letter_ddl(row, f"unparseable: {e}")
            return
        if not ops:
            return  # non-column clauses only (indexes/constraints): no-op
        layout_cols = set(spec.pk) | (
            {spec.partition_by} if spec.partition_by else set()
        )
        if any(op.action == "drop_column" and op.column in layout_cols
               for op in ops):
            self._dead_letter_ddl(
                row, "drops a pk/partition column the pipeline keys on")
            return
        sink = self.jdbc_sinks.get(spec.qualified_name)
        if sink is not None:
            # JDBC-sunk table: the ALTER goes to the JDBC target (the
            # reference's to_clickhouse + execute), plus the value-schema
            # evolution below so subsequent events parse
            sink.apply_ddl(ops)
            vschema = self.value_schemas.get(spec.qualified_name)
            if vschema is not None:
                self.value_schemas[spec.qualified_name] = _evolve_schema(vschema, ops)
            return
        renames = {op.column: op.new_column for op in ops
                   if op.action == "rename_column" and op.new_column}
        table = self.table_for(spec)
        if table.exists:
            ts = table.schema_spec() or TableSchema.from_struct(table.schema())
            evolved, reasons = evolve_schema(ts, ops)
            touches_layout = any(
                op.column in layout_cols or (op.new_column or "") in layout_cols
                for op in ops
            )
            if reasons or touches_layout:
                from synch_spark.sources.table import commit_with_retry

                part_after = (renames.get(spec.partition_by,
                                          spec.partition_by)
                              if spec.partition_by else None)
                # index the new files on the merge key's new name
                key_after = (renames.get(spec.pk[0], spec.pk[0])
                             if spec.has_pk else None)

                def rewrite():
                    # anchor to the version the plan reads: a concurrent
                    # commit between read and overwrite must fail this
                    # one (retried) — not be silently clobbered
                    base = table.current_version()
                    table.overwrite(apply_alter(table.read(), ops),
                                    part_after, expected_base=base,
                                    key=key_after)

                commit_with_retry(rewrite, retries=3)
            else:
                table.commit_schema(evolved)
        # a rename of a layout column must follow through to the merge
        # keys and partition layout, or every later merge wedges on the
        # old name; the YAML still says the old name, so warn loudly
        renamed_layout = {c: renames[c] for c in layout_cols if c in renames}
        if renamed_layout:
            import logging

            spec.pk = tuple(renames.get(c, c) for c in spec.pk)
            if spec.partition_by:
                spec.partition_by = renames.get(spec.partition_by,
                                                spec.partition_by)
            logging.getLogger("synch_spark").warning(
                "DDL renamed layout column(s) %s on %s — update the YAML "
                "pk/partition_by before the next restart",
                renamed_layout, spec.qualified_name,
            )
        # evolve the declared value schema so subsequent events parse
        vschema = self.value_schemas.get(spec.qualified_name)
        if vschema is not None:
            self.value_schemas[spec.qualified_name] = _evolve_schema(vschema, ops)

    # -- stream wiring -------------------------------------------------------
    def start_file_stream(
        self,
        events_dir: str,
        max_files_per_trigger: int | None = None,
        processing_interval: str | None = None,
        available_now: bool = False,
        clean_source: str | None = None,
        archive_dir: str | None = None,
    ):
        """Consume newline-JSON raw events from a directory (test/broker-
        spool form; the kafka variant differs only in source options).

        ``clean_source`` bounds the spool on disk — without it consumed
        files accumulate FOREVER, which at production event volumes is
        unbounded growth on the broker volume. "delete" removes a file
        once its batch commits; "archive" moves it under ``archive_dir``
        (which Spark requires to be OUTSIDE the source glob's reach).
        Both are the file source's own cleanSource machinery, so the
        at-least-once contract is unchanged: cleanup happens only after
        the checkpoint commit that covers the file."""
        reader = (
            self.spark.readStream.schema(RAW_EVENT_WIRE_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger or 1000)
        )
        if clean_source:
            if clean_source not in ("delete", "archive"):
                raise ValueError(
                    f"clean_source {clean_source!r} (delete | archive)")
            if clean_source == "archive" and not archive_dir:
                raise ValueError("clean_source=archive needs archive_dir")
            if clean_source == "archive" and archive_dir:
                # Spark's file source requires the archive dir to be
                # OUTSIDE the source glob's reach — an overlapping dir
                # makes every archived file re-ingest as new input, an
                # infinite loop. Enforce at configure time instead of
                # trusting the docstring. Reach semantics: files under
                # any directory the source pattern MATCHES are input,
                # so the archive overlaps iff the archive dir or one of
                # its ancestors matches the pattern (plain paths: iff
                # the archive sits at or under the source dir). A mere
                # shared static prefix (events /srv/ev-*/cdc, archive
                # /srv/archive) is legal and must NOT be refused.
                import fnmatch as _fn
                import os as _os

                def _expand_braces(pat: str) -> list[str]:
                    # Spark globs support {a,b} alternation; fnmatch
                    # does not — expand (recursively) before matching,
                    # or an archive inside an alternation-matched source
                    # would pass the guard and re-ingest forever
                    i = pat.find("{")
                    if i == -1:
                        return [pat]
                    depth, j = 0, i
                    for j in range(i, len(pat)):
                        if pat[j] == "{":
                            depth += 1
                        elif pat[j] == "}":
                            depth -= 1
                            if depth == 0:
                                break
                    else:
                        return [pat]  # unbalanced: match literally
                    out = []
                    for alt in pat[i + 1:j].split(","):
                        out.extend(_expand_braces(pat[:i] + alt
                                                  + pat[j + 1:]))
                    return out

                ev = _os.path.abspath(events_dir)
                ar = _os.path.abspath(archive_dir)
                has_glob = any(c in events_dir for c in "*?[{")
                patterns = _expand_braces(ev)
                cand, overlap = ar, False
                while True:
                    if (cand == ev if not has_glob
                            else any(_fn.fnmatch(cand, p)
                                     for p in patterns)):
                        overlap = True
                        break
                    parent = _os.path.dirname(cand)
                    if parent == cand:
                        break
                    cand = parent
                if overlap:
                    raise ValueError(
                        f"archive_dir {archive_dir!r} is inside the "
                        f"source path {events_dir!r}; Spark would "
                        "re-ingest archived files as new input — point "
                        "it outside the source glob's reach")
            reader = reader.option("cleanSource", clean_source)
            if archive_dir:
                reader = reader.option("sourceArchiveDir", archive_dir)
        reader = reader.json(events_dir)
        writer = reader.writeStream.foreachBatch(self.apply_batch).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_interval:
            writer = writer.trigger(processingTime=processing_interval)
        return writer.start()

    def start_kafka_stream(
        self,
        bootstrap_servers: str,
        topic: str,
        max_offsets_per_trigger: int | None = None,
        processing_interval: str | None = None,
        value_format: str = "raw",
        assign_partitions: dict[str, list[int]] | None = None,
        starting_offsets: str | dict | None = None,
        available_now: bool = False,
        avro_schemas: dict | None = None,
        avro_registry_url: str | None = None,
        avro_registry_ca: str | None = None,
        security_options: dict | None = None,
    ):
        """Kafka consumer (B3/B4 parity): value is the JSON raw event.

        ``security_options``: extra reader options (``kafka.*`` client
        configs) — build them from the portable spark.kafka security
        keys with :func:`kafka_security_options` so the connector and
        socket transports share one config vocabulary.

        insert_num -> maxOffsetsPerTrigger; insert_interval ->
        ProcessingTime trigger — the reference's flush policy
        (/root/reference/synch/replication/continuous.py:96-100) expressed
        as source options. Requires the kafka connector jar on the
        classpath (not present in the test container; covered by the file
        stream path which shares all downstream code).

        ``value_format="debezium"`` consumes a Debezium connector's
        topics instead of this engine's own producer — the canonical
        zero-code binlog/WAL tail (S3/S5); ``topic`` is then the
        connector's ``<prefix>.<db>.<table>`` pattern (subscribe
        supports comma-lists; use subscribePattern via the same option
        for a whole prefix). Decode parity is pinned by
        tests/test_events_filters.py::test_debezium_decode_parity.

        ``value_format="wal2json"`` consumes raw wal2json payloads
        (v1/v2 auto-detected per message — the shape a
        ``pg_recvlogical -o ...`` pipe or a slot-to-Kafka bridge
        publishes); the decode is the same pure-Column
        ``events.wal2json_to_raw`` every offline path uses, so it is
        streaming-safe with no driver parsing. (pgoutput BINARY
        payloads are deliberately NOT a Kafka value format: their
        Relation metadata is session-scoped and ordering-dependent,
        which a partitioned topic does not preserve — bridge pgoutput
        through `produce --source pg-socket`, which decodes in wire
        order and publishes standard raw events.)

        ``assign_partitions`` ({topic: [partition, ...]}) replaces
        subscribe with Kafka manual assignment — B4 parity with the
        reference, which pins partition = database-index and seeks it
        explicitly (/root/reference/synch/broker/kafka.py:40-61). Use it
        to consume only your databases' partitions of a topic shared
        with other consumers mid-migration (build the dict as
        {topic: [databases.index(db)]}). ``starting_offsets`` maps to
        startingOffsets — the explicit-seek analog; a dict is
        JSON-encoded per the source's {topic: {partition: offset}}
        contract. Checkpoint-managed offsets still take precedence on
        restart (strictly better operationally than the reference's
        manual seek bookkeeping).
        """
        if value_format == "debezium-avro" and not (avro_schemas
                                                    or avro_registry_url):
            # without either source of schemas every record fails at
            # the first batch; surface the missing config at stream START
            raise ValueError(
                "value_format=debezium-avro needs avro_schemas "
                "({schema_id: schema dict | JSON | file:path.avsc}) "
                "and/or avro_registry_url (a Confluent Schema Registry "
                "base URL for lazy id fetch)")
        if value_format == "debezium" and self.string_values:
            # surface the config conflict at stream START (driver-side),
            # not as a per-batch ValueError crash-loop at the first event
            raise ValueError(
                "spark.value_parse: string cannot be combined with a "
                "Debezium-format stream (see events.parse_values)"
            )
        if value_format == "wal2json" and not self.string_values:
            # the inverse conflict: wal2json row images are ALL TEXT, and
            # a plain typed from_json nulls quoted scalars in numeric
            # fields — pk columns would silently null and merge wrong
            raise ValueError(
                "value_format=wal2json needs spark.value_parse: string "
                "(wal2json carries every value as text; see "
                "events.parse_values)"
            )
        opts = kafka_source_options(
            bootstrap_servers, topic,
            max_offsets_per_trigger or self.cfg.insert_num,
            assign_partitions, starting_offsets,
        )
        opts.update(security_options or {})
        try:
            reader = self.spark.readStream.format("kafka")
            for k, v in opts.items():
                reader = reader.option(k, v)
            loaded = reader.load()
        except Exception as e:  # noqa: BLE001 — translate the classpath failure
            if "kafka" in str(e).lower() and (
                "Failed to find" in str(e) or "ClassNotFound" in str(e)
            ):
                raise RuntimeError(
                    "spark-sql-kafka connector not on the classpath; launch "
                    "with --packages org.apache.spark:spark-sql-kafka-0-10_"
                    "2.13:<spark-version> or use the file-spool stream"
                ) from e
            raise
        dbz = value_format == "debezium"
        raw = raw_from_kafka_values(loaded, value_format, avro_schemas,
                                    avro_registry_url, avro_registry_ca)
        # per-table typing of a Debezium stream must also decode the
        # connector's default logical-type encodings (precise DECIMAL,
        # adaptive temporals) — scoped to THIS stream's batches
        writer = raw.writeStream.foreachBatch(
            lambda b, e: self.apply_batch(b, e, debezium_types=dbz)
        ).option("checkpointLocation", self.checkpoint_dir)
        if available_now:
            # drain-and-exit parity with start_file_stream — without it
            # `consume --available-now` on a kafka config would block in
            # awaitTermination forever
            return writer.trigger(availableNow=True).start()
        interval = processing_interval or f"{self.cfg.insert_interval_s} seconds"
        return writer.trigger(processingTime=interval).start()


def raw_from_kafka_values(loaded: DataFrame, value_format: str,
                          avro_schemas: dict | None = None,
                          avro_registry_url: str | None = None,
                          avro_registry_ca: str | None = None) -> DataFrame:
    """Kafka value column → RAW_EVENT_SCHEMA, per wire format. Pure
    (works on any DataFrame with a ``value`` column — static frames in
    tests, the streaming reader in production): "raw" is this engine's
    own producer JSON, "debezium" the connector envelope (JSON),
    "debezium-avro" the Confluent-framed Avro envelope most production
    connectors actually publish (``avro_schemas`` maps registry schema
    ids to schemas — see sources.avro_codec.load_schemas), "wal2json"
    bare plugin payloads from a pg_recvlogical/slot-to-Kafka bridge."""
    if value_format == "debezium-avro":
        from synch_spark.sources.avro_codec import debezium_avro_to_raw

        # logical types (precise decimals, temporals) are decoded by the
        # Avro layer itself — downstream typing is a PLAIN typed parse,
        # no debezium_types remapping (that knob exists for the JSON
        # converter's string/base64 encodings, which Avro never emits)
        return debezium_avro_to_raw(
            loaded, avro_schemas or {},
            registry_url=avro_registry_url,
            registry_ca=avro_registry_ca,
            # wire order rides the Kafka offset, exactly like the JSON
            # debezium path below: without it a same-timestamp
            # insert→delete pair on one pk resolves arbitrarily
            order_col="offset" if "offset" in loaded.columns else None)
    if value_format == "debezium":
        from synch_spark.events import debezium_to_raw

        # streaming consume: same-pk same-ms updates otherwise resolve
        # arbitrarily under last-wins. Wire order rides out-of-band in
        # events.WIRE_SEQ_COL, keyed to the Kafka offset (deterministic,
        # monotone per topic-partition, stable across restarts);
        # offline/graded decodes keep the exact wire value.
        return debezium_to_raw(
            loaded, "value", subsecond_tiebreak=True,
            order_col="offset" if "offset" in loaded.columns else None)
    if value_format == "wal2json":
        from synch_spark.events import wal2json_to_raw

        # per-BATCH fallback instant: current_timestamp() re-evaluates
        # each micro-batch, so a timestampless bridge's events get their
        # arrival batch's time — a frozen int here would stamp the whole
        # stream's lifetime with the plan-build instant
        return wal2json_to_raw(
            loaded, "value",
            fallback_unixtime_us=F.unix_micros(F.current_timestamp()),
            subsecond_tiebreak=True,
            order_col="offset" if "offset" in loaded.columns else None)
    if value_format != "raw":
        raise ValueError(
            f"unknown kafka value_format {value_format!r} "
            "(raw | debezium | debezium-avro | wal2json)")
    # WIRE schema: a producer that attached the wire-order column (the
    # pg live tail re-publishing a decoded slot drain) keeps it across
    # the broker hop; payloads without the field parse it as null.
    return loaded.select(
        F.from_json(F.col("value").cast("string"),
                    RAW_EVENT_WIRE_SCHEMA).alias("e")
    ).select("e.*")


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    max_offsets_per_trigger: int,
    assign_partitions: dict[str, list[int]] | None = None,
    starting_offsets: str | dict | None = None,
) -> dict[str, str]:
    """Source-option dict for the Kafka reader — pure so the
    assign/subscribe contract is unit-testable without the connector
    jar. Exactly one of subscribe / assign is set; ``assign`` is the
    JSON {"topic": [0, 1]} form the Spark Kafka source requires."""
    import json as _json

    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "maxOffsetsPerTrigger": str(max_offsets_per_trigger),
    }
    if assign_partitions:
        opts["assign"] = _json.dumps(
            {t: sorted(ps) for t, ps in sorted(assign_partitions.items())},
            separators=(",", ":"),
        )
    else:
        opts["subscribe"] = topic
    if starting_offsets is not None:
        opts["startingOffsets"] = (
            starting_offsets
            if isinstance(starting_offsets, str)
            else _json.dumps(starting_offsets, separators=(",", ":"))
        )
    return opts


def _jaas_quote(v: str) -> str:
    """A value inside a JAAS config double-quoted string: backslashes
    and quotes escape; anything else passes through."""
    return v.replace("\\", "\\\\").replace('"', '\\"')


def kafka_security_options(kconf: dict) -> dict[str, str]:
    """The PORTABLE spark.kafka security keys (ssl_mode / ssl_ca /
    sasl_mechanism / sasl_username / sasl_password — the vocabulary the
    socket transport speaks natively) translated to spark-sql-kafka
    CONNECTOR options, so ONE config block drives both transports
    against the same SASL_SSL cluster:

    - security.protocol from (sasl?, tls?): SASL_SSL / SASL_PLAINTEXT /
      SSL / PLAINTEXT.
    - sasl.mechanism + a Plain/ScramLoginModule jaas.config carrying
      the credentials (JAAS-quoted).
    - ssl_ca → a PEM truststore (``ssl.truststore.type: PEM``, the
      JVM client's native PEM support); ssl_mode require/verify-ca
      clear ``ssl.endpoint.identification.algorithm`` (the JVM knob
      only controls HOSTNAME checking — chain verification always
      runs against the truststore, so 'require' is approximated by
      verify-ca semantics there; the socket transport honors the
      exact libpq meaning).
    - ``spark.kafka.options: {...}``: verbatim passthrough for any
      other client config (auto-prefixed ``kafka.``), e.g.
      ssl.keystore.* for mTLS.

    Pure (no jar needed): unit-testable exactly like
    :func:`kafka_source_options`."""
    opts: dict[str, str] = {}
    ssl_mode = kconf.get("ssl_mode", "disable") or "disable"
    sasl = kconf.get("sasl_mechanism")
    tls = ssl_mode != "disable"
    proto = ("SASL_SSL" if sasl and tls
             else "SASL_PLAINTEXT" if sasl
             else "SSL" if tls else "PLAINTEXT")
    if proto != "PLAINTEXT":
        opts["kafka.security.protocol"] = proto
    if tls:
        if ssl_mode in ("require", "verify-ca"):
            opts["kafka.ssl.endpoint.identification.algorithm"] = ""
        if kconf.get("ssl_ca"):
            opts["kafka.ssl.truststore.type"] = "PEM"
            opts["kafka.ssl.truststore.location"] = str(kconf["ssl_ca"])
    if sasl:
        if sasl not in ("PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512"):
            raise ValueError(
                f"unsupported sasl_mechanism {sasl!r} "
                "(PLAIN | SCRAM-SHA-256 | SCRAM-SHA-512)")
        user = kconf.get("sasl_username")
        pwd = kconf.get("sasl_password")
        if user is None or pwd is None:
            raise ValueError(
                f"sasl_mechanism={sasl} needs sasl_username and "
                "sasl_password")
        module = (
            "org.apache.kafka.common.security.plain.PlainLoginModule"
            if sasl == "PLAIN" else
            "org.apache.kafka.common.security.scram.ScramLoginModule")
        opts["kafka.sasl.mechanism"] = sasl
        opts["kafka.sasl.jaas.config"] = (
            f'{module} required username="{_jaas_quote(user)}" '
            f'password="{_jaas_quote(pwd)}";')
    for k, v in (kconf.get("options") or {}).items():
        key = k if str(k).startswith("kafka.") else f"kafka.{k}"
        opts[key] = str(v)
    return opts


def _evolve_schema(schema: T.StructType, ops) -> T.StructType:
    fields = list(schema.fields)
    for op in ops:
        if op.action == "add_column":
            fields.append(T.StructField(op.column, op.spark_type, True))
        elif op.action == "drop_column":
            fields = [f for f in fields if f.name != op.column]
        elif op.action == "rename_column":
            fields = [
                T.StructField(op.new_column, f.dataType, f.nullable)
                if f.name == op.column
                else f
                for f in fields
            ]
        elif op.action == "modify_column":
            fields = [
                T.StructField(f.name, op.spark_type, f.nullable)
                if f.name == op.column
                else f
                for f in fields
            ]
    return T.StructType(fields)
