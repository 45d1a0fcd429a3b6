"""Full-snapshot ETL driver + count/checksum verification.

Parity: EP1 `synch etl` (/root/reference/synch/replication/etl.py:9-72)
— ensure database, per table skip-if-no-pk / auto_full_etl=false,
optional --renew drop, create-from-source-schema, bulk insert — and the
`synch check` count-parity verifier (/root/reference/synch/cli.py:94-110).

Spark-first: the snapshot is a distributed read (partitioned JDBC in
production, parquet in tests) written straight to the managed table; the
reference's server-side `INSERT INTO ... SELECT FROM mysql()` trick
(/root/reference/synch/writer/merge_tree.py:60-61) becomes "executors
pull partitioned ranges in parallel", which is strictly more scalable —
1000 executors each read a key-range slice.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from synch_spark.config import SyncConfig, TableSpec
from synch_spark.sources.table import ParquetTable


def snapshot_jdbc(
    spark: SparkSession,
    url: str,
    dbtable: str,
    partition_column: str | None = None,
    num_partitions: int = 32,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options,
) -> DataFrame:
    """S1/S2 partitioned snapshot scan of a JDBC source.

    partition_column (usually the pk) splits the scan into
    ``num_partitions`` server-side range queries executed by different
    executors — the scale path for 100 TB snapshots.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", dbtable)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            # str(None) would reach the JDBC relation as the literal
            # "None" and die in a deep NumberFormatException — point the
            # caller at the auto-probing variant instead
            raise ValueError(
                "snapshot_jdbc: partition_column requires lower_bound and "
                "upper_bound (or use snapshot_jdbc_auto to probe them)"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def snapshot_jdbc_auto(
    spark: SparkSession,
    url: str,
    dbtable: str,
    partition_column: str,
    num_partitions: int = 32,
    **options,
) -> DataFrame:
    """S1 scale path with automatic range discovery: probe min/max of the
    partition column server-side (one tiny query), then issue
    ``num_partitions`` parallel range scans. This is how a 100 TB
    snapshot actually runs: per-executor key-range pulls, no single
    connection bottleneck, no data through the driver.
    """
    probe = (
        spark.read.format("jdbc")
        .option("url", url)
        .option(
            "dbtable",
            f"(select min({partition_column}) lo, max({partition_column}) hi "
            f"from {dbtable}) b",
        )
    )
    for k, v in options.items():
        probe = probe.option(k, v)
    # positional access: uppercase-folding engines (Derby/Oracle/DB2)
    # return the aliases as LO/HI, so row["lo"] would miss
    row = probe.load().collect()[0]
    lo, hi = row[0], row[1]
    if lo is None:
        return snapshot_jdbc(spark, url, dbtable, **options)
    return snapshot_jdbc(
        spark,
        url,
        dbtable,
        partition_column=partition_column,
        num_partitions=num_partitions,
        lower_bound=int(lo),
        upper_bound=int(hi) + 1,
        **options,
    )


def etl_full(
    source_df: DataFrame,
    table: ParquetTable,
    spec: TableSpec,
    renew: bool = False,
) -> bool:
    """E1/E2: snapshot one table into the managed target.

    Returns False when skipped, mirroring the reference exactly
    (/root/reference/synch/replication/etl.py:28-35,68-72):
    auto_full_etl=False skips UNCONDITIONALLY (the operator opted the
    table out of bulk loads — even --renew must not bulk-load it);
    a missing pk skips unless --renew forces it; and an EXISTING table
    is never re-snapshotted without --renew (a plain `etl` run to pick
    up one new table must not overwrite every multi-TB existing one
    with a fresh source scan).
    """
    if not spec.auto_full_etl:
        return False
    if not spec.has_pk and not renew:
        return False
    if table.exists and not renew:
        return False
    # collapsing engines read through sum(sign): an initial load written
    # WITHOUT the sign column would surface sign=NULL once signed CDC
    # appends land (mixed-schema parquet), and collapsing_view's
    # net-sign filter silently drops every initially-loaded key. Stamp
    # the snapshot rows as the +1 inserts they are (the reference's
    # etl does the same — full_insert writes sign=1).
    from synch_spark.config import Engine

    if spec.engine in (Engine.COLLAPSING_MERGE_TREE,
                       Engine.VERSIONED_COLLAPSING_MERGE_TREE):
        if spec.sign_column not in source_df.columns:
            source_df = source_df.withColumn(spec.sign_column, F.lit(1))
        if "_event_unixtime" not in source_df.columns:
            source_df = source_df.withColumn(
                "_event_unixtime", F.lit(0).cast("long"))
    # cluster on pk (range-partition + in-file sort): every data file
    # covers a narrow pk range, which is what makes the per-file key
    # stats selective for the merge path's file-level pruning; key= has
    # the commit write them, so the FIRST CDC merge already prunes
    table.overwrite(source_df, spec.partition_by,
                    cluster_by=spec.pk or None,
                    key=spec.pk[0] if spec.has_pk else None)
    return True


@dataclass
class CheckResult:
    source_count: int
    target_count: int
    source_checksum: int | None = None
    target_checksum: int | None = None
    #: columns present on only one side (schema drift); non-empty forces
    #: ok=False on a checksum check
    column_drift: list[str] | None = None

    @property
    def ok(self) -> bool:
        counts = self.source_count == self.target_count
        if self.source_checksum is None:
            return counts
        return counts and self.source_checksum == self.target_checksum


def _checksum(df: DataFrame) -> int:
    """Order-insensitive content checksum: SUM of per-row xxhash64 in
    DECIMAL(38,0).

    Upgrade over the reference's count-only check (E3) — detects value
    drift, not just cardinality drift. Sum (not XOR: h^h=0 makes any
    even-multiplicity corruption invisible) in a wide decimal (a plain
    long sum trips ANSI overflow). Nulls are encoded with an explicit
    sentinel because Spark hash functions skip null inputs, which would
    make null-position swaps hash-equal. Distributed: one partial agg.
    """
    from synch_spark.functions import checksum_agg

    if not df.columns:
        return 0
    out = df.agg(checksum_agg(df.columns).alias("h")).collect()[0][0]
    return int(out) if out is not None else 0


def check(
    source_df: DataFrame,
    table: ParquetTable,
    checksum: bool = False,
    spec: TableSpec | None = None,
) -> CheckResult:
    """E3 count parity, optionally extended with a content checksum.

    Pass ``spec`` for engine-aware comparison: a collapsing-engine table
    physically holds the ±1 sign history, so raw counts are meaningless —
    the comparison must go through the engine's current-state view.
    """
    if spec is not None:
        from synch_spark.operators.cdc_apply import read_current_state

        target_df = read_current_state(table, spec)
    else:
        target_df = table.read()
    res = CheckResult(source_count=source_df.count(), target_count=target_df.count())
    if checksum:
        scols, tcols = set(source_df.columns), set(target_df.columns)
        if scols != tcols:
            # schema drift IS a parity failure: checksumming the silent
            # intersection would report ok=true with an entire column's
            # data absent (and 0 == 0 on disjoint columns). Distinct
            # sentinel checksums force ok=False and name the drift.
            res.source_checksum = -1
            res.target_checksum = -2
            res.column_drift = sorted(scols ^ tcols)
            return res
        cols = sorted(scols)
        res.source_checksum = _checksum(source_df.select(*cols))
        res.target_checksum = _checksum(target_df.select(*cols))
    return res


def repair(
    source_df: DataFrame,
    table: ParquetTable,
    spec: TableSpec,
    value_schema=None,
) -> int:
    """Close the check() loop: when parity fails, synthesize the exact
    correction events by diffing the replicated state against a fresh
    source snapshot and apply them — surgical backfill instead of a full
    re-ETL (the reference's only remedy was `etl --renew`). Returns the
    number of correction events applied."""
    from synch_spark.events import parse_values, split_updates
    from synch_spark.operators.cdc_apply import apply_cdc_batch, read_current_state
    from synch_spark.sources.snapshot_diff import diff_snapshots

    import time

    if not spec.has_pk:
        raise ValueError(
            f"repair requires a pk'd TableSpec ({spec.qualified_name} has "
            "none): a pk-less diff would cartesian-join the snapshots"
        )
    current = read_current_state(table, spec).select(*source_df.columns)
    # wall-clock stamp: correction events must sort after history but NOT
    # after all future events — a far-future constant (e.g. 2**62) would
    # permanently shadow later real updates in collapsing-engine views
    # eager materialization, not lazy persist: the diff's lineage reads
    # table files the apply's commit (+GC at low retain) may delete; a
    # cache eviction mid-apply would recompute against missing files
    events = diff_snapshots(
        current, source_df, spec.pk, spec.schema, spec.table,
        event_unixtime=int(time.time() * 1_000_000),
    ).localCheckpoint(eager=True)
    n = events.count()
    if n == 0:
        return 0
    if value_schema is None:
        value_schema = _nullable_value_schema(source_df)
    typed = parse_values(split_updates(events), value_schema)
    apply_cdc_batch(table, typed, spec, num=n)
    return n


def _nullable_value_schema(df: DataFrame):
    """Value schema derived from a source frame: same fields, all
    nullable (synthesized correction events carry NULL halves)."""
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in df.schema.fields]
    )


def backfill_missing(
    source_df: DataFrame,
    table: ParquetTable,
    spec: TableSpec,
    num_chunks: int = 4,
) -> int:
    """Chunked, resumable backfill that coexists with a live CDC stream:
    insert only pk's ABSENT from the target ("fill holes, never
    overwrite"), one pk-hash chunk per commit. Returns rows added.

    Why each property matters at 100 TB:
    - chunk-per-commit: the initial load is never one giant transaction;
      a crash resumes by rerunning — finished chunks anti-join to
      nothing (idempotent), only the interrupted chunk re-inserts.
    - existence as the fence: a row the CDC stream already wrote may be
      NEWER than the snapshot, and our merge applies batches in arrival
      order — a snapshot *upsert* would clobber it. Inserting only
      missing keys is the DBLog/Debezium incremental-snapshot guarantee
      achieved with set semantics instead of watermark fencing.
    - collapsing engines keep ±sign tombstones physically, so a key the
      CDC stream DELETED still "exists" and is correctly skipped: the
      cancel row of a stored key, or, for a key one batch inserts and
      deletes, the state row and cancel row the batch fold keeps
      (cdc_apply.fold_rows). For merge-family engines a CDC
      delete leaves a true hole the snapshot will re-fill if the source
      still has the row — run deletes after backfill completes, or
      reconcile with repair() afterwards.
    - chunking is pmod(xxhash64(pk), n): uniform without knowing the key
      distribution. Each chunk filter re-scans the source; a JDBC
      deployment should instead push pk-range predicates per chunk
      (snapshot_jdbc's partitionColumn machinery) for server-side
      chunking.
    """
    import time

    from synch_spark.events import parse_values, split_updates
    from synch_spark.operators.cdc_apply import apply_cdc_batch
    from synch_spark.sources.snapshot_diff import diff_snapshots

    if not spec.has_pk:
        raise ValueError("backfill_missing requires a pk'd TableSpec")
    pk = list(spec.pk)
    us = int(time.time() * 1_000_000)
    value_schema = _nullable_value_schema(source_df)
    total = 0
    for i in range(num_chunks):
        chunk = source_df.filter(
            F.pmod(F.xxhash64(*pk), F.lit(num_chunks)) == i
        )
        if table.exists:
            # same-bucket filter on the target side: the anti-join only
            # needs pks that COULD match this chunk, so each iteration
            # scans 1/num_chunks of the target pk set instead of all of
            # it num_chunks times; left_anti needs no distinct() — a
            # duplicated right key changes nothing but adds a shuffle
            existing = table.read().select(*pk).filter(
                F.pmod(F.xxhash64(*pk), F.lit(num_chunks)) == i
            )
            chunk = chunk.join(existing, pk, "left_anti")
        # materialize BEFORE the write: the anti-join plan reads the table
        # this chunk's apply is about to version (read-after-write hazard)
        chunk = chunk.localCheckpoint(eager=True)
        n = chunk.count()
        if not n:
            continue
        events = diff_snapshots(
            chunk.limit(0), chunk, spec.pk, spec.schema, spec.table,
            event_unixtime=us,
        )
        apply_cdc_batch(table, parse_values(split_updates(events), value_schema),
                        spec, num=n)
        total += n
    return total


def etl_all(
    spark: SparkSession,
    cfg: SyncConfig,
    source_frames: dict[str, DataFrame],
    warehouse: str,
    renew: bool = False,
) -> dict[str, bool]:
    """Snapshot every configured table (EP1 loop over cfg.tables)."""
    results = {}
    for name, spec in cfg.tables.items():
        src = source_frames.get(name)
        if src is None:
            results[name] = False
            continue
        table = ParquetTable(spark, f"{warehouse}/{spec.schema}/{spec.table}",
                             retain=spec.retain)
        results[name] = etl_full(src, table, spec, renew=renew)
    return results
