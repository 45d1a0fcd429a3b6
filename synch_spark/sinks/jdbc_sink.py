"""JDBC sink: the reference's ClickHouse write strategy over any JDBC target.

The reference flushes each micro-batch as ALTER DELETE for every
touched pk followed by a bulk INSERT
(/root/reference/synch/replication/continuous.py:122-154,
/root/reference/synch/writer/merge_tree.py:28-61). This sink reproduces
that exact two-step shape Spark-side:

1. the batch compacts to one net action per pk (cdc_apply.net_rows —
   W3, the store's rule and placement: on the driver for a counted
   streaming batch, per pk-hash group otherwise), so delete-then-insert
   is order-free within the batch; under a Replacing version column the
   batch's max version wins, as in the parquet merge, but against the
   target's rows the target's own engine (a ClickHouse
   ReplacingMergeTree) compares versions;
2. DELETE .. WHERE pk IN (...) runs on the driver over a plain JDBC
   connection (the key set is micro-batch sized — the same bound the
   broadcast merge already relies on — chunked into bounded IN-lists;
   composite pks use the reference's OR-of-conjunctions form,
   writer/__init__.py delete_events);
3. the net inserts stream through Spark's distributed JDBC writer —
   every executor writes its partition directly to the target, no rows
   through the driver.

The JDBC connection comes from the JVM's DriverManager via py4j, so any
driver on the Spark classpath works: embedded Derby (live-tested here),
clickhouse-jdbc / MySQL / Postgres in production — this is the
"Structured Streaming with ClickHouse JDBC sink" deployment shape; the
versioned parquet store remains the default (analytics-queryable) target.

Failure contract: the DELETE+INSERT pair is not transactional across
the two statements. A crash between them redelivers the batch on
restart (checkpoint not advanced); both steps are idempotent under
replay (DELETE of absent keys is a no-op; re-INSERT after the paired
DELETE restores the same rows) — at-least-once delivery converging to
the exactly-once final state, the reference's own guarantee.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from synch_spark.config import TableSpec
from synch_spark.operators.cdc_apply import compacted, folded, replacing_version

IN_CHUNK = 1000  # keys per DELETE statement

#: Spark simpleString -> SQL column type per dialect. "ansi" covers
#: Derby/Postgres-style targets; "clickhouse" mirrors the reference's
#: own type table (/root/reference/synch/convert.py:28-46); "mysql"
#: round-trips the source types.
_SQL_TYPES = {
    "ansi": {
        "tinyint": "SMALLINT", "smallint": "SMALLINT", "int": "INTEGER",
        "bigint": "BIGINT", "float": "REAL", "double": "DOUBLE",
        "boolean": "BOOLEAN", "date": "DATE", "timestamp": "TIMESTAMP",
        "string": "VARCHAR(1024)",
    },
    "clickhouse": {
        "tinyint": "Int8", "smallint": "Int16", "int": "Int32",
        "bigint": "Int64", "float": "Float32", "double": "Float64",
        "boolean": "UInt8", "date": "Date", "timestamp": "DateTime",
        "string": "String",
    },
    "mysql": {
        "tinyint": "TINYINT", "smallint": "SMALLINT", "int": "INT",
        "bigint": "BIGINT", "float": "FLOAT", "double": "DOUBLE",
        "boolean": "BOOLEAN", "date": "DATE", "timestamp": "DATETIME",
        "string": "VARCHAR(1024)",
    },
}


def _sql_type(spark_type, dialect: str = "ansi") -> str:
    simple = spark_type.simpleString()
    if simple.startswith("decimal"):
        if dialect == "clickhouse":
            return "Decimal" + simple[len("decimal"):]
        return simple.upper()
    table = _SQL_TYPES.get(dialect, _SQL_TYPES["ansi"])
    return table.get(simple, table["string"])


def _default_literal(default: str, dialect: str = "ansi") -> str:
    """DDL DEFAULT literal (DDL can't be parameterized). The value comes
    from the source's own admin-authored ALTER statement, not row data.
    Quotes are doubled everywhere; backslashes are DOUBLED (not stripped)
    for the backslash-escaping dialects (MySQL, ClickHouse) and left
    intact for ANSI targets — stripping would silently corrupt a
    legitimate default like a path or escape pattern."""
    v = default.replace("'", "''")
    if dialect in ("mysql", "clickhouse"):
        v = default.replace("\\", "\\\\").replace("'", "''")
    return "'" + v + "'"


def alter_statements(table: str, ops, dialect: str = "ansi") -> list[str]:
    """Dialect ALTER statements for parsed ddl.AlterOps (ref convert.py:
    94-121 emits the ClickHouse forms). ADD COLUMN keeps the source's
    DEFAULT so the target backfills pre-DDL rows exactly like the source
    did — dropping it would silently diverge every existing row. MODIFY
    uses the dialect form (ANSI SET DATA TYPE / MySQL MODIFY /
    ClickHouse MODIFY COLUMN)."""
    out = []
    for op in ops:
        if op.action == "add_column":
            stmt = (
                f"ALTER TABLE {table} ADD COLUMN {op.column} "
                f"{_sql_type(op.spark_type, dialect)}"
            )
            if op.default is not None:
                stmt += f" DEFAULT {_default_literal(op.default, dialect)}"
            out.append(stmt)
        elif op.action == "drop_column":
            out.append(f"ALTER TABLE {table} DROP COLUMN {op.column}")
        elif op.action == "rename_column":
            if dialect == "derby":
                # Derby's own statement form: RENAME COLUMN t.a TO b
                out.append(
                    f"RENAME COLUMN {table}.{op.column} TO {op.new_column}"
                )
            else:  # the ClickHouse/MySQL/Postgres form
                out.append(
                    f"ALTER TABLE {table} RENAME COLUMN {op.column} TO {op.new_column}"
                )
        elif op.action == "modify_column":
            t = _sql_type(op.spark_type, dialect)
            if dialect == "mysql":
                out.append(f"ALTER TABLE {table} MODIFY {op.column} {t}")
            elif dialect == "clickhouse":
                out.append(f"ALTER TABLE {table} MODIFY COLUMN {op.column} {t}")
            else:
                out.append(
                    f"ALTER TABLE {table} ALTER COLUMN {op.column} "
                    f"SET DATA TYPE {t}"
                )
    return out


#: substrings that mark a DDL statement as ALREADY APPLIED on the target
#: (replayed after a crash before the checkpoint advanced), lowercase-
#: matched against the driver's error message. The broad forms
#: ("does not exist"/"not found" — Postgres says 'column "c" of relation
#: "t" does not exist' for a replayed DROP) are safe to keep because
#: apply_ddl ALSO probes that the target table exists before classifying
#: an error as a replay — a mistyped target_table fails the probe and
#: the ALTER re-raises instead of silently diverging the schema.
_IDEMPOTENT_DDL_MARKERS = (
    "already exists", "duplicate column", "already has a column",
    "no such column", "is not a column", "unknown column",
    "column not found", "not found in any table", "invalid column",
    "does not exist", "not found",
)


def delete_statements(
    table: str, pk: tuple[str, ...], keys: list[tuple], chunk: int = IN_CHUNK
) -> list[tuple[str, list]]:
    """PARAMETERIZED delete statements for the touched keys (ref
    delete_events, /root/reference/synch/writer/__init__.py): single-
    column pks use a chunked IN-list of placeholders, composite pks the
    OR-of-conjunctions form. Returns (sql_with_placeholders, params)
    pairs for PreparedStatement execution — key VALUES never enter the
    SQL text, so a hostile string pk cannot break out regardless of the
    target dialect's escaping rules (MySQL treats backslash as an
    escape; quote-doubling alone would not be safe there).

    ``chunk`` is a PARAMETER budget, not a key budget: composite pks of
    c columns bind c params per key, and JDBC targets cap bind params
    per statement (SQL Server ~2100, Postgres 65535) — so keys per
    statement = chunk // len(pk)."""
    out = []
    chunk = max(1, chunk // max(len(pk), 1))
    for i in range(0, len(keys), chunk):
        part = keys[i : i + chunk]
        if len(pk) == 1:
            marks = ", ".join("?" for _ in part)
            out.append(
                (f"DELETE FROM {table} WHERE {pk[0]} IN ({marks})",
                 [k[0] for k in part])
            )
        else:
            conj = " OR ".join(
                "(" + " AND ".join(f"{c} = ?" for c in pk) + ")" for _ in part
            )
            out.append(
                (f"DELETE FROM {table} WHERE {conj}",
                 [v for k in part for v in k])
            )
    return out


class JdbcSink:
    """foreachBatch-compatible applier writing to a JDBC table.

    ``dialect`` ("ansi" | "mysql" | "clickhouse") picks the DDL type
    names and MODIFY form for apply_ddl.

    Cluster mode (the reference's ClickHouse cluster topology,
    /root/reference/synch.yaml `clickhouse.hosts` + `cluster_name` +
    `distributed_suffix`): pass a LIST of JDBC urls and each
    connection/write picks one at random — the reference's
    insert-by-random shard fan-out. ``cluster_name`` appends
    ``ON CLUSTER <name>`` to every DDL statement (ClickHouse propagates
    it cluster-wide, ref common.cluster_sql) and
    ``distributed_table_sql()`` emits the reference's Distributed-table
    DDL (writer/__init__.py:129-131) for the read/insert fan-out table;
    point ``target_table`` at ``schema.table<suffix>`` to route DML
    through it."""

    def __init__(self, spark, url: str | list[str], target_table: str,
                 properties: dict | None = None, dialect: str = "ansi",
                 cluster_name: str | None = None,
                 distributed_suffix: str = "_all"):
        self.spark = spark
        self.urls = [url] if isinstance(url, str) else list(url)
        if not self.urls:
            raise ValueError("JdbcSink needs at least one JDBC url")
        self.target_table = target_table
        self.properties = properties or {}
        self.dialect = dialect
        self.cluster_name = cluster_name
        self.distributed_suffix = distributed_suffix

    @property
    def url(self) -> str:
        """One url per connection, random across shard hosts (ref
        'shard hosts when cluster, will insert by random')."""
        import random

        return random.choice(self.urls)

    def _ddl_table(self) -> str:
        """DDL target: table name plus the cluster clause when cluster
        mode is on — ClickHouse runs the statement on every replica."""
        if self.cluster_name and self.dialect == "clickhouse":
            return f"{self.target_table} ON CLUSTER {self.cluster_name}"
        return self.target_table

    def truncate(self) -> None:
        """TRUNCATE the sunk target — the DDL-barrier apply for a
        source-side TRUNCATE (MySQL binlog QUERY event / pgoutput
        Truncate message). Naturally idempotent under at-least-once
        replay: truncating an already-empty table is a no-op. Same
        shard fan-out rule as apply_ddl — ON CLUSTER propagates on
        clickhouse, otherwise every shard url gets the statement."""
        if self.cluster_name and self.dialect == "clickhouse":
            targets = [self.url]
        else:
            targets = list(self.urls)
        for target_url in targets:
            self._execute([(f"TRUNCATE TABLE {self._ddl_table()}", [])],
                          url=target_url)

    def distributed_table_sql(self, schema: str, table: str) -> str:
        """The reference's Distributed-table DDL
        (/root/reference/synch/writer/__init__.py:129-131): a
        cluster-wide proxy table `schema.table<suffix>` that fans
        reads/inserts across shards with rand() routing. Caller
        executes it once after creating the local tables."""
        if not self.cluster_name:
            raise ValueError("distributed_table_sql requires cluster_name")
        suffix = self.distributed_suffix
        return (
            f"create table if not exists {schema}.{table}{suffix} "
            f"on cluster {self.cluster_name} AS {schema}.{table}\n"
            f"ENGINE = Distributed({self.cluster_name},{schema},{table},rand())"
        )

    def _execute(self, statements: list[tuple[str, list]],
                 url: str | None = None) -> None:
        jvm = self.spark.sparkContext._jvm
        props = jvm.java.util.Properties()
        for k, v in self.properties.items():
            props.setProperty(k, v)
        conn = jvm.java.sql.DriverManager.getConnection(url or self.url, props)
        try:
            for sql, params in statements:
                ps = conn.prepareStatement(sql)
                try:
                    for i, v in enumerate(params, start=1):
                        ps.setObject(i, v)
                    ps.executeUpdate()
                finally:
                    ps.close()
        finally:
            conn.close()

    def apply_batch(
        self,
        events: DataFrame,
        spec: TableSpec,
        value_columns: list[str] | None = None,
        num: int | None = None,
    ) -> None:
        """One micro-batch: compact -> driver-side chunked DELETE of the
        touched pks -> distributed INSERT of the net upserts. Collapsing
        engines instead take the reference's signed-insert path
        (writer/collapsing_merge_tree.py:37-58): the store's folded +1/-1
        rows (cdc_apply.folded), no deletes — the target (e.g. an actual
        CollapsingMergeTree) collapses them itself. ``num``: the batch's
        source-event count, as ``apply_cdc_batch`` takes it."""
        from synch_spark.config import Engine
        from synch_spark.operators.cdc_apply import _row_cols

        cols = _row_cols(events, value_columns)
        if spec.engine in (Engine.COLLAPSING_MERGE_TREE,
                           Engine.VERSIONED_COLLAPSING_MERGE_TREE):
            self._write(folded(events, spec, cols, num)
                        .select(*cols, spec.sign_column))
            return
        if not spec.has_pk:
            inserts = events.filter(F.col("action") == "insert").select(*cols)
            self._write(inserts)
            return
        with compacted(events, spec.pk, replacing_version(spec, cols), cols,
                       num) as (net, keys):
            # micro-batch sized
            pks = list(zip(*(keys[c].to_pylist() for c in spec.pk)))
            if pks:
                self._execute(
                    delete_statements(self.target_table, spec.pk, pks)
                )
            self._write(net.filter(F.col("action") != "delete").select(*cols))

    def apply_ddl(self, ops) -> None:
        """DDL channel for a JDBC-sunk table: translate the parsed
        AlterOps to dialect ALTER statements and execute them on the
        target — the reference's SqlConvert.to_clickhouse + execute
        (/root/reference/synch/convert.py:123-131). Runs under the
        stream's DDL barrier, so data batches on either side see a
        consistent target schema.

        IDEMPOTENT under at-least-once replay: a crash after the ALTER
        but before the checkpoint commit replays the batch and re-runs
        the DDL; 'already applied' dialect errors (duplicate column,
        missing column on a re-DROP/re-RENAME) are swallowed so the
        stream converges instead of crash-looping at the same offset.
        Genuine DDL failures (permissions, syntax) still raise."""
        import logging

        # ClickHouse's ON CLUSTER clause propagates the statement from
        # any one host; without it (cluster_name unset, or a non-
        # clickhouse dialect pointed at a url list) every shard must
        # receive the DDL itself — a single randomly-routed ALTER would
        # leave the other shards on the old schema, and subsequent
        # randomly-routed inserts would fail or write misaligned columns.
        if self.cluster_name and self.dialect == "clickhouse":
            targets = [self.url]
        else:
            targets = list(self.urls)
        for sql in alter_statements(self._ddl_table(), ops, self.dialect):
            for target_url in targets:
                try:
                    self._execute([(sql, [])], url=target_url)
                except Exception as e:  # noqa: BLE001 — classify, re-raise
                    msg = str(e).lower()
                    if (any(m in msg for m in _IDEMPOTENT_DDL_MARKERS)
                            and self._table_exists(url=target_url)):
                        logging.getLogger("synch_spark").warning(
                            "DDL already applied on %s via %s (replay?): %s",
                            self.target_table, target_url, sql,
                        )
                        continue
                    raise

    def _table_exists(self, url: str | None = None) -> bool:
        """Probe the target with a zero-row SELECT — a missing or
        mistyped target_table must surface as a hard DDL failure, never
        be misread as an idempotent replay.

        A probe failure from a TRANSIENT outage also returns False and
        re-raises the original DDL error — deliberate fail-safe
        direction: a failed micro-batch replays on restart (at-least-
        once), while a schema silently diverged by a misclassified
        replay never self-heals."""
        jvm = self.spark.sparkContext._jvm
        props = jvm.java.util.Properties()
        for k, v in self.properties.items():
            props.setProperty(k, v)
        try:
            conn = jvm.java.sql.DriverManager.getConnection(
                url or self.url, props
            )
            try:
                ps = conn.prepareStatement(
                    f"SELECT * FROM {self.target_table} WHERE 1=0"
                )
                try:
                    ps.execute()  # not executeUpdate: SELECTs return a ResultSet
                finally:
                    ps.close()
                return True
            finally:
                conn.close()
        except Exception:  # noqa: BLE001 — probe failure = table missing
            return False

    def _write(self, df: DataFrame) -> None:
        df.write.mode("append").jdbc(
            self.url, self.target_table, properties=self.properties
        )
