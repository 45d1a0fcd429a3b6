"""Seeded input generator and oracle for the replication benchmark.

Everything here is plain Python driven by one ``random.Random(seed)``:
the same seed gives byte-identical binlog files, spool files and read
mixes. The oracle is the generator's own record of every table's
state, kept as ``{pk: row tuple}`` while the events are produced; it
never consults ``synch_spark``. (The binlog bytes are encoded with the
spec-built test encoder in ``tests/binlog_builder.py``, which only
borrows the decoder module's type-code constants.)

Two replicated tables, the reference's two engine families:

- ``shop.orders``: ReplacingMergeTree with a ``version`` column and
  BIGINT / INT / DECIMAL(12,2) / VARCHAR / DATETIME columns.
- ``shop.order_events``: CollapsingMergeTree (sign column ``sign``).

The change mix is ~70% updates, ~20% inserts, ~10% deletes; 80% of
updates and deletes hit the newest 5% of keys.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field
from decimal import Decimal

SCHEMA = "shop"
BASE_TS = 1_700_000_000  # first CDC event, epoch seconds
SNAPSHOT_TS = BASE_TS - 86_400 * 30  # snapshot rows' timestamps start here

STATUSES = ("new", "paid", "packed", "shipped", "returned", "cancelled")
KINDS = ("view", "cart", "pay", "ship", "refund")

# (name, spark type, binlog type name, binlog meta)
ORDERS_COLS = (
    ("id", "bigint", "LONGLONG", 0),
    ("customer_id", "int", "LONG", 0),
    ("amount", "decimal(12,2)", "NEWDECIMAL", (12 << 8) | 2),
    ("status", "string", "VARCHAR", 64),
    ("updated_at", "timestamp", "DATETIME2", 0),
    ("version", "bigint", "LONGLONG", 0),
)
EVENTS_COLS = (
    ("event_id", "bigint", "LONGLONG", 0),
    ("order_id", "bigint", "LONGLONG", 0),
    ("kind", "string", "VARCHAR", 64),
    ("qty", "int", "LONG", 0),
    ("created_at", "timestamp", "DATETIME2", 0),
)
#: the column the mid-archive ``ALTER TABLE ... ADD COLUMN`` adds
ADDED_COL = ("note", "string", "VARCHAR", 64)
ALTER_SQL = f"ALTER TABLE {SCHEMA}.orders ADD COLUMN note VARCHAR(64)"


@dataclass
class TableState:
    """One table's oracle: live rows by pk, in the table's column order."""

    name: str
    engine: str  # "replacing" | "collapsing"
    columns: list  # [(name, spark type, binlog type, meta)]
    table_id: int
    rows: dict = field(default_factory=dict)
    next_pk: int = 0

    @property
    def pk(self) -> str:
        return self.columns[0][0]

    @property
    def qualified(self) -> str:
        return f"{SCHEMA}.{self.name}"

    def col_names(self) -> list[str]:
        return [c[0] for c in self.columns]

    def copy(self) -> "TableState":
        return TableState(self.name, self.engine, list(self.columns),
                          self.table_id, dict(self.rows), self.next_pk)


def _ts_text(epoch_s: int) -> str:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S")


def _amount(rng: random.Random) -> str:
    return f"{rng.randrange(100, 10_000_000) / 100:.2f}"


class Generator:
    """Seeded source database: snapshots plus a change stream.

    ``change()`` draws one row change and applies it to the oracle;
    the callers encode it (binlog rows event or spool JSON line)."""

    def __init__(self, seed: int, n_orders: int, n_events: int):
        self.rng = random.Random(seed)
        self.orders = TableState("orders", "replacing", list(ORDERS_COLS), 101)
        self.events = TableState("order_events", "collapsing",
                                 list(EVENTS_COLS), 102)
        self.deleted: dict[str, set] = {"orders": set(), "order_events": set()}
        self.seq = 0  # CDC events emitted; event i happens at BASE_TS + i
        rng = self.rng
        for i in range(n_orders):
            self.orders.rows[i] = (
                i, rng.randrange(1, 50_000), _amount(rng),
                rng.choice(STATUSES), _ts_text(SNAPSHOT_TS + i), 1)
        self.orders.next_pk = n_orders
        for i in range(n_events):
            self.events.rows[i] = (
                i, rng.randrange(0, max(1, n_orders)), rng.choice(KINDS),
                rng.randrange(1, 20), _ts_text(SNAPSHOT_TS + i))
        self.events.next_pk = n_events

    def tables(self) -> list[TableState]:
        return [self.orders, self.events]

    # -- changes ---------------------------------------------------------
    def _pick_live(self, t: TableState) -> int:
        """A live pk: 80% from the newest 5% of ids, else uniform."""
        rng, gone = self.rng, self.deleted[t.name]
        hot_lo = max(0, t.next_pk - max(1, t.next_pk // 20))
        while True:
            if rng.random() < 0.8:
                k = rng.randrange(hot_lo, t.next_pk)
            else:
                k = rng.randrange(0, t.next_pk)
            if k not in gone:
                return k

    def _new_row(self, t: TableState, k: int, ts: int) -> tuple:
        rng = self.rng
        if t is self.orders:
            row = (k, rng.randrange(1, 50_000), _amount(rng),
                   rng.choice(STATUSES), _ts_text(ts), 1)
            if len(t.columns) > len(ORDERS_COLS):
                row += (f"n{rng.randrange(1000)}",)
            return row
        return (k, rng.randrange(0, max(1, self.orders.next_pk)),
                rng.choice(KINDS), rng.randrange(1, 20), _ts_text(ts))

    def _updated_row(self, t: TableState, old: tuple, ts: int) -> tuple:
        rng = self.rng
        if t is self.orders:
            row = (old[0], old[1], _amount(rng), rng.choice(STATUSES),
                   _ts_text(ts), old[5] + 1)
            if len(t.columns) > len(ORDERS_COLS):
                row += (rng.choice((None, f"n{rng.randrange(1000)}")),)
            return row
        return (old[0], old[1], rng.choice(KINDS), rng.randrange(1, 20),
                old[4])

    def change(self) -> tuple:
        """Draw one change, apply it to the oracle, and return
        ``(table, action, before, after, ts)`` with row tuples in the
        table's current column order."""
        rng = self.rng
        t = self.orders if rng.random() < 0.7 else self.events
        ts = BASE_TS + self.seq
        self.seq += 1
        r = rng.random()
        if r < 0.2 or len(t.rows) < 10:
            k = t.next_pk
            t.next_pk += 1
            after = self._new_row(t, k, ts)
            t.rows[k] = after
            return t, "insert", None, after, ts
        k = self._pick_live(t)
        before = t.rows[k]
        if r < 0.3:
            del t.rows[k]
            self.deleted[t.name].add(k)
            return t, "delete", before, None, ts
        after = self._updated_row(t, before, ts)
        t.rows[k] = after
        return t, "update", before, after, ts

    def alter(self) -> int:
        """Apply the ADD COLUMN to the oracle; returns its event time."""
        ts = BASE_TS + self.seq
        self.seq += 1
        self.orders.columns.append(ADDED_COL)
        self.orders.table_id = 103  # MySQL assigns a new table id
        self.orders.rows = {k: v + (None,) for k, v in self.orders.rows.items()}
        return ts


# -- encodings -------------------------------------------------------------
def image(t: TableState, row: tuple) -> dict:
    """Row image as the decoders emit it: DECIMAL and DATETIME as text."""
    return dict(zip(t.col_names(), row))


def spool_line(t: TableState, action: str, before, after, ts: int) -> str:
    """One raw event in the broker payload form (Kafka/Redis/spool)."""
    return json.dumps({
        "schema": SCHEMA, "table": t.name, "action": action,
        "before": None if before is None else json.dumps(image(t, before)),
        "after": None if after is None else json.dumps(image(t, after)),
        "event_unixtime": ts * 1_000_000,
    }, separators=(",", ":"))


class BinlogArchive:
    """Rotated MySQL binlog archive written with the spec-built encoder:
    each ``flush()`` closes one file, and each row event sits on its own
    header second so event order survives the decoder's stamps."""

    def __init__(self, out_dir: str):
        from tests.binlog_builder import BinlogBuilder

        from synch_spark.sources import binlog_file as B

        self._builder_cls = BinlogBuilder
        self._B = B
        self.out_dir = out_dir
        self.files: list[str] = []
        self._b = None
        self._cur = None
        os.makedirs(out_dir, exist_ok=True)

    def _cols(self, t: TableState):
        B = self._B
        return [(n, getattr(B, "T_" + bt), meta) for n, _, bt, meta in t.columns]

    def _ensure(self, t: TableState | None, ts: int) -> None:
        if self._b is None:
            self._b = self._builder_cls(timestamp=ts)
            self._cur = None
        self._b.ts = ts
        if t is not None and self._cur != (t.name, t.table_id):
            self._b.table_map(t.table_id, SCHEMA, t.name, self._cols(t),
                              names_tlv=True)
            self._cur = (t.name, t.table_id)

    def row_event(self, t: TableState, action: str, before, after,
                  ts: int) -> None:
        self._ensure(t, ts)
        b = self._b
        if action == "insert":
            b.insert(t.table_id, _wire(t, after))
        elif action == "delete":
            b.delete(t.table_id, _wire(t, before))
        else:
            b.update(t.table_id, (_wire(t, before), _wire(t, after)))

    def query(self, sql: str, ts: int) -> None:
        self._ensure(None, ts)
        self._b.query(SCHEMA, sql)
        self._cur = None  # the next rows event re-announces its table map

    def flush(self) -> None:
        if self._b is None:
            return
        path = os.path.join(self.out_dir, f"mysql-bin.{len(self.files) + 1:06d}")
        with open(path, "wb") as fh:
            fh.write(self._b.bytes())
        self.files.append(path)
        self._b = None


def _wire(t: TableState, row: tuple) -> tuple:
    """Row tuple -> encoder values (DECIMAL as Decimal)."""
    return tuple(Decimal(v) if bt == "NEWDECIMAL" and v is not None else v
                 for (_, _, bt, _), v in zip(t.columns, row))


# -- oracle frames ----------------------------------------------------------
def arrow_table(t: TableState, rows=None):
    """The oracle rows as a typed Arrow table (Spark reads it back with
    the matching schema). DECIMAL and DATETIME text is parsed by Arrow."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rows = list(t.rows.values()) if rows is None else list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(t.columns)
    arrays, fields = [], []
    for (name, stype, _, _), vals in zip(t.columns, cols):
        if stype == "bigint":
            arr = pa.array(vals, type=pa.int64())
        elif stype == "int":
            arr = pa.array(vals, type=pa.int32())
        elif stype.startswith("decimal"):
            arr = pa.array(vals, type=pa.string()).cast(pa.decimal128(12, 2))
        elif stype == "timestamp":
            arr = pc.strptime(pa.array(vals, type=pa.string()),
                              format="%Y-%m-%d %H:%M:%S", unit="us"
                              ).cast(pa.timestamp("us", tz="UTC"))
        else:
            arr = pa.array(vals, type=pa.string())
        arrays.append(arr)
        fields.append(pa.field(name, arr.type))
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def spark_schema_ddl(t: TableState) -> str:
    return ", ".join(f"`{n}` {s}" for n, s, _, _ in t.columns)
