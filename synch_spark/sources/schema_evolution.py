"""Metadata-only schema evolution for ParquetTable (D3-D6 at scale).

The reference translates ALTER statements into ClickHouse ALTERs
(/root/reference/synch/convert.py:123-130), which ClickHouse applies as
metadata mutations — old parts are reinterpreted on read. Round 1 of
this engine instead rewrote the whole table on every DDL
(``table.overwrite(apply_alter(...))``), which at 100 TB turns an
``ADD COLUMN`` into a full-table rewrite while the stream's DDL barrier
holds the pipeline. This module restores the metadata-only behavior on
plain parquet, Delta-style: the logical schema is a tiny JSON document
committed atomically WITH each table version (it rides in the
version's log entry, ``ParquetTable.commit_schema``, so a crash can
never separate data from schema), and reads reconcile the physical
files against it.

Reconciliation mechanics:

- every column keeps its *physical-name lineage* (newest first). A
  rename is recorded as a new leading physical name; old files keep
  their old column, new files get the new one, and the read does
  ``coalesce(new, old)`` — exact, because a parquet file contains
  exactly one name of the lineage and explicit-schema reads null-fill
  the absent ones.
- an added column is simply absent from old files (null-filled). A
  non-null DEFAULT is exact, not approximated with coalesce: writes
  stamp a hidden ``_sgen`` (schema generation) column, and the read
  applies the default only to rows whose file generation predates the
  add (``coalesce(_sgen, 0) < since_gen``) — an explicit NULL written
  after the DDL stays NULL, matching MySQL/ClickHouse.
- a dropped column is removed from the logical schema; its physical
  names are *retired* so a later ADD of the same name (which would make
  old files' stale values resurface) forces a rewrite instead.
- MODIFY is metadata-only iff the change is a provable widening the
  parquet vectorized reader performs in-scan (int chain, float->double,
  decimal precision growth at equal scale — verified against Spark
  4.1); anything else (narrowing, cross-family) returns a rewrite
  demand.

Pushdown note: columns with a single physical name and no default read
as ``col(p).alias(name)`` — filter pushdown and pruning are unaffected.
Only lineage-bearing or defaulted columns become expressions (the same
trade Delta's column-mapping mode makes).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

GEN_COL = "_sgen"

_INT_CHAIN = ["tinyint", "smallint", "int", "bigint"]
_DECIMAL_RE = re.compile(r"^decimal\((\d+),(\d+)\)$")


@dataclass
class ColumnSpec:
    name: str  # logical name
    type: str  # Spark DDL simpleString
    physical: list[str]  # physical names, newest first; [0] is the write name
    default: str | None = None  # fill for rows predating the add
    since_gen: int = 0  # generation the column (or its default) appeared in

    def to_json(self) -> dict:
        return {
            "name": self.name,
            "type": self.type,
            "physical": self.physical,
            "default": self.default,
            "since_gen": self.since_gen,
        }


@dataclass
class TableSchema:
    columns: list[ColumnSpec]
    gen: int = 0
    retired: list[str] = field(default_factory=list)  # dropped physical names
    # True once a widening MODIFY happened: names look trivial but file
    # types differ from the declared types, so the doc must persist
    widened: bool = False

    # -- (de)serialization ---------------------------------------------------
    def dumps(self) -> str:
        return json.dumps(
            {
                "gen": self.gen,
                "retired": self.retired,
                "widened": self.widened,
                "columns": [c.to_json() for c in self.columns],
            }
        )

    @classmethod
    def loads(cls, s: str) -> "TableSchema":
        d = json.loads(s)
        return cls(
            columns=[ColumnSpec(**c) for c in d["columns"]],
            gen=d["gen"],
            retired=d["retired"],
            widened=d.get("widened", False),
        )

    @classmethod
    def from_struct(cls, struct) -> "TableSchema":
        return cls(
            columns=[
                ColumnSpec(f.name, f.dataType.simpleString(), [f.name])
                for f in struct.fields
                if f.name != GEN_COL
            ]
        )

    # -- properties ----------------------------------------------------------
    @property
    def is_trivial(self) -> bool:
        """True only for a never-evolved schema (from_struct, gen 0) —
        reconciliation is then the identity by construction. An EVOLVED
        schema must always persist, even when its columns look plain:
        lineage/defaults/widening are visible in the spec, but a bare
        ADD (no default) leaves physical == [name] and default None
        while the column is still ABSENT from every pre-DDL file — only
        the document makes reads null-fill it. (Caught by the
        metadata-vs-rewrite property test.)"""
        return self.gen == 0 and not self.retired and not self.widened

    @property
    def needs_gen(self) -> bool:
        return any(c.default is not None for c in self.columns)

    def active_physical(self) -> set[str]:
        return {p for c in self.columns for p in c.physical}

    # -- read-side reconciliation --------------------------------------------
    def read_struct(self):
        """Explicit read schema over every physical name (plus _sgen when
        defaults exist). Absent columns null-fill; present-but-narrower
        columns widen in-scan (Spark 4 parquet type promotion)."""
        from pyspark.sql.types import StructType

        parts = [f"`{p}` {c.type}" for c in self.columns for p in c.physical]
        if self.needs_gen:
            parts.append(f"`{GEN_COL}` bigint")
        return StructType.fromDDL(", ".join(parts))

    def select_exprs(self):
        gen = F.coalesce(F.col(GEN_COL), F.lit(0))
        exprs = []
        for c in self.columns:
            e = (
                F.col(c.physical[0])
                if len(c.physical) == 1
                else F.coalesce(*[F.col(p) for p in c.physical])
            )
            if c.default is not None:
                e = F.when(gen < c.since_gen, F.lit(c.default).cast(c.type)).otherwise(e)
            exprs.append(e.alias(c.name))
        return exprs

    def reconcile(self, raw: DataFrame) -> DataFrame:
        return raw.select(*self.select_exprs())


def is_widening(old: str, new: str) -> bool:
    """Type changes the parquet vectorized reader performs in-scan
    (verified on Spark 4.1: INT32->bigint, FLOAT->double,
    decimal(5,2)->decimal(10,2))."""
    if old == new:
        return True
    if old in _INT_CHAIN and new in _INT_CHAIN:
        return _INT_CHAIN.index(new) > _INT_CHAIN.index(old)
    if old == "float" and new == "double":
        return True
    mo, mn = _DECIMAL_RE.match(old), _DECIMAL_RE.match(new)
    if mo and mn:
        po, so = int(mo.group(1)), int(mo.group(2))
        pn, sn = int(mn.group(1)), int(mn.group(2))
        return sn == so and pn >= po
    return False


def evolve_schema(ts: TableSchema, ops) -> tuple[TableSchema, list[str]]:
    """Apply parsed AlterOps (ddl.parse_alter) to a TableSchema.

    Returns (evolved_schema, rewrite_reasons). Empty reasons mean the
    evolution is safe as a metadata-only commit; otherwise the caller
    must rewrite the data files (and start from a fresh trivial schema).
    The evolved schema is returned either way — after a rewrite it
    collapses to trivial on save.
    """
    cols = [ColumnSpec(c.name, c.type, list(c.physical), c.default, c.since_gen)
            for c in ts.columns]
    out = TableSchema(cols, gen=ts.gen + 1, retired=list(ts.retired),
                      widened=ts.widened)
    reasons: list[str] = []
    by_name = {c.name: c for c in out.columns}

    for op in ops:
        if op.action == "add_column":
            taken = out.active_physical() | set(out.retired)
            if op.column in taken:
                reasons.append(
                    f"add {op.column}: name collides with a live or retired "
                    f"physical column — old files would resurface stale values"
                )
            by_name[op.column] = spec = ColumnSpec(
                op.column,
                op.spark_type.simpleString(),
                [op.column],
                default=op.default,
                since_gen=out.gen,
            )
            out.columns.append(spec)
        elif op.action == "drop_column":
            spec = by_name.pop(op.column, None)
            if spec is None:
                continue
            out.columns.remove(spec)
            out.retired.extend(spec.physical)
        elif op.action == "rename_column":
            spec = by_name.pop(op.column, None)
            if spec is None:
                continue
            taken = (out.active_physical() - set(spec.physical)) | set(out.retired)
            if op.new_column in taken:
                reasons.append(
                    f"rename {op.column}->{op.new_column}: target collides with "
                    f"a live or retired physical column"
                )
            spec.name = op.new_column
            # dedupe the lineage (rename a->b then b->a would otherwise
            # yield [a, b, a] — a duplicate field in the explicit read
            # schema); first occurrence wins, order preserved
            spec.physical = [op.new_column] + [
                p for p in spec.physical if p != op.new_column
            ]
            by_name[op.new_column] = spec
            if op.type_str:
                new_t = op.spark_type.simpleString()
                if new_t != spec.type:
                    if not is_widening(spec.type, new_t):
                        reasons.append(
                            f"rename {op.column}: type {spec.type}->{new_t} is not "
                            f"a widening the reader can do in-scan"
                        )
                    spec.type = new_t
                    out.widened = True
        elif op.action == "modify_column":
            spec = by_name.get(op.column)
            if spec is None:
                continue
            new_t = op.spark_type.simpleString()
            if new_t != spec.type:
                if not is_widening(spec.type, new_t):
                    reasons.append(
                        f"modify {op.column}: type {spec.type}->{new_t} is not "
                        f"a widening the reader can do in-scan"
                    )
                spec.type = new_t
                out.widened = True
        else:
            raise ValueError(f"unknown DDL action {op.action}")
    return out, reasons
