"""Per-file key stats riding in the manifest log: one snapshot replay
per merge instead of an O(files) parquet-footer storm.

``bloom.prune_files`` (the merge's and point lookup's metadata-only
candidate discovery) needs the leading-pk min/max of EVERY current file
on EVERY micro-batch.
Reading each file's footer is fine at test scale but at 100 TB it is
thousands of small opens per batch — the dominant driver-side cost of a
merge. File ranges are IMMUTABLE (pool files never change), so they
belong NEXT TO THE FILE ENTRY in the table's manifest log, exactly like
Delta's per-file stats in the ``add`` action:

- each log entry's file map carries ``{rel: {column: [lo, hi] | null}}``
  (``null`` = computed but not provably exact — string pks, statless
  writers; the merge then treats the file by bloom/conservative rules,
  same as a footer miss). A column KEY that is absent means "never
  computed" — a file written without ``key=``, or by an older writer —
  and readers fall back to the footer, so a missing range only costs
  speed, never correctness.
- ``refresh_manifest`` computes the ranges of a commit's NEW files
  (footers are page-cache-hot right after the write) and the commit
  puts them into the entry it is about to publish. Published entries
  are never rewritten: stats, membership and schema commit atomically
  as one JSON object, once.

JSON-safety: ints/floats/bools store raw; pyarrow returns DATE /
TIMESTAMP / DECIMAL footer stats as datetime.date / datetime.datetime /
decimal.Decimal OBJECTS (logical, not physical values — json.dump would
TypeError and kill every micro-batch of a temporal-pk table), so those
encode as a ["d"|"t"|"n", iso/str] tag pair and ``load_manifest``
decodes them back to the objects the footer path returns
(``bloom.prune_files`` compares datetimes in one form, UTC-naive). A value no encoder covers stores the
whole range as null (bloom/conservative rules) rather than crashing.
"""

from __future__ import annotations

import datetime
import decimal


def _enc_stat(v):
    """One stat value -> JSON-safe encoding, or raise TypeError."""
    if isinstance(v, bool) or isinstance(v, (int, float)):
        return v
    if isinstance(v, datetime.datetime):  # before date: datetime IS a date
        return ["t", v.isoformat()]
    if isinstance(v, datetime.date):
        return ["d", v.isoformat()]
    if isinstance(v, decimal.Decimal):
        return ["n", str(v)]
    raise TypeError(f"no JSON-safe stat encoding for {type(v).__name__}")


def _dec_stat(v):
    """Inverse of _enc_stat (raw values pass through)."""
    if isinstance(v, list) and len(v) == 2 and v[0] in ("t", "d", "n"):
        tag, s = v
        if tag == "t":
            return datetime.datetime.fromisoformat(s)
        if tag == "d":
            return datetime.date.fromisoformat(s)
        return decimal.Decimal(s)
    return v


def load_manifest(table, column: str) -> dict | None:
    """{relpath: (lo, hi) | None} for the given stats column from the
    current version's log entries. Files whose entry lacks ``column``
    (written without ``key=``) are OMITTED (callers footer-fallback per file);
    returns None only when the table has no committed version."""
    if table.current_version() < 0:
        return None
    out: dict = {}
    for rel, stats in table.snapshot().files.items():
        if column in stats:
            rng = stats[column]
            out[rel] = None if rng is None else (
                _dec_stat(rng[0]), _dec_stat(rng[1]))
    return out


def refresh_manifest(table, rels: list[str], key: str) -> dict:
    """The ``add`` map of a commit's freshly pooled files: each file's
    ``key`` range from its footer, JSON-encoded (``null`` when absent,
    inexact or unencodable)."""
    from synch_spark.sources.table import file_key_range

    add: dict = {}
    for rel in rels:
        try:
            rng = file_key_range(table._abs(rel), key)
        except Exception:  # noqa: BLE001 — unreadable footer: statless
            rng = None
        if rng is not None:
            try:
                rng = [_enc_stat(rng[0]), _enc_stat(rng[1])]
            except TypeError:
                rng = None  # unencodable stat type: store "not exact"
        add[rel] = {key: rng}
    return add
