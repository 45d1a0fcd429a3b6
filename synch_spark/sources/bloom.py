"""Per-file Bloom filter on the merge key, written once at commit.

Footer min/max stats (the key range in each file's log entry) prune a
file only when the batch's keys miss its [lo, hi] range entirely. Files
with INTERLEAVED keys — unclustered appends, overlapping compaction
outputs — have wide ranges that overlap every batch, so min/max proves
nothing and the merge scans them for no reason. A Bloom filter
answers the sharper question "could ANY of these keys be in this
file?" with no false negatives, cutting rewrites to files that (almost
certainly) hold a touched key. This is ClickHouse's per-part bloom skip
index, and Delta's / Hudi's bloom index.

Design:

- The bloom is built by the commit that writes the file (the writer
  that knows the merge key passes ``key=``; ``ParquetTable`` calls
  ``build_file_blooms`` between pooling the files and publishing the
  log entry) and written ONCE, as a dot-prefixed sidecar beside its data
  file: ``data/p=a/part-x.parquet`` -> ``data/p=a/.part-x.parquet.bloom``.
  Pool files are immutable and never move, so the sidecar lives and dies
  with its file: every store path that frees or copies a pool file
  (``table._pool_paths``) takes the sidecar along. Spark's file listing
  skips dot-prefixed names, and reads name their files explicitly.
- A file with no sidecar makes no claim (callers keep min/max
  semantics). The sidecar header records its column and hash-format
  version (``HASH_VERSION``); a mismatch reads as "no sidecar". The
  retired flat ``_bloom/`` store hashed ints differently and is never
  read: its bits would be false negatives, i.e. lost updates.
- Double hashing (Kirsch-Mitzenmacher): bit_i = (h1 + i*h2) mod m over
  uint64 arithmetic. Int keys get (h1, h2) from a vectorised splitmix64
  mix of their int64 value; str and bytes keys from one blake2b digest
  per value. Build and probe share these functions, so they agree bit
  for bit.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os

import numpy as np

FPP_BITS_PER_KEY = 10  # ~1% false-positive rate at k=7
NUM_HASHES = 7
HASH_VERSION = 2
_I64_MIN, _I64_MAX = -(2**63), 2**63 - 1
_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def bloom_safe_key(value) -> bool:
    """Key types whose build-side (pyarrow) and probe-side (the merge's
    Arrow keys, a caller's Spark ``collect``) python representations are
    IDENTICAL — the
    no-false-negative invariant is only type-enforceable for these.
    Timestamps (tz-aware vs naive), decimals, and floats (float32
    widening) can differ across the two paths, and a divergence would
    be a silent false negative — in the merge that drops a file
    holding a changed key from the candidates, so its old row is never
    masked, i.e. a lost update.

    bytearray counts as bytes: Spark ``collect()`` returns BinaryType
    values as bytearray while pyarrow's build side yields bytes."""
    return (isinstance(value, (int, str, bytes, bytearray))
            and not isinstance(value, bool))


def sidecar_path(path: str) -> str:
    """The bloom sidecar of the data file at ``path``."""
    d, name = os.path.split(path)
    return os.path.join(d, f".{name}.bloom")


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    x = x ^ (x >> np.uint64(30))
    x = x * _M1
    x = x ^ (x >> np.uint64(27))
    x = x * _M2
    return x ^ (x >> np.uint64(31))


def _int_hashes(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) uint64 arrays for int64 keys."""
    x = values.astype(np.int64, copy=False).view(np.uint64)
    return _mix(x), _mix(x ^ _GOLDEN) | np.uint64(1)


def _obj_hashes(values) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) uint64 arrays for str / bytes / bytearray keys."""
    digests = b"".join(
        hashlib.blake2b(
            b"b:" + bytes(v) if isinstance(v, (bytes, bytearray))
            else b"s:" + v.encode(),
            digest_size=16,
        ).digest()
        for v in values
    )
    d = np.frombuffer(digests, dtype="<u8").reshape(-1, 2)
    return d[:, 0], d[:, 1] | np.uint64(1)


def _positions(h1: np.ndarray, h2: np.ndarray, m: int, k: int) -> np.ndarray:
    """(n, k) bit positions of n keys."""
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)


def _column_hashes(pf, key: str):
    """(h1, h2) over the non-null ``key`` values of an open ParquetFile,
    or None when the file has no such column (a partition column) or
    its type has no type-stable hash (see bloom_safe_key)."""
    import pyarrow as pa

    schema = pf.schema_arrow
    if key not in schema.names:
        return None
    typ = schema.field(key).type
    is_int = pa.types.is_integer(typ)
    if not (is_int or pa.types.is_string(typ) or pa.types.is_large_string(typ)
            or pa.types.is_binary(typ) or pa.types.is_large_binary(typ)):
        return None
    col = pf.read(columns=[key]).column(0).drop_null()
    return _int_hashes(col.to_numpy()) if is_int else _obj_hashes(col.to_pylist())


def build_file_blooms(table, rels: list[str], key: str) -> int:
    """Write the ``key`` bloom of each freshly pooled file in ``rels``
    beside it. Runs once per file, inside the commit that adds it.
    Returns the number of sidecars written (a file whose key column is
    absent or not bloom-safe gets none)."""
    import pyarrow.parquet as pq

    built = 0
    for rel in rels:
        path = table._abs(rel)
        hashes = _column_hashes(pq.ParquetFile(path), key)
        if hashes is None:
            continue
        h1, h2 = hashes
        m = max(len(h1), 1) * FPP_BITS_PER_KEY + 8
        flags = np.zeros(m, dtype=bool)
        flags[_positions(h1, h2, m, NUM_HASHES).ravel()] = True
        head = json.dumps({"column": key, "hash": HASH_VERSION,
                           "m": m, "k": NUM_HASHES}).encode()
        # "xb": write-once — a pool file is fresh, so is its sidecar
        with open(sidecar_path(path), "xb") as f:
            f.write(head + b"\n"
                    + np.packbits(flags, bitorder="little").tobytes())
        built += 1
    return built


def load_bloom(path: str, column: str):
    """(m, k, packed bits) of the data file at ``path``, or None when it
    has no readable sidecar for ``column`` in the current hash format."""
    try:
        with open(sidecar_path(path), "rb") as f:
            head, _, bits = f.read().partition(b"\n")
        spec = json.loads(head)
    except (OSError, ValueError):
        return None
    if (spec.get("column") != column or spec.get("hash") != HASH_VERSION
            or len(bits) * 8 < spec["m"]):
        return None
    return spec["m"], spec["k"], np.frombuffer(bits, dtype=np.uint8)


def might_contain_any(bloom, keys) -> bool:
    """True unless the bloom PROVES none of ``keys`` is in the file.
    No false negatives: a True may be spurious (~FPP per key), a False
    is definitive. Keys outside the type-enforced domain (bloom_safe_key,
    or ints beyond int64) make no claim at all — True, never a spurious
    proof of absence."""
    m, k, bits = bloom
    keys = list(keys)
    if not all(bloom_safe_key(v) for v in keys):
        return True
    ints = [v for v in keys if isinstance(v, int)]
    if any(not _I64_MIN <= v <= _I64_MAX for v in ints):
        return True
    objs = [v for v in keys if not isinstance(v, int)]
    flags = np.unpackbits(bits, count=m, bitorder="little")
    for h1, h2 in (_int_hashes(np.array(ints, dtype=np.int64)),
                   _obj_hashes(objs)):
        if len(h1) and flags[_positions(h1, h2, m, k)].all(axis=1).any():
            return True
    return False


def _comparable(value):
    """``value`` in the one form a key range and a probe key compare in:
    a datetime as UTC-naive. Footer ranges and Arrow keys carry tz-aware
    UTC datetimes, Spark's ``collect`` naive local ones, and the two
    kinds do not order against each other."""
    if isinstance(value, datetime.datetime):
        return value.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return value


def prune_files(table, column: str, keys) -> list[str] | None:
    """Current-version data files that might hold any of ``keys`` in
    ``column``, by the log entry's key range (footer fallback for
    entries that lack it) refined with Bloom sidecars — no data pages
    read. None when pruning can't prove anything for some file (no
    orderable range AND no bloom): callers must then scan normally. An
    empty list is a proof that NO file holds any key."""
    import bisect

    from synch_spark.sources.manifest import load_manifest
    from synch_spark.sources.table import file_key_range

    try:
        sk = sorted(map(_comparable, keys))
    except TypeError:
        # mixed-type keys don't order: same contract as the bisect
        # fallback below — degrade to "can't prove anything" (full scan)
        return None
    if not sk or any(k is None for k in sk):
        return None
    out: list[str] = []
    manifest = load_manifest(table, column) or {}
    for rel in table.snapshot().files:
        path = table._abs(rel)
        bl = load_bloom(path, column)
        if rel in manifest:
            rng = manifest[rel]
        else:
            try:
                rng = file_key_range(path, column)
            except Exception:  # unreadable footer: treat as statless
                rng = None
        if rng is not None:
            rng = tuple(map(_comparable, rng))
        if rng is None:
            if bl is None:
                return None  # this file is unprovable either way
            if might_contain_any(bl, sk):
                out.append(path)
            continue
        try:
            i = bisect.bisect_left(sk, rng[0])
            j = bisect.bisect_right(sk, rng[1])
        except TypeError:
            return None  # stats don't order against the key type
        if j <= i:
            continue  # outside every key: range alone proves absence
        if bl is not None and not might_contain_any(bl, sk[i:j]):
            continue  # bloom proves absence despite range overlap
        out.append(path)
    return out


def point_lookup(table, column: str, keys) -> "object":
    """Read only the files that might contain ``keys`` (stats+bloom
    pruned), then apply the exact filter. The 100 TB needle path: a
    pk-clustered + bloomed table answers a handful-of-keys lookup by
    opening a handful of files instead of scanning the table. Falls
    back to a full-scan filter when pruning can't prove coverage."""
    from pyspark.sql import functions as F

    keys = list(keys)  # materialize ONCE: a generator would be exhausted
    # by the prune call and the exact filter below would see [] — every
    # lookup silently empty
    files = prune_files(table, column, keys)
    flt = F.col(column).isin(keys)
    if files is None:
        return table.read().filter(flt)
    if not files:
        return table.read().limit(0)
    # read_files applies the table's schema reconciliation (metadata-only
    # DDL) and DVs: a raw parquet read of pre-rename files would surface
    # physical names and the logical-column select/filter would fail
    return table.read_files(files).filter(flt)
