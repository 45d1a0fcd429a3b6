"""Deletion vectors: the row mask a merge writes instead of rewriting a file.

A merge that supersedes k rows of an N-row pool file writes a small
mask of those k row positions (parquet ``_metadata.row_index``) and
leaves the file untouched — ClickHouse's lightweight ``DELETE`` and
Delta's deletion vectors. Readers drop the masked positions
(``ParquetTable._scan``), so every reader still sees pk-unique rows.

- A DV is write-once and named uniquely per commit, dot-prefixed beside
  its data file: ``data/p=a/part-x.parquet`` ->
  ``data/p=a/.part-x.parquet.<id>.dv``. A later merge of the same file
  writes a NEW DV holding the old positions plus the new ones; the
  superseded one is freed when the last version naming it expires.
- The log entry names a file's current DV under ``DV_KEY`` in that
  file's map (next to its key stats).
- Format: one JSON header line, then the zlib-compressed little-endian
  bitmap of the masked positions. A sparse mask compresses to a few
  bytes per masked row; a dense one never exceeds N/8 bytes.
"""

from __future__ import annotations

import json
import os
import uuid
import zlib

import numpy as np

#: the DV's key in a file's entry map. The other keys of that map are
#: stats column names, and no column can be named "" (neither the SQL
#: sources nor Spark's parser admit an empty identifier); ``_index``
#: refuses it as a merge key besides
DV_KEY = ""
_FORMAT = 1
_cache: dict[str, np.ndarray] = {}
_CACHE_MAX = 4096


def new_name(rel: str) -> str:
    """A fresh DV file name for the data file ``rel`` (basename only)."""
    return f".{os.path.basename(rel)}.{uuid.uuid4().hex[:12]}.dv"


def dv_rel(rel: str, name: str) -> str:
    """Pool-relative path of the DV ``name`` of the data file ``rel``."""
    d = rel.rpartition("/")[0]
    return f"{d}/{name}" if d else name


def write(path: str, positions: np.ndarray) -> None:
    """Write the mask of ``positions`` (sorted, unique) to ``path``."""
    bits = np.zeros(int(positions[-1]) + 1 if len(positions) else 0, dtype=bool)
    bits[positions] = True
    head = json.dumps({"dv": _FORMAT, "n": int(len(positions)),
                       "bits": int(len(bits))}).encode()
    body = zlib.compress(np.packbits(bits, bitorder="little").tobytes())
    with open(path, "xb") as f:  # write-once, like every pool file
        f.write(head + b"\n" + body)


def read(path: str) -> np.ndarray:
    """The sorted int64 row positions masked by the DV at ``path``.
    DV files never change once written, so decoded masks are cached by
    path."""
    got = _cache.get(path)
    if got is not None:
        return got
    with open(path, "rb") as f:
        head, _, body = f.read().partition(b"\n")
    spec = json.loads(head)
    if spec.get("dv") != _FORMAT:
        raise ValueError(f"{path}: unknown deletion-vector format {spec!r}")
    bits = np.unpackbits(np.frombuffer(zlib.decompress(body), dtype=np.uint8),
                         count=spec["bits"], bitorder="little")
    got = np.flatnonzero(bits).astype(np.int64)
    if len(_cache) >= _CACHE_MAX:
        _cache.pop(next(iter(_cache)))
    _cache[path] = got
    return got
