"""Versioned parquet table store — the engine's managed target table.

The reference writes into ClickHouse over TCP
(/root/reference/synch/writer/__init__.py:21-53). Our target is a
lakehouse-style parquet table with a MANIFEST LOG (the Delta/Iceberg
commit model): data files live in one immutable shared pool
(``data/``), and each version is a tiny JSON log entry under ``_v/``
naming the files it adds/removes. Committing a version touches O(files
changed) paths — never O(table):

- a commit writes its staged data files into the pool (one rename per
  new file), then publishes ``_v/v=<n>.json`` with an atomic
  exclusive-create (hard link of a temp file). Two writers racing to
  the same version: exactly one create succeeds, the loser gets
  ConcurrentWriteError and re-merges — optimistic concurrency without
  a lock service. On object storage the exclusive create maps to a
  conditional put (if-none-match) of the same small object; no POSIX
  hard links or directory renames are needed anywhere on the commit
  path.
- most entries are DELTAS ({add, remove} against the previous
  version); every CKPT_EVERY-th commit (and every full overwrite)
  writes a CHECKPOINT entry carrying the complete file list, so a
  reader materializes any version from one checkpoint plus at most
  CKPT_EVERY - 1 deltas.
- readers resolve the newest log entry and read exactly the listed
  files — they never see partial writes, and a concurrent commit never
  changes rows under a running query (files are immutable; GC spares
  the previous version for in-flight readers).
- each new file is indexed ONCE, by the commit that adds it, when the
  writer passes the merge ``key=``: the key's min/max rides in the log
  entry next to the file (``sources.manifest``) and its bloom is written
  beside the file in the pool (``sources.bloom``). The schema-evolution
  document rides in the entry too — schema, membership, and stats
  commit atomically as one JSON object, and a published entry is never
  rewritten.
- every data file is written zstd (``_stage``); a file's codec is in
  its own footer, so files of older writers (snappy) read beside them.
- a merge never rewrites a file: it appends its net rows and masks the
  superseded rows of each touched file with a deletion vector
  (``sources.dv``), named in the entry beside the file's stats. Every
  read drops the masked rows, so ``read(v)`` is pk-unique at every
  version; a (file, DV) pair is a file's identity for the change feed.

Scale notes: at 100 TB a micro-batch merge touching k of N files pays
one write of its net rows, k small mask writes and O(k) log bytes —
never a rewrite of the k files. Version GC is O(touched): the files
and masks freed by expiring version v-2 are exactly the previous
entry's remove-lists.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from synch_spark.sources import dv, schema_evolution as se
from synch_spark.sources.bloom import sidecar_path

_CURRENT = "_CURRENT"  # informational pointer (the log is the truth)
_MDIR = "_v"
_DATA = "data"
CKPT_EVERY = 10
#: dictionary page cap of every table file (``_stage``): a column whose
#: dictionary outgrows it falls back to DELTA_BINARY_PACKED or
#: DELTA_BYTE_ARRAY pages. Low-cardinality columns (status, kind, sign,
#: version, qty) stay dictionaries; near-unique ones stop being turned
#: into index pages zstd cannot shrink, which matters most for a
#: Collapsing fold's cancel/state pairs (equal ids and times side by
#: side). Catch-up batch 2 of the replication benchmark (seed 1): its
#: order_events file 40,400 -> 24,951 B against Spark's 1 MiB default,
#: orders 37,813 -> 37,247 B; 1 KiB gives the same bytes, 8 KiB keeps
#: ``note`` a dictionary (+566 B), no dictionaries at all grows
#: ``status`` 1,245 -> 5,462 B.
DICTIONARY_PAGE_BYTES = 4096
#: restore/clone diffs at or above this many files copy via an executor
#: fan-out instead of a driver-serial loop
_COPY_FANOUT_MIN = 64


def _pool_paths(data_dir: str, rel: str) -> tuple[str, str]:
    """A pool file's paths on disk: the data file and its bloom sidecar.
    Every path that frees or copies a pool file goes through here, so
    the sidecar lives and dies with its file."""
    path = os.path.join(data_dir, rel)
    return path, sidecar_path(path)


def _copy_one_pool_file(src_root: str, dst_root: str, rel: str,
                        new_rel: str) -> None:
    """One pool-file byte copy plus its bloom sidecar — module-level and
    path-only so executor tasks can run it (no table object in the
    closure).

    copyfile, NOT copy2: copy2 preserves the SOURCE mtime, and vacuum()
    judges unreferenced-pool-file liveness by mtime — a restore/clone
    still in its copy..publish window would look TTL-expired to a
    concurrent vacuum and be reclaimed mid-flight. A fresh mtime gives
    the in-flight copy the same grace window every staged write gets."""
    src, src_sidecar = _pool_paths(os.path.join(src_root, _DATA), rel)
    dst, dst_sidecar = _pool_paths(os.path.join(dst_root, _DATA), new_rel)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    shutil.copyfile(src, dst)
    if os.path.exists(src_sidecar):
        shutil.copyfile(src_sidecar, dst_sidecar)


_UNSET = object()


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this writer's read and commit."""


def commit_with_retry(txn, retries: int = 5, backoff_s: float = 0.05):
    """Run a read-modify-write transaction with optimistic-concurrency
    retry: ``txn`` must RE-READ the table(s) it merges into on every
    attempt (read inside the callable, not captured outside), so a retry
    merges against the winner's version instead of replaying a stale
    plan. Exponential backoff with jitter de-synchronizes herds of
    writers; after ``retries`` losses the last ConcurrentWriteError
    propagates.

    This is the multi-writer story: each host stages its own files
    (``_stage`` writes a per-writer dir), publication is an atomic
    exclusive-create of the version's log entry, and losers rebuild
    from the new current version — serializable commits without a lock
    service, the Delta/Hudi optimistic pattern.
    """
    import random
    import time

    attempt = 0
    while True:
        try:
            return txn()
        except ConcurrentWriteError:
            if attempt >= retries:
                raise
            time.sleep(backoff_s * (2**attempt) * (0.5 + random.random()))
            attempt += 1


# ASCII characters java.net.URI leaves unquoted in a path
_URI_PATH_SAFE = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    "_-!.~'()*,;:$&+=/@")
# the reader's columns carrying a row's (file, position)
_POS_FILE, _POS_ROW = "_dv_file", "_dv_row"


def _file_uri(path: str) -> str:
    """The ``_metadata.file_path`` Spark reports for the local file at
    ``path``: ``file:`` plus the path quoted as Hadoop's
    ``Path.toUri`` (java.net.URI) quotes it. ASCII outside the URI path
    set, ``%`` included, becomes UTF-8 %XX; other non-ASCII stays as is
    unless it is a space or control character. Hive-escaped partition
    dirs (``p=a%3Ab``) therefore read back as ``p=a%253Ab``."""
    import unicodedata

    out = []
    for ch in os.path.abspath(path):
        o = ord(ch)
        if ch in _URI_PATH_SAFE or (
                o > 0x9F and unicodedata.category(ch) not in ("Zs", "Zl", "Zp")):
            out.append(ch)
        else:
            out.extend(f"%{b:02X}" for b in ch.encode())
    return "file:" + "".join(out)


# physical types whose footer min/max are exact values. BYTE_ARRAY
# (strings/binary) is excluded on purpose: parquet writers may TRUNCATE
# string statistics, and a truncated max is a *prefix* that understates
# the true max — pruning on it could skip a file that does contain a
# batch key (lost update). INT96 is excluded too: its min/max has no
# defined sort order (PARQUET-1065 — legacy writers compared the raw
# bytes, which is not chronological), so trusting it could also prune
# a file that holds the key. Only files of older writers hold INT96;
# ``_stage`` writes timestamps as INT64 micros, whose range is exact.
# Remaining numeric stats are always exact.
_EXACT_STAT_TYPES = {"INT32", "INT64", "FLOAT", "DOUBLE", "BOOLEAN"}


def file_key_range(path: str, column: str):
    """(min, max) of ``column`` across the parquet file's row groups from
    footer statistics only — no data pages read. None when stats are
    absent or not provably exact (then the file must be treated as a
    merge candidate)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    try:
        idx = md.schema.names.index(column)
    except ValueError:
        return None
    lo = hi = None
    for rg in range(md.num_row_groups):
        col = md.row_group(rg).column(idx)
        st = col.statistics
        if (
            st is None
            or not st.has_min_max
            or col.physical_type not in _EXACT_STAT_TYPES
        ):
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (lo, hi)


def zorder_layout(
    df: DataFrame,
    cols: list[str],
    bits: int = 8,
    num_files: int | None = None,
) -> DataFrame:
    """Re-layout ``df`` along a Z-order (Morton) curve over ``cols`` so
    parquet footer min/max stats become selective on EVERY listed column
    at once — single-column ``cluster_by`` gives perfect skipping on one
    key and none on the others; Z-order trades a little per-column
    tightness for usable ranges on all of them (the Delta OPTIMIZE
    ZORDER strategy).

    Each column is linearly scaled to ``bits`` bits using its global
    min/max (one tiny stats aggregate), the scaled values are
    bit-interleaved (``functions.interleave_bits``), and rows are
    range-partitioned + sorted by the key. The key column is dropped —
    the layout, and the per-file stats it induces, are the product.
    Linear scaling assumes roughly uniform keys; heavily skewed domains
    would want a rank-based normalization (ntile) instead.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as _T

    from synch_spark.functions import interleave_bits

    def znum(c: str) -> "F.Column":
        """Ordered numeric projection of a zorder column. Explicit per
        type: under ANSI a DATE fails cast('double') at analysis and a
        non-numeric STRING throws CAST_INVALID_INPUT at runtime — and a
        hypothetical all-NULL projection would silently dump the whole
        table into ONE range partition (jumbo single-threaded file,
        zero skipping). Temporals map through their epoch integers;
        strings are rejected loudly (no castable linear domain)."""
        dt = df.schema[c].dataType
        if isinstance(dt, _T.DateType):
            return F.unix_date(F.col(c)).cast("double")
        if isinstance(dt, _T.TimestampType):
            return F.unix_micros(F.col(c)).cast("double")
        if isinstance(dt, _T.TimestampNTZType):
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        if isinstance(dt, (_T.NumericType, _T.BooleanType)):
            return F.col(c).cast("double")
        raise ValueError(
            f"zorder column {c!r} has type {dt.simpleString()}: Z-order "
            "needs a numeric/temporal/boolean column"
        )

    # the interleaved key must fit a signed long (interleave_bits raises
    # past 63 bit positions) — clamp per-column resolution for wide column
    # sets rather than fail; resolution loss only coarsens the curve
    bits = min(bits, 63 // len(cols))
    stats = df.agg(
        *[F.min(znum(c)).alias(f"_mn_{c}") for c in cols],
        *[F.max(znum(c)).alias(f"_mx_{c}") for c in cols],
    ).collect()[0]
    top = float(2**bits - 1)
    scaled = []
    for c in cols:
        mn, mx = stats[f"_mn_{c}"], stats[f"_mx_{c}"]
        span = (mx - mn) if (mx is not None and mn is not None and mx > mn) else 1.0
        scaled.append(
            F.round((znum(c) - F.lit(mn or 0.0)) / F.lit(span) * top)
            .cast("long")
        )
    # materialize scaled values as attributes before interleaving: each is
    # referenced ``bits`` times, and attributes (unlike inline expression
    # trees) are computed once per row
    keyed = df
    names = []
    for i, expr in enumerate(scaled):
        names.append(f"_zs_{i}")
        keyed = keyed.withColumn(names[-1], expr)
    keyed = keyed.withColumn(
        "_z", interleave_bits([F.col(n) for n in names], bits)
    ).drop(*names)
    parts = [num_files] if num_files else []
    return (
        keyed.repartitionByRange(*parts, "_z").sortWithinPartitions("_z").drop("_z")
    )


def _dv_of(rel: str, stats: dict | None) -> str | None:
    """Pool-relative path of the DV named in the file map ``stats``."""
    name = stats.get(dv.DV_KEY) if stats else None
    return dv.dv_rel(rel, name) if name else None


class Snapshot:
    """Materialized view of one committed version: file membership (with
    per-file stats), the schema-evolution document, and the Spark schema
    of the last full write; ``struct`` is the schema every read declares."""

    __slots__ = ("version", "files", "schema_raw", "sschema")

    def __init__(self, version: int, files: dict, schema_raw: str | None,
                 sschema: str | None):
        self.version = version
        # rel path -> {stats_col: [lo, hi] | None, dv.DV_KEY: dv name}
        self.files = files
        self.schema_raw = schema_raw
        self.sschema = sschema

    def dv(self, rel: str) -> str | None:
        """Pool-relative path of ``rel``'s deletion vector, if it has one."""
        return _dv_of(rel, self.files[rel])

    def pool_rels(self) -> list[str]:
        """Every pool file this version reads: its data files and DVs."""
        return [p for r in self.files for p in (r, self.dv(r)) if p]

    @property
    def schema_doc(self) -> "se.TableSchema | None":
        return se.TableSchema.loads(self.schema_raw) if self.schema_raw else None

    @property
    def struct(self) -> "StructType | None":
        """The columns a read returns; None in a log older than both."""
        if (spec := self.schema_doc) is not None:
            return StructType.fromDDL(
                ", ".join(f"`{c.name}` {c.type}" for c in spec.columns))
        return StructType.fromJson(json.loads(self.sschema)) if self.sschema else None


class ParquetTable:
    """A named, versioned parquet table rooted at ``root``."""

    def __init__(self, spark: SparkSession, root: str, retain: int = 2,
                 committer=None):
        self.spark = spark
        self.root = root
        # the atomic publish-if-absent primitive for log entries —
        # pluggable so the same store runs on POSIX (hard-link, the
        # default) or object storage (conditional put / If-None-Match);
        # see sources.committer. Resolution: explicit arg > process
        # default (cli._load installs `spark.committer` from synch.yaml
        # there so every table a command opens uses the configured
        # store) > PosixCommitter.
        from synch_spark.sources.committer import default_committer

        self.committer = committer or default_committer()
        # Time-travel window: how many trailing versions stay readable
        # (current + retain-1 historical) — the Delta
        # deletedFileRetentionDuration analog, counted in versions
        # instead of wall time so tests and replays are deterministic.
        # Minimum 2: the previous version must survive for in-flight
        # readers. Go-forward only: shrinking it on an existing table
        # leaves a few already-spared files for vacuum() to reclaim.
        self.retain = max(2, int(retain))
        self._mdir = os.path.join(root, _MDIR)
        # absolute: DV masks match rows by the path Spark reports
        # (``_file_uri``), whatever the working directory
        self._data = os.path.abspath(os.path.join(root, _DATA))
        # memoized snapshots keyed by resolved version: committed
        # versions are immutable, so one metadata operation (point
        # lookup, merge classify) re-reading the same version pays the
        # checkpoint parse once instead of 4-5 times
        self._snap_cache: dict[int, Snapshot] = {}
        # versions whose data files were verified present (see
        # _files_present) — immutable once true for the current window
        self._verified_versions: set[int] = set()
        os.makedirs(root, exist_ok=True)

    # -- version bookkeeping -------------------------------------------------
    def current_version(self) -> int:
        """Newest committed version = the largest log entry. The log is
        the single source of truth; ``_CURRENT`` is written as an
        observability hint only (a crash between entry-publish and hint
        cannot lose or fork a commit)."""
        if not os.path.isdir(self._mdir):
            return -1
        best = -1
        for name in os.listdir(self._mdir):
            if name.startswith("v=") and name.endswith(".json"):
                try:
                    best = max(best, int(name[2:-5]))
                except ValueError:
                    continue
        return best

    def _manifest_path(self, v: int) -> str:
        return os.path.join(self._mdir, f"v={v}.json")

    def _entry(self, v: int) -> dict:
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    def snapshot(self, version: int | None = None) -> Snapshot:
        """Materialize a version: nearest checkpoint entry + its delta
        chain applied forward (≤ CKPT_EVERY - 1 small JSON reads)."""
        return self._snapshot_at(self._resolve_version(version))

    def _snapshot_at(self, v: int) -> Snapshot:
        """snapshot() body AFTER version resolution. Internal callers
        that already hold a concrete version number (``_files_present``)
        must come in here: going through ``snapshot`` would re-validate
        via ``_resolve_version`` → ``versions()`` → ``_files_present``
        — an unbounded mutual recursion."""
        cached = self._snap_cache.get(v)
        if cached is not None:
            return cached
        chain = []
        cur = v
        while True:
            e = self._entry(cur)
            chain.append(e)
            if e["type"] == "ckpt":
                break
            cur = e["base"]
        chain.reverse()
        files = dict(chain[0]["files"])
        schema_raw = chain[0].get("schema")
        sschema = chain[0].get("sschema")
        for e in chain[1:]:
            for rel in e.get("remove", ()):
                files.pop(rel, None)
            files.update(e.get("add", {}))
            if "schema" in e:
                schema_raw = e["schema"]
            if "sschema" in e:  # present-but-None = explicit reset
                sschema = e["sschema"]
        snap = Snapshot(v, files, schema_raw, sschema)
        if len(self._snap_cache) >= 4:  # bounded: current + a few pinned
            self._snap_cache.pop(next(iter(self._snap_cache)))
        self._snap_cache[v] = snap
        return snap

    def _stage(self, df: DataFrame, partition_by: str | None) -> list[str]:
        """Write ``df`` as parquet into a private ``.staging-*`` dir and
        pool the files (``_promote_files``); returns the pool-relative
        paths. Nothing is visible to readers until an entry names them.
        Every table file is written here, in one layout: zstd, v2 data
        pages (delta encodings for ints, timestamps and strings once a
        dictionary passes ``DICTIONARY_PAGE_BYTES``), and timestamps as
        INT64 micros (the session conf ``get_spark`` and
        ``ensure_session_confs`` set; Spark's writer ignores it as an
        option). Readers take codec, encodings and timestamp type from
        each file's footer, so files of older writers (snappy, INT96, v1
        pages) stay readable beside them."""
        staging = os.path.join(self.root, f".staging-{uuid.uuid4().hex[:12]}")
        writer = (df.write.mode("overwrite").option("compression", "zstd")
                  .option("parquet.writer.version", "v2")
                  .option("parquet.dictionary.page.size",
                          str(DICTIONARY_PAGE_BYTES)))
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(staging)
        return self._promote_files(staging)

    def _promote_files(self, staging: str) -> list[str]:
        """Move staged parquet files into the shared ``data/`` pool,
        keeping partition subdirs. Returns the pool-relative paths.
        O(new files) renames; Spark part filenames embed a per-job UUID
        so names are collision-free across commits (a uuid prefix is
        added in the impossible case). A file whose footer reports 0
        rows is dropped: Spark writes one for an empty task (a one-row
        frame on several cores), and it would only add a file to every
        later read."""
        import pyarrow.parquet as pq

        rels: list[str] = []
        for dirpath, _dirs, names in os.walk(staging):
            for name in names:
                if not name.endswith(".parquet"):
                    continue  # _SUCCESS / .crc sidecars are dropped
                src = os.path.join(dirpath, name)
                if pq.ParquetFile(src).metadata.num_rows == 0:
                    continue
                rel = os.path.relpath(src, staging)
                dst = os.path.join(self._data, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                if os.path.exists(dst):
                    rel = os.path.join(
                        os.path.dirname(rel),
                        f"{uuid.uuid4().hex[:12]}-{name}",
                    )
                    dst = os.path.join(self._data, rel)
                os.rename(src, dst)
                rels.append(rel.replace(os.sep, "/"))
        shutil.rmtree(staging, ignore_errors=True)
        return rels

    def _make_entry(
        self,
        v: int,
        add: dict,
        remove: list[str],
        snap: Snapshot | None,
        schema_change=_UNSET,
        sschema=_UNSET,
        force_ckpt: bool = False,
        data_change: bool = True,
        op: str | None = None,
        epoch: str | None = None,
        info: dict | None = None,
    ) -> dict:
        if force_ckpt or snap is None or v % CKPT_EVERY == 0:
            gone = set(remove)
            files = (
                {} if snap is None
                else {r: s for r, s in snap.files.items() if r not in gone}
            )
            files.update(add)
            schema_raw = (
                schema_change if schema_change is not _UNSET
                else (snap.schema_raw if snap else None)
            )
            e: dict = {
                "v": v, "type": "ckpt", "files": files,
                "remove": sorted(remove),
                "schema": schema_raw,
                "sschema": (sschema if sschema is not _UNSET
                            else (snap.sschema if snap else None)),
            }
        else:
            e = {"v": v, "type": "delta", "base": v - 1,
                 "add": add, "remove": sorted(remove)}
            if schema_change is not _UNSET:
                e["schema"] = schema_change
            if sschema is not _UNSET:
                # an explicit None REINSTATES the no-physical-schema state
                # (restore to a pre-sschema version); replay distinguishes
                # "key present, None" from "key absent" below
                e["sschema"] = sschema
        # DVs last referenced by version v-1 — a removed file's, and one
        # a re-added file's new map replaces — are freed on the same
        # schedule as the remove-list (see _post_commit)
        gone_dvs = []
        for rel in (*remove, *add):
            old = _dv_of(rel, snap.files.get(rel)) if snap else None
            if old and (rel not in add or _dv_of(rel, add[rel]) != old):
                gone_dvs.append(old)
        if gone_dvs:
            e["remove_dv"] = sorted(gone_dvs)
        if not data_change:
            e["dc"] = False
        if op:
            e["op"] = op
        if info:
            # the writer's own record of the commit (a micro-batch's
            # monitor row), published with the entry and never patched
            e["info"] = info
        self._attach_epochs(e, v, epoch)
        return e

    # idempotence markers survive this many subsequent epoch-stamped
    # commits — independent of log retention (see _attach_epochs)
    _EPOCH_KEEP = 64

    def _attach_epochs(self, e: dict, v: int, epoch: str | None) -> None:
        """Stamp the at-least-once idempotence marker AND carry the
        bounded recent-epochs list (``eps``) forward from the previous
        entry. Replay detection must OUTLIVE log retention: with
        retain=2, a micro-batch that commits several epoch-stamped
        segments to one table (multi-DDL-barrier batches, a sync's
        intent→commit window with event-path folds landing in between)
        rotates early segments' entries out before the checkpointed
        replay re-runs them — the carried list keeps the last
        ``_EPOCH_KEEP`` markers visible from the head entry regardless
        of which entries the GC dropped."""
        eps: list[str] = []
        if v > 0:
            try:
                pe = self._entry(v - 1)
            except (OSError, json.JSONDecodeError):
                pe = {}
            eps = list(pe.get("eps", ()))
            pep = pe.get("epoch")
            if pep and pep not in eps:  # pre-``eps`` entries: back-compat
                eps.append(pep)
        if epoch is not None:
            e["epoch"] = epoch
            if epoch not in eps:
                eps.append(epoch)
        if eps:
            e["eps"] = eps[-self._EPOCH_KEEP:]

    def _write_entry(self, entry: dict, cleanup_rels: list[str] | None = None) -> None:
        """Publish a log entry through the pluggable committer's atomic
        publish-if-absent (POSIX hard-link by default; conditional put /
        If-None-Match on object storage — sources.committer). A lost
        race unlinks this writer's already-pooled data files (uniquely
        named, referenced by nothing) and raises ConcurrentWriteError."""
        from synch_spark.sources.committer import AlreadyCommitted

        v = entry["v"]
        try:
            self.committer.publish(self._manifest_path(v),
                                   json.dumps(entry).encode("utf-8"))
        except AlreadyCommitted:
            self._free_pool_files(cleanup_rels or ())
            raise ConcurrentWriteError(
                f"table {self.root}: version {v} was committed by a "
                f"concurrent writer; retry the merge"
            ) from None
        self._post_commit(v)

    def _post_commit(self, v: int) -> None:
        """O(touched) housekeeping after publishing version v: refresh
        the informational pointer, free the data files and DVs that
        expired with version v-2 (exactly entry(v-1)'s remove-lists), and drop log
        entries older than the retained window's checkpoint floor."""
        ptr = os.path.join(self.root, _CURRENT)
        try:
            tmp = ptr + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                f.write(str(v))
            os.replace(tmp, ptr)
        except OSError:
            pass  # the hint is best-effort; the log already committed
        # free the data files that fell out of the retention window:
        # entry(k)'s remove-list names files last referenced by version
        # k-1, so once version k-1 leaves the window (oldest retained is
        # v - retain + 1) they are unreadable by construction
        expired = v - self.retain + 1
        if expired >= 1:
            try:
                prev = self._entry(expired)
            except (OSError, json.JSONDecodeError):
                prev = None
            if prev is not None:
                self._free_pool_files([*prev.get("remove", ()),
                                       *prev.get("remove_dv", ())])
        floor = self._retained_floor()
        for name in os.listdir(self._mdir):
            if name.startswith("v=") and name.endswith(".json"):
                try:
                    ver = int(name[2:-5])
                except ValueError:
                    continue
                if ver < floor:
                    try:
                        os.remove(os.path.join(self._mdir, name))
                    except OSError:
                        pass

    def _free_pool_files(self, rels) -> None:
        """Unlink pool files — data files with their sidecars, and DVs —
        referenced by no retained version; already-gone paths are fine."""
        for rel in rels:
            for path in _pool_paths(self._data, rel):
                try:
                    os.remove(path)
                except OSError:
                    pass

    def _index(self, rels: list[str], key: str | None) -> dict:
        """The ``add`` map of freshly pooled files. With the merge
        ``key`` given, each file is indexed once, here, before its entry
        is published: the key range rides in the entry
        (``manifest.refresh_manifest``) and the bloom is written beside
        the file (``bloom.build_file_blooms``)."""
        if key is None:
            return {r: {} for r in rels}
        if key == dv.DV_KEY:
            raise ValueError("the merge key needs a non-empty column name")
        from synch_spark.sources import bloom, manifest

        add = manifest.refresh_manifest(self, rels, key)
        bloom.build_file_blooms(self, rels, key)
        return add

    def _retained_floor(self) -> int:
        """Oldest log-entry version the GC retains — mirrors
        ``_post_commit``'s walk: from the oldest retained version's
        entry back to its checkpoint (snapshot replay of every retained
        version needs that whole chain). Entries below this are garbage
        by definition."""
        v = self.current_version()
        if v < 1:
            return max(v, 0)
        # oldest retained version whose entry still exists: a table
        # REOPENED with a larger retain than it was written with is
        # missing the deeper entries — start the walk at the first
        # readable one instead of GC-ing entries the window still needs
        e = None
        for oldest in range(max(0, v - self.retain + 1), v):
            try:
                e = self._entry(oldest)
                break
            except (OSError, json.JSONDecodeError):
                continue
        if e is None:
            return v
        floor = oldest
        while e["type"] != "ckpt":
            floor = e["base"]
            try:
                e = self._entry(floor)
            except (OSError, json.JSONDecodeError):
                break
        return floor

    @property
    def exists(self) -> bool:
        return self.current_version() >= 0

    # -- IO ------------------------------------------------------------------
    def _files_present(self, x: int) -> bool:
        """True when version x's data files all still exist. Memoized
        per instance (files of a retained version are immutable and the
        GC only ever removes versions BELOW the window, so a positive
        answer stays valid for this window)."""
        if x in self._verified_versions:
            return True
        try:
            snap = self._snapshot_at(x)
        except (OSError, json.JSONDecodeError, FileNotFoundError):
            return False
        ok = all(os.path.exists(self._abs(r)) for r in snap.pool_rels())
        if ok:
            self._verified_versions.add(x)
        return ok

    def versions(self) -> list[int]:
        """Readable version numbers, ascending. Data-file GC spares the
        trailing ``retain`` versions (default 2: current + previous for
        in-flight readers), so this is ``[v-retain+1 .. v]`` — a bounded
        time-travel window, the Delta ``VERSION AS OF`` shape without
        unbounded log retention.

        Versions below v-1 additionally verify their data files exist
        (memoized): a table written under a SMALLER retain — an older
        writer, a concurrent process with a narrower window, or a
        pre-reopen history — has log entries whose files the old GC
        already freed, and advertising those versions would turn
        read(version) into a raw scan error instead of the contractual
        'not retained'. v and v-1 skip the check: every writer retains
        at least 2."""
        v = self.current_version()
        if v < 0:
            return []
        return [
            x for x in range(max(0, v - self.retain + 1), v + 1)
            if os.path.exists(self._manifest_path(x))
            and (x >= v - 1 or self._files_present(x))
        ]

    def _resolve_version(self, version: int | None) -> int:
        v = self.current_version()
        if v < 0:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        if version is not None:
            if version not in self.versions():
                raise FileNotFoundError(
                    f"table {self.root}: version {version} not retained "
                    f"(have {self.versions()})"
                )
            v = version
        return v

    def schema_spec(self, version: int | None = None) -> "se.TableSchema | None":
        """The logical-schema document committed with the given (default
        current) version, or None when the version's physical schema IS
        the logical schema (no metadata-only DDL in its lineage)."""
        if self.current_version() < 0:
            return None
        return self.snapshot(version).schema_doc

    def schema(self, version: int | None = None) -> StructType:
        """``read(version).schema``, from the log when it records one."""
        return self.snapshot(version).struct or self.read(version).schema

    def _abs(self, rel: str) -> str:
        return os.path.join(self._data, rel)

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read of the current version, or time-travel to a
        retained earlier ``version`` (raises if already GC'd). Every
        read pins one immutable file set — readers never see a torn
        write, and a concurrent commit doesn't change rows under a
        running query.

        When the version carries a schema document (metadata-only DDL,
        sources.schema_evolution) the read reconciles heterogeneous
        physical files against it — renamed/added/dropped columns
        resolve without any file having been rewritten.

        The version's deletion vectors mask the rows merges superseded."""
        snap = self.snapshot(version)
        return self._scan(sorted(snap.files), snap, snap)

    def _scan(self, rels: list[str], snap: Snapshot, mask: Snapshot | None,
              positions: bool = False) -> DataFrame:
        """Read the pool files ``rels`` under ``snap``'s recorded schema
        (declared, so planning runs no Spark job and a partition column
        keeps its written type), dropping the rows masked by ``mask``'s
        DVs of those files (None: drop nothing) with ONE broadcast
        left-anti join on (file, row_index), before schema
        reconciliation. ``positions`` keeps each row's (file URI,
        row_index) as ``_POS_FILE`` / ``_POS_ROW``."""
        if not rels:
            return self._empty_df(snap)
        spec = snap.schema_doc
        declared = spec.read_struct() if spec is not None else snap.struct
        reader = self.spark.read.option("basePath", self._data)
        if declared is not None:
            reader = reader.schema(declared)
        raw = reader.parquet(*[self._abs(r) for r in rels])
        masked = [(r, d) for r in rels
                  if mask and (d := _dv_of(r, mask.files.get(r)))]
        if not masked and not positions:
            return raw if spec is None else spec.reconcile(raw)
        meta = raw.metadataColumn("_metadata")
        raw = raw.select("*", meta.getField("file_path").alias(_POS_FILE),
                         meta.getField("row_index").alias(_POS_ROW))
        if masked:
            import numpy as np
            import pyarrow as pa

            rows = [dv.read(self._abs(d)) for _, d in masked]
            uris = np.array([_file_uri(self._abs(r)) for r, _ in masked],
                            dtype=object)
            # an Arrow table becomes a LocalRelation built on the driver;
            # broadcasting it still runs one Spark job per read
            gone = self.spark.createDataFrame(pa.table({
                _POS_FILE: pa.array(np.repeat(uris, [len(x) for x in rows]),
                                    pa.string()),
                _POS_ROW: pa.array(np.concatenate(rows), pa.int64()),
            }))
            raw = raw.join(F.broadcast(gone), [_POS_FILE, _POS_ROW], "left_anti")
        pos = [_POS_FILE, _POS_ROW] if positions else []
        if spec is None:
            return raw if positions else raw.drop(_POS_FILE, _POS_ROW)
        return raw.select(*spec.select_exprs(), *pos)

    def _empty_df(self, snap: Snapshot) -> DataFrame:
        if (struct := snap.struct) is None:
            raise FileNotFoundError(f"table {self.root}: version {snap.version}"
                                    " has no files and no recorded schema")
        return self.spark.createDataFrame([], struct)

    def locate(self, rels: list[str], snap: Snapshot, keys: DataFrame,
               on: list[str], carry=()) -> dict[str, list[tuple]]:
        """{rel: [(row position, *``carry`` column values)]} of the rows
        of the pool files ``rels`` (read under ``snap``'s schema, masked
        rows included) whose ``on`` columns match a row of ``keys`` —
        one broadcast semi-join, the merge's search for its rivals."""
        by_uri = {_file_uri(self._abs(r)): r for r in rels}
        hits: dict[str, list[tuple]] = {}
        for f, *hit in (self._scan(rels, snap, None, positions=True)
                        .join(F.broadcast(keys), on, "left_semi")
                        .select(_POS_FILE, _POS_ROW, *carry).collect()):
            hits.setdefault(by_uri[f], []).append(tuple(hit))
        return hits

    def read_files(self, paths: list[str], version: int | None = None) -> DataFrame:
        """Read a subset of the given version's data files (lookup-pruning
        path) with the SAME logical schema and DVs as ``read()`` —
        including partition-dir columns (basePath) and schema
        reconciliation."""
        snap = self.snapshot(version)
        rels = [os.path.relpath(p, self._data).replace(os.sep, "/")
                for p in paths]
        return self._scan(rels, snap, snap)

    def commit_schema(self, ts: "se.TableSchema | None") -> None:
        """Metadata-only DDL commit: a new log entry carrying the evolved
        schema document and NO file changes — O(1) metadata, zero bytes
        of data touched (the ClickHouse/Delta ALTER cost model; ref
        synch/convert.py:123-130 translates ALTERs, ClickHouse applies
        them as metadata mutations)."""
        v_old = self.current_version()
        if v_old < 0:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        snap = self.snapshot(v_old)
        raw = None if ts is None or ts.is_trivial else ts.dumps()
        entry = self._make_entry(v_old + 1, {}, [], snap, schema_change=raw,
                                 op="ddl")
        self._write_entry(entry)

    def _stamp_gen(self, df: DataFrame, spec: "se.TableSchema | None") -> DataFrame:
        """Writes into a schema-carrying version stamp the hidden _sgen
        generation column so default-bearing ADDs stay row-exact (a
        post-DDL explicit NULL is distinguishable from a pre-DDL row)."""
        if spec is not None and spec.needs_gen:
            return df.withColumn(se.GEN_COL, F.lit(spec.gen).cast("long"))
        return df

    def overwrite(
        self,
        df: DataFrame,
        partition_by: str | None = None,
        cluster_by: tuple[str, ...] | None = None,
        expected_base: int | None = None,
        data_change: bool = True,
        op: str | None = None,
        epoch: str | None = None,
        key: str | None = None,
        info: dict | None = None,
    ) -> None:
        """``cluster_by`` range-partitions + sorts rows on the given key
        before writing, so every data file covers a narrow, mostly
        disjoint pk range — that is what makes footer min/max stats
        selective and file-level merge pruning effective (Z-order-lite;
        use it for initial loads and compaction).

        ``expected_base`` anchors a read-modify-write: pass the version
        you READ, and the commit fails with ConcurrentWriteError if any
        other writer has committed since — without it the version is
        sampled here, so a competing commit between your read and this
        call would be silently overwritten (lost update). Use with
        ``commit_with_retry``. Always writes a checkpoint entry (the
        file list is exactly the fresh write).

        ``data_change=False`` marks the commit as a row-preserving
        re-layout (compaction / Z-order — the Delta ``dataChange=false``
        flag): the caller asserts the new file set holds exactly the
        old rows, so incremental consumers (``changes_per_commit``) can
        skip the hop instead of diffing the whole rewrite to discover
        that everything cancels.

        ``key``: the merge key, for writers that have one — each new
        file's key range and bloom are written by this commit (see
        ``_index``); the same argument on ``overwrite_cow_files``.

        ``info``: a small JSON-able record stored in the entry as
        ``"info"`` and reported by ``history()`` — the streaming
        consumer's per-batch monitor row rides here (Delta's
        ``commitInfo``); the same argument on ``overwrite_cow_files``
        and ``append``."""
        base = self.current_version() if expected_base is None else expected_base
        try:
            snap = self.snapshot(base) if base >= 0 else None
        except FileNotFoundError as e:
            # expected_base already fell out of the retention window:
            # ≥2 commits landed since this writer's read
            raise ConcurrentWriteError(
                f"table {self.root}: base version {base} no longer retained; "
                f"retry the merge"
            ) from e
        if cluster_by:
            cols = ([partition_by] if partition_by else []) + list(cluster_by)
            df = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
        # as a read returns it: partition column last, all nullable
        fields = sorted(df.schema, key=lambda f: f.name == partition_by)
        sschema = re.sub(r'"(nullable|containsNull|valueContainsNull)":false',
                         r'"\1":true', StructType(fields).json())
        rels = self._stage(df, partition_by)
        entry = self._make_entry(
            base + 1,
            self._index(rels, key),
            sorted(snap.files) if snap else [],
            snap,
            schema_change=None,  # a full rewrite materializes the logical schema
            sschema=sschema,
            force_ckpt=True,
            data_change=data_change,
            op=op or ("optimize" if not data_change else "overwrite"),
            epoch=epoch,
            info=info,
        )
        self._write_entry(entry, cleanup_rels=rels)

    def overwrite_cow_files(
        self,
        df: DataFrame | None,
        remove_rels: list[str],
        expected_base: int | None = None,
        key: str | None = None,
        partition_by: str | None = None,
        dvs: dict | None = None,
        info: dict | None = None,
    ) -> None:
        """The merge commit: ONE delta entry that adds ``df``'s rows as
        new files (None: no rows), removes ``remove_rels`` (relpaths of
        the base version — files whose rows are all superseded) and
        gives each file named in ``dvs`` ({rel: sorted int64 row
        positions}) a new deletion vector holding its complete mask.
        Every other live file is carried by name with zero file
        operations, so a merge touching k of N files costs one write of
        its net rows plus k small masks, never a rewrite.

        ``expected_base`` anchors the read-modify-write exactly like
        ``overwrite``: pass the version the caller found its row
        positions in. Without it, a concurrent commit (e.g. a
        compaction) landing in between would get masks computed against
        files it already replaced — lost deletes, duplicate pks. A lost
        race frees this commit's new files and DVs."""
        v_old = self.current_version() if expected_base is None else expected_base
        if v_old < 0:
            self.overwrite(df, partition_by, key=key, info=info)
            return
        try:
            snap = self.snapshot(v_old)
        except FileNotFoundError as e:
            raise ConcurrentWriteError(
                f"table {self.root}: base version {v_old} no longer retained; "
                f"retry the merge"
            ) from e
        rels: list[str] = []
        if df is not None:
            rels = self._stage(self._stamp_gen(df, snap.schema_doc),
                               partition_by)
        add = self._index(rels, key)
        written = list(rels)
        for rel, rows in (dvs or {}).items():
            name = dv.new_name(rel)
            written.append(dv.dv_rel(rel, name))
            dv.write(self._abs(written[-1]), rows)
            add[rel] = {**snap.files[rel], dv.DV_KEY: name}
        remove = [r for r in remove_rels if r in snap.files]
        entry = self._make_entry(v_old + 1, add, remove, snap, op="merge",
                                 info=info)
        self._write_entry(entry, cleanup_rels=written)

    def append(self, df: DataFrame, partition_by: str | None = None,
               epoch: str | None = None, info: dict | None = None) -> None:
        """Pure-insert fast path: pool the new files and publish a delta
        entry that only ADDS them. Safe under concurrency by
        construction — an add-only commit conflicts with nothing, so a
        lost version race is retried against the new head without
        restaging (the pooled files are reused). Used by the collapsing
        engines' append-only write strategy
        (/root/reference/synch/writer/collapsing_merge_tree.py:37-58 —
        never deletes, only appends) and the dead-letter tables.

        ``epoch``: idempotence marker for at-least-once callers
        (streaming micro-batch replays). The marker rides in the commit
        entry; if any RETAINED entry already carries it, this append is
        a replay of an already-committed batch and becomes a no-op.
        Append is the one non-idempotent apply path (a replayed merge
        is last-wins per pk; a replayed append doubles signed rows), so
        the guard lives here. Replays happen immediately after a crash,
        well inside the retention window."""
        import random
        import time

        if epoch is not None and self._epoch_applied(epoch):
            return
        v = self.current_version()
        if v < 0:
            try:
                # expected_base=-1: the bootstrap must CREATE version 0;
                # without the pin a racer's just-created v0 would be the
                # sampled base and its rows silently truncated instead
                # of surfacing ConcurrentWriteError -> append fallback
                self.overwrite(df, partition_by, epoch=epoch,
                               expected_base=-1, info=info)
                return
            except ConcurrentWriteError:
                # another writer created version 0 between the check and
                # the commit — append against the now-existing table
                v = self.current_version()
        rels = self._stage(self._stamp_gen(df, self.snapshot(v).schema_doc),
                           partition_by)
        add = {r: {} for r in rels}
        for attempt in range(8):
            # re-check the epoch EVERY iteration: two concurrent replays
            # of one micro-batch can both pass the entry check, and the
            # loser's retry would otherwise re-commit the same rows
            # against the winner's head — doubled signed rows, the exact
            # corruption the marker exists to prevent
            # including attempt 0: the entry check ran BEFORE the staging
            # write (a long job), so a clean-interleaving replay can have
            # committed since without this writer ever seeing a conflict
            if epoch is not None and self._epoch_applied(epoch):
                break  # fall through to the staged-file cleanup below
            base = self.current_version()
            snap = self.snapshot(base) if base >= 0 else None
            entry = self._make_entry(base + 1, add, [], snap, op="append",
                                     epoch=epoch, info=info)
            try:
                self._write_entry(entry)  # no cleanup: rels are reusable
                return
            except ConcurrentWriteError:
                time.sleep(0.02 * (2**attempt) * (0.5 + random.random()))
        else:
            if epoch is None or not self._epoch_applied(epoch):
                self._free_pool_files(rels)
                raise ConcurrentWriteError(
                    f"table {self.root}: append lost the commit race 8 times"
                )
        # duplicate-epoch exit: the rows are already committed by the
        # concurrent replay — drop this attempt's staged files
        self._free_pool_files(rels)

    def vacuum(self, staging_ttl_s: float = 3600.0) -> int:
        """Remove crash debris: ``.staging-*`` dirs and ``_v/.tmp-*``
        files older than the TTL (a writer that died mid-prepare leaves
        them behind — invisible to readers, but disk is never reclaimed
        otherwise), plus pool files REFERENCED BY NO retained version
        and older than the TTL (a writer that died between pooling its
        files and publishing its entry). Returns the number of paths
        removed.

        NOT wired into automatic maintenance on purpose: liveness is
        judged by mtime, and a prepare that outlasts the TTL (a very
        large initial load) would be reclaimed from under the live
        writer. Run it explicitly (cli `optimize --vacuum`) in windows
        without long-running loads, or raise the TTL above the longest
        expected prepare."""
        import time

        removed = 0
        cutoff = time.time() - staging_ttl_s
        # every stat/remove tolerates a concurrent writer or GC deleting
        # the path between the listdir and the op — vacuum must finish
        # its sweep, not crash on the first raced entry
        for name in os.listdir(self.root):
            path = os.path.join(self.root, name)
            if name.startswith("_CURRENT.tmp-") and os.path.isfile(path):
                # pointer-hint debris: a writer that died between writing
                # the tmp hint and os.replace leaves these in the root
                # forever; same TTL discipline as the staging dirs
                try:
                    if os.path.getmtime(path) < cutoff:
                        os.remove(path)
                        removed += 1
                except OSError:
                    pass
                continue
            if name.startswith(".staging-") and os.path.isdir(path):
                try:
                    expired = os.path.getmtime(path) < cutoff
                except OSError:
                    continue
                if expired:
                    shutil.rmtree(path, ignore_errors=True)
                    removed += 1
        legacy = os.path.join(self.root, "_bloom")  # retired store, never read
        if os.path.isdir(legacy):
            shutil.rmtree(legacy, ignore_errors=True)
            removed += 1
        if os.path.isdir(self._mdir):
            for name in os.listdir(self._mdir):
                if name.startswith(".tmp-"):
                    path = os.path.join(self._mdir, name)
                    try:
                        if os.path.getmtime(path) < cutoff:
                            os.remove(path)
                            removed += 1
                    except OSError:
                        continue
        if self.current_version() >= 0 and os.path.isdir(self._data):
            # a live file's sidecar is live with it, and so is its DV
            live = {
                path for v in self.versions()
                for rel in self.snapshot(v).pool_rels()
                for path in _pool_paths(self._data, rel)
            }
            for dirpath, _dirs, names in os.walk(self._data):
                for n in names:
                    path = os.path.join(dirpath, n)
                    try:
                        if path not in live and os.path.getmtime(path) < cutoff:
                            os.remove(path)
                            removed += 1
                    except OSError:
                        continue
        return removed

    def _epoch_applied(self, epoch: str) -> bool:
        """True when the head entry's carried recent-epochs list holds
        this idempotence marker (survives log retention — see
        ``_attach_epochs``), or when any retained entry carries it as
        its own (pre-``eps`` entries). O(retained versions) small JSON
        reads, at-least-once replay detector for append/overwrite/fold
        callers."""
        vs = self.versions()
        if vs:
            try:
                if epoch in self._entry(vs[-1]).get("eps", ()):
                    return True
            except (OSError, json.JSONDecodeError):
                pass
        for v in vs:
            try:
                if self._entry(v).get("epoch") == epoch:
                    return True
            except (OSError, json.JSONDecodeError):
                continue
        return False

    def history(self) -> list[dict]:
        """Commit history of the retained window, oldest first — the
        ``DESCRIBE HISTORY`` analog. Pure metadata: reads log entries
        and file sizes, never data. Per version: entry type (ckpt /
        delta), files added/removed by the commit, live file count and
        bytes after it, whether the commit carried a metadata-only
        schema change (None for checkpoints, which always embed one),
        the entry file's publish mtime as the commit timestamp, and the
        writer's ``info`` record (None when the commit carried none)."""
        out: list[dict] = []
        for v in self.versions():
            try:
                e = self._entry(v)
                mtime = os.path.getmtime(self._manifest_path(v))
                # inside the try: a concurrent writer advancing the
                # retention floor can GC this version's (or its ckpt
                # chain's) entry between versions() and here — skip it
                # like any other unreadable version
                snap = self.snapshot(v)
            except (OSError, json.JSONDecodeError):
                continue
            if e["type"] == "delta":
                # a file re-added under a new DV is not a new file
                try:
                    before = self._snapshot_at(v - 1).files
                except (OSError, json.JSONDecodeError):
                    before = {}
                n_added = sum(1 for r in e.get("add", {}) if r not in before)
            else:
                # a checkpoint folds the full live set into `files`; the
                # commit's own additions are the delta vs the previous
                # snapshot (a CKPT_EVERY rollover on an append must not
                # report the whole table as 'added'). v=0 / truncating
                # overwrites genuinely add their full set; a GC'd
                # predecessor leaves the answer unknowable -> None.
                try:
                    prev = self.snapshot(v - 1) if v > 0 else None
                except (OSError, json.JSONDecodeError, FileNotFoundError):
                    prev = None
                if prev is None:
                    n_added = len(snap.files) if v == 0 else None
                else:
                    n_added = len(set(snap.files) - set(prev.files))
            total = 0
            for rel in snap.files:
                try:
                    total += os.path.getsize(self._abs(rel))
                except OSError:
                    pass
            out.append({
                "version": v,
                "type": e["type"],
                "n_added": n_added,
                "n_removed": len(e.get("remove", ())),
                "n_files": len(snap.files),
                "total_bytes": total,
                "schema_change": ("schema" in e) if e["type"] == "delta"
                else None,
                "data_change": e.get("dc", True),
                "op": e.get("op"),
                "committed_at": round(mtime, 3),
                "info": e.get("info"),
            })
        return out

    def count(self) -> int:
        return self.read().count()

    # -- store operations: restore / clone / change feed ---------------------
    def _copy_pool_files(self, src_root: str, pairs: list[tuple]) -> None:
        """Copy many (rel, new_rel) pool files from ``src_root`` into this
        table. Small diffs copy in a driver loop (no job overhead); past
        ``_COPY_FANOUT_MIN`` files the copies fan out over executors —
        per-file server-side COPYs are independent, and a driver-serial
        loop over 10^5-file restore/clone diffs would be the one O(files)
        *serial* path left in the store. Executors reach the same storage
        the driver does (shared FS locally; object store on a cluster)."""
        if len(pairs) < _COPY_FANOUT_MIN:
            for rel, new_rel in pairs:
                _copy_one_pool_file(src_root, self.root, rel, new_rel)
            return
        dst_root = self.root
        sc = self.spark.sparkContext
        n = min(len(pairs), sc.defaultParallelism * 2)
        sc.parallelize(pairs, n).foreach(
            lambda p: _copy_one_pool_file(src_root, dst_root, p[0], p[1])
        )

    def restore(self, version: int) -> int:
        """Roll the table back to a retained ``version`` as a NEW commit
        (the Delta ``RESTORE`` analog) and return the new version number.

        The reference's only recovery from a bad apply is ``etl --renew``
        — drop the ClickHouse table and re-run the full source load
        (/root/reference/synch/replication/etl.py:38-41, cli.py:40-46):
        O(table) source reads and inserts, plus an availability gap while
        the table is dropped. Here rollback is a log commit: files shared
        with the head version are untouched, files the head dropped come
        back via per-file copies under FRESH pool identities, and the
        restore itself stays time-travel-readable (it's just version
        N+1). Cost is O(diff files) metadata + copies, never a data
        rewrite or a source re-read, and readers never see a gap.

        Fresh identities (not re-adding the old rel) matter for GC
        correctness: ``_post_commit`` frees files named on a commit's
        remove-list when that commit expires. Re-adding a rel that a
        later entry already removed would let that deferred GC delete a
        file the restore made live again; a new identity can never be on
        an old remove-list. Stats ride along (same bytes); bloom
        sidecars are copied with their file, so point-lookup pruning
        survives a rollback. A DV is a pool file too: a file the target
        reads under a different DV than the head gets a fresh copy of
        the target's DV (or none), for the same GC reason."""
        cur_v = self.current_version()
        if cur_v < 0:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        target = self.snapshot(version)
        head = self.snapshot(cur_v)
        if target.version == head.version:
            return cur_v
        add: dict = {}
        pairs: list[tuple] = []
        for rel in sorted(target.files):
            old_dv = target.dv(rel)
            if rel in head.files:
                if head.dv(rel) == old_dv:
                    continue
                new_rel = rel
            else:
                d, name = os.path.split(rel)
                new_rel = f"{d}/" if d else ""
                new_rel += f"restore-{uuid.uuid4().hex[:12]}-{name}"
                pairs.append((rel, new_rel))
            stats = dict(target.files[rel] or {})
            stats.pop(dv.DV_KEY, None)
            if old_dv:
                stats[dv.DV_KEY] = dv.new_name(new_rel)
                pairs.append((old_dv, dv.dv_rel(new_rel, stats[dv.DV_KEY])))
            add[new_rel] = stats
        self._copy_pool_files(self.root, pairs)
        copied = [new_rel for _, new_rel in pairs]
        remove = sorted(r for r in head.files if r not in target.files)
        entry = self._make_entry(
            cur_v + 1, add, remove, head,
            schema_change=target.schema_raw,
            sschema=target.sschema,
            op="restore",
        )
        self._write_entry(entry, cleanup_rels=copied)
        return cur_v + 1

    def clone(self, dest_root: str, version: int | None = None,
              retain: int | None = None) -> "ParquetTable":
        """Copy a snapshot of this table (default: current version) into
        a NEW independent table at ``dest_root`` — the ``CREATE TABLE ...
        CLONE`` analog for dev/test forks and pre-migration backups.

        Per-file byte copies into the clone's own pool (object storage:
        one server-side COPY per object — no download, no decode; large
        file sets fan the copies out over executors), plus ONE
        checkpoint log entry carrying the source's
        per-file stats and schema documents. The clone is fully
        independent afterwards: source commits, retention GC, or vacuum
        never reach into it, and vice versa — which is exactly why the
        manifests don't share pool paths across roots. Bloom sidecars
        are copied too, so lookup pruning works on the clone without a
        rebuild. Cost: O(files) control-plane copies, zero data
        transformation; the clone starts at version 0 with the full
        retention window ahead of it."""
        snap = self.snapshot(version)
        # the clone lives on the same storage as the source, so it
        # inherits the commit primitive (a conditional-put source must
        # not silently produce a hard-link-committed clone)
        dest = ParquetTable(self.spark, dest_root,
                            retain=self.retain if retain is None else retain,
                            committer=self.committer)
        if dest.current_version() >= 0:
            raise FileExistsError(
                f"clone destination {dest_root} already has committed versions"
            )
        files: dict = {}
        for rel in sorted(snap.files):
            stats = snap.files[rel]
            files[rel] = dict(stats) if stats else {}
        dest._copy_pool_files(self.root,
                              [(r, r) for r in sorted(snap.pool_rels())])
        entry = dest._make_entry(
            0, files, [], None,
            schema_change=snap.schema_raw,
            sschema=snap.sschema,
            force_ckpt=True,
            op="clone",
        )
        dest._write_entry(entry, cleanup_rels=snap.pool_rels())
        return dest

    def changes(self, v_from: int, v_to: int | None = None,
                pk=None) -> DataFrame:
        """Row-level change feed between two retained versions (the Delta
        CDF / ``table_changes`` analog): what would a downstream consumer
        have to apply to go from ``v_from``'s state to ``v_to``'s
        (default: current)? Returns the changed rows plus a
        ``_change_type`` column: ``insert`` / ``delete`` and, with ``pk``
        given, ``update_preimage`` / ``update_postimage`` pairs.

        The reference is one-directional — it consumes a MySQL/PG change
        feed and applies it to ClickHouse, and anything DOWNSTREAM of
        ClickHouse re-scans the whole table. Here the stored table is
        itself a change SOURCE, so incremental consumers (materialized
        views, search/dedup index refresh, replication fan-out) read
        O(changed rows), not O(table).

        Scale design: the diff touches ONLY files added/removed between
        the two snapshots — pure log arithmetic picks them — so a 100 TB
        table with a 10 GB merge diff reads ~20 GB. A file's identity is
        (file, DV): a file whose DV changed is on both sides, the old
        side masked by ``v_from``'s DV and the new by ``v_to``'s. Rows
        carried over verbatim (same pk, same values — a re-masked file's
        surviving rows, a compaction's rewrite) cancel out: without ``pk`` via
        ``exceptAll`` multiset semantics, with ``pk`` via a null-safe
        image comparison after one full-outer join on the key (shuffles
        only the changed-file rows). Schema evolution between the two
        versions is aligned by name — columns added since ``v_from``
        read as NULL on the old image."""
        sto = self.snapshot(v_to)
        sfrom = self.snapshot(v_from)
        if sto.version < sfrom.version:
            raise ValueError(
                f"changes(): v_from={sfrom.version} is newer than "
                f"v_to={sto.version}"
            )
        try:
            relayout_only = all(
                self._entry(v).get("dc", True) is False
                for v in range(sfrom.version + 1, sto.version + 1)
            )
        except (OSError, json.JSONDecodeError):
            relayout_only = False
        if relayout_only:
            # every commit in the interval is a marked row-preserving
            # re-layout (compaction/Z-order): the feed is provably empty
            # — don't diff a full rewrite just to watch it cancel
            added: list[str] = []
            removed: list[str] = []
        else:
            def diff(a: Snapshot, b: Snapshot) -> list[str]:
                return sorted(r for r in a.files
                              if r not in b.files or a.dv(r) != b.dv(r))

            added, removed = diff(sto, sfrom), diff(sfrom, sto)
        new_df = self._scan(added, sto, sto)
        # BOTH sides read through v_to's schema document: the feed is
        # expressed in the destination schema, and reconciled reads
        # resolve pre-DDL physical files against a newer doc by design.
        # v_from's doc would misalign images across a rename, so that no
        # carried-over row cancels. With no doc, v_to's schema is a full
        # rewrite's, which may narrow a column: old files read as v_from's.
        old_raw = self._scan(removed, sto if sto.schema_doc else sfrom, sfrom)
        cols = new_df.columns
        old_df = old_raw.select([
            F.col(c).alias(c) if c in old_raw.columns
            else F.lit(None).cast(new_df.schema[c].dataType).alias(c)
            for c in cols
        ])
        ct = "_change_type"
        if not pk:
            ins = new_df.exceptAll(old_df).withColumn(ct, F.lit("insert"))
            dels = old_df.exceptAll(new_df).withColumn(ct, F.lit("delete"))
            return ins.unionByName(dels)
        keys = [pk] if isinstance(pk, str) else list(pk)
        val_cols = [c for c in cols if c not in keys]
        if not val_cols:
            # key-only table: presence diff is the whole story
            ins = new_df.join(old_df, keys, "left_anti").withColumn(
                ct, F.lit("insert"))
            dels = old_df.join(new_df, keys, "left_anti").withColumn(
                ct, F.lit("delete"))
            return ins.unionByName(dels)
        n = new_df.select(*keys, F.struct(*val_cols).alias("_new"))
        o = old_df.select(*keys, F.struct(*val_cols).alias("_old"))
        j = n.join(o, keys, "full_outer")
        new_c, old_c = F.col("_new"), F.col("_old")
        upd = new_c.isNotNull() & old_c.isNotNull() & ~new_c.eqNullSafe(old_c)
        pre_lbl = (F.when(upd, F.lit("update_preimage"))
                   .when(new_c.isNull() & old_c.isNotNull(), F.lit("delete")))
        post_lbl = (F.when(upd, F.lit("update_postimage"))
                    .when(old_c.isNull() & new_c.isNotNull(), F.lit("insert")))
        # one pass over the join: each row yields 0 (carry-over),
        # 1 (insert/delete), or 2 (update pre+post) output rows
        images = F.array_compact(F.array(
            F.when(pre_lbl.isNotNull(),
                   F.struct(old_c.alias("img"), pre_lbl.alias(ct))),
            F.when(post_lbl.isNotNull(),
                   F.struct(new_c.alias("img"), post_lbl.alias(ct))),
        ))
        return (
            j.select(*keys, F.explode(images).alias("_e"))
            .select(*keys, F.col("_e.img.*"), F.col(f"_e.{ct}").alias(ct))
        )

    def changes_per_commit(self, v_from: int, v_to: int | None = None,
                           pk=None, skip_ops: tuple = ()) -> DataFrame:
        """``changes`` split per commit, each row stamped with the
        ``_commit_version`` that produced it — the shape an incremental
        consumer checkpoints against (apply commits in order, remember
        the last applied version). Every hop (v-1, v) diffs only that
        commit's own add/remove lists, so the total cost is the sum of
        the per-commit diffs, independent of table size. Commits marked
        row-preserving (``overwrite(data_change=False)`` — compaction,
        Z-order on merging engines) are skipped outright: diffing a full
        re-layout only to watch every row cancel would cost O(table)
        for an empty hop.

        ``skip_ops``: additionally skip commits whose recorded operation
        name is listed, for consumers that only need VIEW-level
        semantics. The one real case: a COLLAPSING engine's compaction
        is data-changing at the storage level (it folds ±sign rows, so
        it is NOT dc-marked), but the fold is engine-view-preserving —
        a replication chain that shipped the hop would push O(table)
        delete+reinsert churn downstream just to re-reach the same
        view. Pass ("optimize",) there; leave empty for consumers that
        mirror storage bytes."""
        sto_v = self.snapshot(v_to).version
        sfrom_v = self.snapshot(v_from).version
        if sfrom_v > sto_v:
            # same contract as changes(): a reversed range is a consumer
            # checkpoint bug (cursor ahead of the table) — surface it,
            # never return a well-formed empty feed that lets the cursor
            # advance past the corruption
            raise ValueError(
                f"changes_per_commit: v_from {sfrom_v} > v_to {sto_v}"
            )
        out = None
        for v in range(sfrom_v + 1, sto_v + 1):
            try:
                e = self._entry(v)
                if e.get("dc", True) is False:
                    continue
                if skip_ops and e.get("op") in skip_ops:
                    continue
            except (OSError, json.JSONDecodeError):
                pass
            d = self.changes(v - 1, v, pk=pk).withColumn(
                "_commit_version", F.lit(v).cast("long"))
            # allowMissingColumns: each hop speaks its own destination
            # schema, so a metadata-only ADD/RENAME mid-range leaves
            # earlier hops without the new column — null-fill, don't die
            out = d if out is None else out.unionByName(
                d, allowMissingColumns=True)
        if out is None:
            empty = self.changes(sto_v, sto_v, pk=pk)
            return empty.withColumn("_commit_version",
                                    F.lit(sto_v).cast("long"))
        return out

    def file_stats(self) -> dict:
        """Current-version layout health from the log + file sizes (no
        data read): file count, total/min/max/median file bytes, and
        partition count. The compaction trigger signal — many small
        files mean task-scheduling and footer overhead dominate scans;
        feed this into an 'optimize when median_bytes < target/4' policy
        instead of compacting on a timer."""
        import statistics

        if self.current_version() < 0:
            return {"files": 0, "partitions": 0, "total_bytes": 0}
        snap = self.snapshot()
        sizes, parts = [], set()
        for rel in snap.files:
            dirname = rel.rpartition("/")[0]
            if dirname:
                parts.add(dirname)
            try:
                sizes.append(os.path.getsize(self._abs(rel)))
            except OSError:
                continue
        if not sizes:
            return {"files": 0, "partitions": len(parts), "total_bytes": 0}
        return {
            "files": len(sizes),
            "partitions": len(parts),
            "total_bytes": sum(sizes),
            "min_bytes": min(sizes),
            "max_bytes": max(sizes),
            "median_bytes": int(statistics.median(sizes)),
        }
