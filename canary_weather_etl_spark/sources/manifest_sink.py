"""Manifest-committed JSONL sink — Spark 4 Python DataSource WRITERS
(batch + streaming), completing the DataSource surface next to the
distributed reader (sources/weather_datasource.py).

The reference lands raw payloads as individual object-store keys with no
commit protocol (README.md raw-zone sink): a consumer listing the bucket
mid-batch sees a torn write. This sink adds the minimal atomic-commit
layer every table format builds on:

- executors write task files with UNIQUE names (no renames, safe on
  object stores where rename is copy+delete) and return a commit message
  (file, row count, byte count) per task;
- commits run on the DRIVER only after every task succeeded and publish
  `_MANIFEST.json` — the manifest IS the table state. One schema for
  every writer: ``{"batches": {key: [entries]}, "files": flat,
  "total_rows": n, "version": v}``, where batch jobs commit under a
  unique job key and streaming commits under the micro-batch id (which
  makes replayed-batch commits idempotent: the replay REPLACES its batch
  entry, never double-counts). The clean weather table
  (sources/weather.py) keys its entries, of the same shape, by partition
  path and adds its ``schema``. Every writer commits through one
  routine, `_commit_manifest`; no other module takes the lock, publishes
  a state or deletes files;
- the manifest is published with write-to-tmp + fsync + `os.replace`
  (each publish bumps ``version``), so a reader sees the old or the new
  state, never a mix, and a power loss keeps one of the two;
- `abort()` deletes whatever partial task files reported in; superseded
  files (overwrite, replaced stream batches) are deleted AFTER the new
  manifest lands, so no reader window observes missing live files;
- readers go through `read_manifest_jsonl`, which reads ONLY
  manifest-listed files — orphans from failed/aborted jobs are
  invisible (and `vacuum_manifest_dir` reclaims them).

Single-writer contract: commits are read-modify-write of the manifest,
serialized by an `O_EXCL` lock file — a SECOND concurrent committer
fails loudly (`ConcurrentWriteError`) instead of silently losing the
first one's files, which is the honest ceiling on plain storage (real
CAS/locking is what table-format catalogs add). A crashed committer
leaves the lock behind; `vacuum_manifest_dir(force_unlock=True)` clears
it in a maintenance window.

At 100 TB the manifest stays tiny (one entry per task file) and every
commit is one driver-side write.

DEPLOYMENT NOTE — this implementation is local-filesystem only: executors
``open()`` part files and the driver uses ``os.replace``/``os.listdir``,
so driver, executors, and readers must share one POSIX filesystem (true
on local[k] and on clusters with a shared mount; NOT true on plain
object stores). The same holds for the clean weather table, whose
executors write their Parquet files with pyarrow straight into the
table's partition directories, at a path the driver shares. The
PROTOCOL (unique task files, driver-published manifest, lock-serialized
read-modify-write commits) is the part that transfers to object
storage; porting it means swapping the four filesystem touchpoints
(part-file open, manifest read/replace, list, delete) for store calls
and replacing the O_EXCL lock with the store's conditional-put/CAS. The
docstring's object-store framing describes the protocol's design
target, not this module's deployment surface.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ._datasource_compat import (HAS_DATASOURCE_API, DataSource,  # noqa: F401
                                 DataSourceStreamWriter, DataSourceWriter,
                                 WriterCommitMessage)

_MANIFEST = "_MANIFEST.json"
_LOCK = "_MANIFEST.lock"


class ConcurrentWriteError(RuntimeError):
    pass


@dataclass
class _FileCommit(WriterCommitMessage):
    filename: str
    n_rows: int
    n_bytes: int


# --- shared manifest state helpers (one implementation for both writers) ----

def _load_state(path: str) -> dict:
    manifest_path = os.path.join(path, _MANIFEST)
    if not os.path.exists(manifest_path):
        return {"batches": {}}
    with open(manifest_path, encoding="utf-8") as f:
        return json.load(f)


def _committed_state(path: str) -> dict:
    """The manifest a commit published at ``path``; FileNotFoundError
    where none was (a state never published has no ``files``)."""
    state = _load_state(path)
    if "files" not in state:
        raise FileNotFoundError(f"{path} has no committed {_MANIFEST}")
    return state


def _publish_state(path: str, state: dict) -> None:
    """Publish ``state`` as the next manifest version, durably: the temp
    file is synced before the rename and the directory after it, so a
    power loss keeps the old manifest or the new one."""
    state["files"] = [e for entries in state["batches"].values()
                      for e in entries]
    state["total_rows"] = sum(e["rows"] for e in state["files"])
    state["version"] = state.get("version", 0) + 1
    manifest_path = os.path.join(path, _MANIFEST)
    tmp = manifest_path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(state, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, manifest_path)  # atomic: old list or new, never a mix
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _remove_files(path: str, names) -> None:
    for name in names:
        try:
            os.remove(os.path.join(path, name))
        except OSError:
            pass


def _split_messages(path: str, messages):
    """(entries for data-bearing files, zero-row files removed eagerly)."""
    entries = [{"file": m.filename, "rows": m.n_rows, "bytes": m.n_bytes}
               for m in messages if m is not None and m.n_rows > 0]
    _remove_files(path, [m.filename for m in messages
                         if m is not None and m.n_rows == 0])
    return entries


class _manifest_lock:
    """O_EXCL lock file: turns a concurrent commit into a loud error
    instead of a silent lost update."""

    def __init__(self, path: str):
        self.lock_path = os.path.join(path, _LOCK)

    def __enter__(self):
        try:
            fd = os.open(self.lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)
        except FileExistsError:
            raise ConcurrentWriteError(
                f"another commit holds {self.lock_path}; if its writer "
                "crashed, clear with vacuum_manifest_dir(force_unlock=True)")
        return self

    def __exit__(self, *exc):
        try:
            os.remove(self.lock_path)
        except OSError:
            pass
        return False


def _commit_manifest(path: str, entries: dict[str, list[dict]], mode: str,
                     version: int | None, schema: dict | None) -> None:
    """The one commit routine of every writer: the sink's batch and
    stream writers and the clean weather table (sources/weather.py).

    1. Under the lock, load the state; with ``version``, check that the
       manifest is still at the version the writer read.
    2. Apply ``entries`` (file entries by key): ``mode`` "add" appends
       them to their keys' entries, "replace" replaces their keys'
       entries, "truncate" replaces the whole state. Record ``schema``
       when given.
    3. Publish, then delete the superseded files (AFTER the publish, so
       no reader window observes missing live files).

    A `ConcurrentWriteError` (the lock is held, or the manifest moved
    past ``version``) removes the files of ``entries``, which no manifest
    lists, and propagates."""
    try:
        with _manifest_lock(path):
            state = _load_state(path)
            now = state.get("version", 0)
            if version is not None and now != version:
                raise ConcurrentWriteError(
                    f"{path} moved from version {version} to {now} "
                    "while this write ran")
            batches, superseded = state["batches"], []
            if mode == "truncate":
                superseded = [e["file"] for old in batches.values()
                              for e in old]
                batches.clear()
            for key, new in entries.items():
                old = batches.get(key, [])
                if mode == "add":
                    new = old + new
                else:
                    superseded += [e["file"] for e in old]
                batches[key] = new
            if schema is not None:
                state["schema"] = schema
            _publish_state(path, state)
    except ConcurrentWriteError:
        _remove_files(path, [e["file"] for new in entries.values()
                             for e in new])
        raise
    _remove_files(path, superseded)


# --- batch writer ------------------------------------------------------------

class ManifestJsonlWriter(DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("manifest_jsonl requires a path "
                             "(df.write.format('manifest_jsonl').save(path))")
        self.overwrite = overwrite

    # executor side — one call per task
    def write(self, iterator) -> _FileCommit:
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.jsonl"
        full = os.path.join(self.path, name)
        n = 0
        with open(full, "w", encoding="utf-8") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict(recursive=True), default=str,
                                   ensure_ascii=False) + "\n")
                n += 1
        return _FileCommit(filename=name, n_rows=n,
                           n_bytes=os.path.getsize(full))

    # driver side — only after all tasks succeeded
    def commit(self, messages) -> None:
        entries = _split_messages(self.path, messages)
        _commit_manifest(self.path, {f"job-{uuid.uuid4().hex}": entries},
                         "truncate" if self.overwrite else "add", None, None)

    def abort(self, messages) -> None:
        _remove_files(self.path, [m.filename for m in messages
                                  if m is not None])


# --- streaming writer --------------------------------------------------------

class ManifestJsonlStreamWriter(DataSourceStreamWriter):
    """Streaming twin: commits keyed by micro-batch id. Exactly-once
    composes from three pieces: abort() removes a failed batch's partial
    files, a REPLAYED commit of the same batchId replaces its previous
    entry (never double-counts), and `overwrite=True` (complete/truncate
    output modes, where each micro-batch carries the FULL result) makes
    every commit truncate the prior state instead of accumulating
    snapshots."""

    def __init__(self, options: dict, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("manifest_jsonl stream sink requires a path")
        self.overwrite = overwrite

    def write(self, iterator) -> _FileCommit:
        return ManifestJsonlWriter({"path": self.path}, False).write(iterator)

    def commit(self, messages, batchId: int) -> None:
        entries = _split_messages(self.path, messages)
        _commit_manifest(self.path, {str(batchId): entries},
                         "truncate" if self.overwrite else "replace", None,
                         None)

    def abort(self, messages, batchId: int) -> None:
        _remove_files(self.path, [m.filename for m in messages
                                  if m is not None])


class ManifestJsonlSink(DataSource):
    @classmethod
    def name(cls) -> str:
        return "manifest_jsonl"

    def writer(self, schema, overwrite: bool):
        return ManifestJsonlWriter(dict(self.options), overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return ManifestJsonlStreamWriter(dict(self.options), overwrite)


# --- reader + maintenance ----------------------------------------------------

def read_manifest_jsonl(spark: SparkSession, path: str,
                        schema: str | None = None) -> DataFrame:
    """Read ONLY the manifest-listed files: orphan part files from failed
    or in-flight jobs are invisible, which is the whole point. A
    legitimately-empty committed dataset reads as an empty frame (schema
    required then — there are no files to infer from)."""
    files = [os.path.join(path, e["file"])
             for e in _committed_state(path)["files"]]
    if not files:
        if schema is None:
            raise ValueError(
                f"empty committed dataset at {path}: pass a schema to read "
                "it as an empty frame (nothing exists to infer from)")
        return spark.createDataFrame([], schema)
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    return reader.json(files)


def vacuum_manifest_dir(path: str, force_unlock: bool = False) -> list[str]:
    """Delete data files NOT referenced by the manifest — the VACUUM
    complement to manifest isolation: orphans from crashed jobs are
    already invisible to readers, this reclaims their storage. Data files
    are the ``part-*`` files at any depth (the sink's JSONL files, the
    clean table's partitioned Parquet files, sources/weather.py);
    directories left empty go too.

    The scan+delete runs UNDER the commit lock, so vacuum cannot race a
    concurrent committer: a job that is mid-commit holds the lock while
    it publishes its manifest entry, and a job that has written part
    files but not yet reached commit() will fail its commit loudly
    (ConcurrentWriteError) rather than have a reader observe its files —
    but those not-yet-committed files WOULD look like orphans here, so
    the maintenance-window convention still applies to in-flight jobs
    that haven't started committing (same retention caveat as
    table-format VACUUM). force_unlock=True clears a stale commit lock
    left by a crashed writer FIRST (otherwise a dead lock makes vacuum
    fail like any other writer). Returns the deleted files' paths,
    relative to ``path``."""
    if force_unlock:
        _remove_files(path, [_LOCK])
    with _manifest_lock(path):
        live = {e["file"] for e in _committed_state(path)["files"]}
        deleted = []
        for dirpath, _dirs, files in os.walk(path, topdown=False):
            rel_dir = os.path.relpath(dirpath, path)
            for name in files:
                rel = os.path.normpath(os.path.join(rel_dir, name))
                if name.startswith("part-") and rel not in live:
                    os.remove(os.path.join(dirpath, name))
                    deleted.append(rel)
            if dirpath != path and not os.listdir(dirpath):
                os.rmdir(dirpath)
    return sorted(deleted)
