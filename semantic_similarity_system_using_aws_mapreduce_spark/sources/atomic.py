"""Crash-safe replacement of a parquet directory — two protocols, one
call-site API.

``df.write.mode("overwrite")`` onto the path a table lives at is NOT
atomic: the committer deletes the old files before the new job
commits, so a crash mid-rewrite loses the table (and if the plan reads
the same path it is also a lineage cycle, historically papered over
here with a non-durable ``localCheckpoint``).  Compaction and
right-to-be-forgotten deletion both rewrite tables they just read.

Protocol 1 — ``rename`` (default; local FS / HDFS, where directory
rename is atomic): the classic temp-and-swap —

    1. write the new content to ``<path>.__tmp__``  (old table intact,
       and the writing plan may freely READ ``<path>`` — no cycle, no
       checkpoint needed);
    2. rename ``<path>``     -> ``<path>.__bak__``;
    3. rename ``<path>.__tmp__`` -> ``<path>``;
    4. delete the backup.

Every crash point leaves a recoverable state, and ``recover`` rolls it
forward or back deterministically:

    * crash in/before (1): old table still at ``path``; a stale
      ``__tmp__`` (no ``_SUCCESS``) is discarded;
    * crash between (2) and (3): ``path`` missing, ``__tmp__`` is a
      COMPLETE committed write (rename only happens after the write
      returned) — roll FORWARD by finishing the swap;
    * crash between (3) and (4): new table live; drop the backup.

Protocol 2 — ``manifest`` (object stores, where rename is a
non-atomic copy+delete): the versioned manifest-pointer indirection
the streaming bucketed index pioneered (streaming/documents.py
build_bucketed_sig_index), generalized.  The table's data lives in
immutable versioned directories ``<path>.__v<N>__``; a ONE-FILE
manifest ``<path>.__manifest__`` names the live version, and the only
"atomic" primitive the protocol needs is replacing that single small
file — ``os.replace`` locally, a single object PUT on S3/GCS (which
IS atomic: readers see the whole old or whole new object, never a
mix).  A replace:

    1. writes the new content to a FRESH version directory (attempt
       numbers only ever grow, so a crash-retry never overwrites the
       version the live manifest names);
    2. atomically swaps the manifest to point at it;
    3. GCs superseded/orphaned version directories (a crash here
       leaves garbage, never a wrong answer — the next replace
       re-collects it).

A crash before (2) leaves the manifest naming the previous intact
version (or, on first write, no manifest — the read falls back to a
legacy rename-mode directory at ``path`` if one exists, which is also
the migration path).  The manifest swaps only after the version write
returned, so it can never name a torn directory.

Both protocols assume a SINGLE WRITER per table (the streaming loop /
CLI invocation), same as any external-commit scheme short of a full
transaction log (Delta/Iceberg).  Mode selection: the
``SPARK_GRAFT_ATOMIC_MODE`` env var (``rename`` | ``manifest``) or the
explicit ``mode=`` kwarg; call sites are identical either way.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

_TMP, _BAK, _MANIFEST = ".__tmp__", ".__bak__", ".__manifest__"


def _mode(mode: str | None) -> str:
    m = mode or os.environ.get("SPARK_GRAFT_ATOMIC_MODE", "rename")
    if m not in ("rename", "manifest"):
        raise ValueError(f"unknown atomic mode {m!r} (rename|manifest)")
    return m


def _committed(d: str) -> bool:
    return os.path.isdir(d) and os.path.exists(os.path.join(d, "_SUCCESS"))


# ---------------------------------------------------------------- manifest

def _version_dirs(path: str) -> dict[int, str]:
    """Existing ``<path>.__v<N>__`` directories, committed or torn."""
    parent, base = os.path.split(os.path.abspath(path))
    pat = re.compile(re.escape(base) + r"\.__v(\d+)__$")
    out: dict[int, str] = {}
    if os.path.isdir(parent):
        for d in os.listdir(parent):
            m = pat.match(d)
            if m:
                out[int(m.group(1))] = os.path.join(parent, d)
    return out


def _live_version(path: str) -> int | None:
    mf = path + _MANIFEST
    if not os.path.isfile(mf):
        return None
    with open(mf) as f:
        return int(json.load(f)["version"])


def _manifest_recover(path: str) -> None:
    """GC garbage a crashed manifest-mode replace can leave: a stale
    manifest tmp and version directories the live manifest does not
    name (torn attempts, superseded versions an interrupted GC
    missed).  The live state itself never needs healing — that is the
    point of the pointer swap."""
    try:
        os.remove(path + _MANIFEST + ".tmp")
    except OSError:
        pass
    live = _live_version(path)
    for n, d in _version_dirs(path).items():
        if n != live:
            shutil.rmtree(d, ignore_errors=True)
    if live is not None and os.path.isdir(path):
        # legacy rename-mode directory superseded by a manifest write
        shutil.rmtree(path, ignore_errors=True)


def _manifest_replace(
    df: DataFrame, path: str, partition_by: list[str] | None
) -> None:
    versions = _version_dirs(path)
    n = max(versions) + 1 if versions else 0
    vdir = f"{path}.__v{n}__"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(vdir)
    # the atomic step: one small-file replace (a single PUT on an
    # object store) — swaps only after the version write returned, so
    # the manifest can never name a torn directory
    tmp = path + _MANIFEST + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"version": n}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path + _MANIFEST)
    # GC: superseded versions, orphaned attempts, and any legacy
    # rename-mode directory (the plan that produced df may have read
    # any of them — all writes are done by now)
    for m, d in _version_dirs(path).items():
        if m != n:
            shutil.rmtree(d, ignore_errors=True)
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)


# ------------------------------------------------------------------ rename

def recover(path: str, mode: str | None = None) -> None:
    """Roll an interrupted :func:`atomic_replace` forward (committed
    temp exists) or back (it does not), leaving ``path`` consistent.
    Idempotent; a no-op on a clean state.  In manifest mode this is
    garbage collection only — the pointer swap leaves no torn live
    state to heal — EXCEPT for a table with no manifest yet, which may
    be a legacy rename-mode table interrupted mid-swap before the
    mode was flipped: that state still gets the rename protocol's
    healing (harmless no-op for a pure-manifest table)."""
    if _mode(mode) == "manifest":
        _manifest_recover(path)
        if _live_version(path) is not None:
            return
        # fall through: legacy rename-mode state (or clean no-op)
    tmp, bak = path + _TMP, path + _BAK
    if os.path.isdir(path):
        # swap never started (stale tmp) or never finished cleanup (bak)
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(bak, ignore_errors=True)
        return
    if _committed(tmp):
        os.rename(tmp, path)  # roll forward: finish the swap
        shutil.rmtree(bak, ignore_errors=True)
    elif os.path.isdir(bak):
        shutil.rmtree(tmp, ignore_errors=True)
        os.rename(bak, path)  # roll back: restore the old table


def atomic_replace(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str | None = None,
) -> None:
    """Replace the parquet table at ``path`` with ``df``'s rows.
    ``df`` MAY read from the table it replaces — the write lands in a
    temp/versioned directory first, so there is no lineage cycle and
    no window in which a crash leaves neither the old nor the new
    table.  ``partition_by`` preserves a Hive-partitioned layout
    across the rewrite (a table whose other writers use
    ``partitionBy`` must not be rewritten flat — mixing root-level
    files with partition dirs breaks partition discovery)."""
    if _mode(mode) == "manifest":
        _manifest_replace(df, path, partition_by)
        return
    recover(path, mode="rename")
    tmp, bak = path + _TMP, path + _BAK
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    if os.path.isdir(path):
        os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak, ignore_errors=True)


def resolve_table_dir(
    path: str, mode: str | None = None, initialize: bool = True
) -> str:
    """The directory PARTITION-LEVEL writers of the table at ``path``
    should target — the composition point between the streaming
    tables' two write kinds: idempotent per-partition micro-batch
    appends (dynamic partition overwrite, safe under replay because
    the checkpoint re-delivers an uncommitted batch which rewrites its
    own partition) and full-table atomic rewrites (compaction, RTBF —
    :func:`atomic_replace`).

    In rename mode the table IS the bare directory.  In manifest mode
    the table is the manifest-named version directory: appends land
    INSIDE the live version (the version is not immutable — partition
    writes are their own idempotent replay unit, and only full
    rewrites mint a new version behind the pointer swap).  A table
    with no manifest yet keeps a legacy bare-path layout if one
    exists; otherwise the manifest is initialized to version 0 first
    (atomically — a crash mid-init leaves either no manifest or a
    manifest naming a not-yet-written v0, both readable states).
    Read-only callers pass ``initialize=False`` so listing a
    never-written table stays side-effect free."""
    if _mode(mode) != "manifest":
        recover(path, mode="rename")
        return path
    live = _live_version(path)
    if live is not None:
        return f"{path}.__v{live}__"
    # no manifest: a legacy rename-mode table may be mid-swap — heal
    # it BEFORE the existence check, or an interrupted legacy table
    # would be shadowed by a fresh empty v0
    recover(path, mode="rename")
    if os.path.isdir(path):  # legacy rename-mode layout, keep appending
        return path
    if not initialize:
        return f"{path}.__v0__"  # does not exist; callers listdir-guard
    tmp = path + _MANIFEST + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"version": 0}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path + _MANIFEST)
    return f"{path}.__v0__"


def _has_data_files(path: str) -> bool:
    for root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def live_table_dir(path: str, mode: str | None = None) -> str | None:
    """The directory holding the live data of the table at ``path``,
    after healing any interrupted swap (:func:`resolve_table_dir` with
    no side effect), or None if the table does not exist OR holds no
    data files -- a writer that committed zero rows (e.g. a micro-batch
    where every document failed the quality gate) leaves a directory
    with only a _SUCCESS marker, and spark.read.parquet on it raises
    UNABLE_TO_INFER_SCHEMA; treating it as absent keeps empty-so-far
    tables indistinguishable from never-written ones instead of
    wedging every subsequent read.

    In manifest mode that is the version the manifest names; a table
    with no manifest yet falls back to a legacy rename-mode directory
    at ``path`` (the migration path: flipping the mode keeps every
    existing table readable, and the first manifest replace supersedes
    the legacy directory)."""
    d = resolve_table_dir(path, mode, initialize=False)
    if not os.path.isdir(d) or not _has_data_files(d):
        return None
    return d


def read_parquet_recovering(
    spark: SparkSession, path: str, mode: str | None = None
) -> DataFrame | None:
    """Read a table maintained by :func:`atomic_replace` from its
    :func:`live_table_dir`, or None if it has no data.  The schema is
    inferred from the footers, one Spark job per read: a reader that
    knows the writer's schema reads the live directory with it
    instead."""
    d = live_table_dir(path, mode)
    return None if d is None else spark.read.parquet(d)
