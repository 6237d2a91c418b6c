"""Manifest-based table versioning: time travel / rollback without a
table format dependency (Iceberg-lite).

The 100 TB pattern: a "table" is a directory of immutable parquet
files plus a numbered JSON manifest per version listing the files that
are LIVE in that version. An append writes only the new files and a
new manifest referencing old + new; an overwrite writes a manifest
referencing only the new files (old files stay on disk for time
travel until a retention sweep). Reading any historical version is
just `spark.read.parquet(*files_of_that_manifest)` — no data is ever
copied or rewritten, so versioning cost is O(new data), not O(table).

Commit protocol: the manifest is written to a temp name and published
with a FAIL-ON-EXISTS primitive (os.link — atomic on POSIX, and unlike
os.rename it cannot clobber a manifest another writer just committed);
on conflict the writer retries with the next version number, so two
concurrent committers serialize as versions N and N+1 instead of the
second silently discarding the first. This requires a
HARDLINK-CAPABLE filesystem — some NFS/FUSE/overlay mounts reject
os.link outright; on those (and on object stores, which have no atomic
link at all) swap `_commit_manifest` for a metastore or
conditional-put commit, exactly the seam Iceberg/Delta delegate.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import socket
import threading

from pyspark.sql import DataFrame, SparkSession

from .tables import read_parquet

# writer identity must be unique across hosts (shared FS), processes AND
# threads — pid alone collides for same-driver threads and cross-host pids
_WRITER_SEQ = itertools.count()
_WRITER_LOCK = threading.Lock()


def _writer_token() -> str:
    with _WRITER_LOCK:
        seq = next(_WRITER_SEQ)
    return f"{socket.gethostname()}-{os.getpid()}-{threading.get_ident()}-{seq}"


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"manifest-v{version:06d}.json")


def list_versions(table_dir: str) -> list[int]:
    paths = glob.glob(os.path.join(table_dir, "manifest-v*.json"))
    return sorted(int(os.path.basename(p)[len("manifest-v"):-len(".json")]) for p in paths)


def _read_manifest(table_dir: str, version: int) -> list[str]:
    with open(_manifest_path(table_dir, version)) as f:
        return json.load(f)["files"]


def _commit_manifest(table_dir: str, version: int, files: list[str]) -> None:
    """Atomic publish: readers see either the old latest version or the
    new one, never a partial manifest. Raises ``FileExistsError`` when
    another writer already committed this version (os.link fails on an
    existing target where os.rename would silently clobber it)."""
    final = _manifest_path(table_dir, version)
    tmp = final + f".tmp.{_writer_token()}"
    with open(tmp, "w") as f:
        json.dump({"version": version, "files": sorted(files)}, f)
    try:
        os.link(tmp, final)
    finally:
        # suppress cleanup errors: an unlink failure here must never
        # mask the os.link FileExistsError that write_snapshot's
        # version-conflict retry loop depends on
        with contextlib.suppress(OSError):
            os.unlink(tmp)


def write_snapshot(df: DataFrame, table_dir: str, mode: str = "append") -> int:
    """Commit ``df`` as a new table version; returns the version number.

    ``mode="append"``: the new version is previous files + new files.
    ``mode="overwrite"``: the new version is the new files only (old
    versions stay readable — logical truncate, no deletion).

    Concurrency: the data files are written ONCE to a writer-unique txn
    directory; only the manifest commit retries on version conflict, so
    a lost race never orphans data or re-runs the Spark job. With
    ``mode="append"`` the retry re-reads the just-committed winner's
    manifest, so the loser's version includes BOTH writers' files.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    os.makedirs(table_dir, exist_ok=True)
    # writer-unique txn dir: version numbers can shift on commit retry,
    # so the data path must not encode the version; the token includes
    # host+pid+thread+sequence so concurrent writers never share a path
    data_dir = os.path.join(table_dir, "data", f"txn-{_writer_token()}")
    df.write.mode("errorifexists").parquet(data_dir)
    new_files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    while True:
        versions = list_versions(table_dir)
        version = (versions[-1] + 1) if versions else 0
        prev_files = (
            _read_manifest(table_dir, versions[-1]) if (versions and mode == "append") else []
        )
        try:
            _commit_manifest(table_dir, version, prev_files + new_files)
        except FileExistsError:
            continue  # another writer took this version; re-read and retry
        return version


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the table as of ``version`` (default: latest)."""
    versions = list_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshot manifests under {table_dir}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    files = _read_manifest(table_dir, v)
    if not files:
        raise ValueError(f"version {v} is empty")
    return read_parquet(spark, *files)
