"""Filesystem housekeeping — the one module that decides how a path
is listed or probed. A LOCAL path (`_local`: scheme 'file', or no
scheme where Hadoop would resolve it locally too) goes through the
stdlib: no py4j round trip, no session needed (the Python Data Source
runners have none), and Hadoop's answer spelled Hadoop's way
(``file:`` paths, millisecond mtimes, ``.*.crc`` checksum files
hidden). Every other path (HDFS/S3A/ABFS — where the lake lives at
100 TB — and a scheme-less path under a non-local ``fs.defaultFS``)
goes through ``org.apache.hadoop.fs.FileSystem`` via the session JVM;
elsewhere `_fs` serves only mutations and remote manifest I/O.

Operators:

- ``path_exists`` — the *narrow* existence probe the MERGE writers use
  instead of ``try: read / except Exception`` (a transient read error
  must NOT be mistaken for "table absent": that turns the first-write
  overwrite branch into data loss).
- ``list_files`` / ``total_size`` / ``list_dirs`` — driver-side
  listing metadata (file count, bytes, mtimes; child dirs). Listing
  is O(files), not O(rows); sizing a compaction from it avoids a full
  data pass.
- ``expire_files`` — the reference's 30-day cleanup job (SURVEY.md P6
  second half): delete lake files whose modification time is older
  than the retention window, mirroring
  /root/reference/src/main_01.py:1378-1400 (``run_cleanup``:
  ``rglob("*.csv")``, mtime < now-30d → unlink, count deleted).
"""

from __future__ import annotations

import fnmatch
import os
import posixpath
from dataclasses import dataclass, field
from urllib.parse import urlparse

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


# {id(jsc): (jsc, whether its fs.defaultFS is local)} — see _local
_DEFAULT_FS_LOCAL: dict[int, tuple[object, bool]] = {}


def _default_fs_local(spark: SparkSession) -> bool:
    """Whether ``spark``'s Hadoop conf resolves a scheme-less path to
    the local filesystem (``fs.defaultFS`` is ``file:``). Read once
    per SparkContext, like the warehouse path Spark qualifies at
    startup: a default FS swapped on a live context is not seen."""
    jsc = spark._jsc
    hit = _DEFAULT_FS_LOCAL.get(id(jsc))
    if hit is None or hit[0] is not jsc:
        default = jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
        hit = (jsc, urlparse(default).scheme == "file")
        _DEFAULT_FS_LOCAL[id(jsc)] = hit
    return hit[1]


def _local(path: str, spark: SparkSession | None = None) -> str | None:
    """The OS path of ``path`` when Hadoop would resolve it to the
    local filesystem, None otherwise — the one local/remote switch:
    every listing, probe, manifest read and commit of a local path
    takes the stdlib branch, every other path Hadoop's. Scheme 'file'
    is local; no scheme is local with no session (the Data Source
    runners, which only see local tables) or when the session's
    ``fs.defaultFS`` is ``file:`` — on a cluster whose default FS is
    HDFS, ``/lake/t`` names an HDFS dir, never the driver's disk."""
    parsed = urlparse(path)
    if parsed.scheme == "file":
        return parsed.path
    if parsed.scheme == "" and (spark is None or _default_fs_local(spark)):
        return path
    return None


def path_exists(spark: SparkSession | None, path: str) -> bool:
    """True iff ``path`` exists on its filesystem. An explicit probe —
    unlike catching ``Exception`` around a read, a transport error
    here surfaces instead of masquerading as 'no table'."""
    local = _local(path, spark)
    if local is not None:
        return os.path.exists(local)
    fs, hpath, _ = _fs(spark, path)
    return bool(fs.exists(hpath))


@dataclass
class FileInfo:
    path: str
    size: int
    mtime_ms: int


def _local_info(path: str) -> FileInfo | None:
    """Hadoop's status of local ``path`` (absolute), or None when it
    vanished since it was listed (a racing writer's lock or tmp)."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    # Java reports whole milliseconds, truncated
    return FileInfo(f"file:{path}", st.st_size, st.st_mtime_ns // 1_000_000)


def _walk_error(err: OSError) -> None:
    # a dir gone before it was read lists as empty (as a vanished file
    # is skipped); any other error raises, as Hadoop's listing does
    if not isinstance(err, FileNotFoundError):
        raise err


def list_files(
    spark: SparkSession | None, root: str, pattern: str | None = None
) -> list[FileInfo]:
    """Recursive file listing under ``root`` ([] when it does not
    exist). Spark metadata like ``_SUCCESS`` is listed — filter via
    ``pattern`` (e.g. ``*.parquet`` / ``*.csv``, matched on the file
    name) if unwanted; checksum files never are."""
    local = _local(root, spark)
    if local is not None:
        top = os.path.abspath(local)
        paths = [top] if os.path.isfile(top) else [
            os.path.join(d, f)
            for d, _dirnames, files in os.walk(top, onerror=_walk_error)
            for f in files
            if not (f.startswith(".") and f.endswith(".crc"))
        ]
        return [
            info
            for p in paths
            if (pattern is None or fnmatch.fnmatch(posixpath.basename(p), pattern))
            and (info := _local_info(p)) is not None
        ]
    fs, hpath, _ = _fs(spark, root)
    if not fs.exists(hpath):
        return []
    out: list[FileInfo] = []
    it = fs.listFiles(hpath, True)  # recursive
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        if pattern is not None and not fnmatch.fnmatch(
            posixpath.basename(p), pattern
        ):
            continue
        out.append(
            FileInfo(path=p, size=int(st.getLen()), mtime_ms=int(st.getModificationTime()))
        )
    return out


def list_dirs(spark: SparkSession | None, root: str) -> list[FileInfo]:
    """The immediate sub-directories of ``root`` with their mtimes
    ([] when it does not exist)."""
    local = _local(root, spark)
    if local is not None:
        try:
            with os.scandir(os.path.abspath(local)) as it:
                subdirs = [e.path for e in it if e.is_dir()]
        except (FileNotFoundError, NotADirectoryError):
            return []
        return [i for p in subdirs if (i := _local_info(p)) is not None]
    fs, hpath, _ = _fs(spark, root)
    if not fs.exists(hpath):
        return []
    return [
        FileInfo(
            st.getPath().toString(),
            int(st.getLen()),
            int(st.getModificationTime()),
        )
        for st in fs.listStatus(hpath)
        if st.isDirectory()
    ]


def total_size(spark: SparkSession | None, root: str, pattern: str | None = None) -> int:
    """Total bytes under ``root`` from listing metadata (no data read)."""
    return sum(f.size for f in list_files(spark, root, pattern))


def replace_dir(spark: SparkSession, staged: str, final: str) -> None:
    """Swap ``staged`` into place at ``final`` (delete + rename).

    On HDFS/local this is a cheap metadata rename; on object stores a
    real deployment wants a manifest/table-format commit instead —
    this helper is the portable fallback, and keeps the swap logic in
    one place rather than ``shutil`` calls sprinkled per-operator.
    """
    fs, final_p, jvm = _fs(spark, final)
    staged_p = jvm.org.apache.hadoop.fs.Path(staged)
    # Rename the current table aside BEFORE the swap so the final path
    # is never absent: merge writers probe path_exists to pick the
    # first-write branch, and a crash in a delete-then-rename window
    # would make them silently abandon the staged data. Order here is
    # rename-aside → rename-into-place → delete backup.
    backup_p = jvm.org.apache.hadoop.fs.Path(final + ".__replacing__")
    had_final = fs.exists(final_p)
    if had_final:
        if fs.exists(backup_p):  # leftover from a prior crash
            fs.delete(backup_p, True)
        if not fs.rename(final_p, backup_p):
            raise IOError(f"backup rename {final} failed")
    try:
        if not fs.rename(staged_p, final_p):
            raise IOError(f"rename {staged} -> {final} failed")
    except Exception:
        if had_final:  # restore the original so the table never vanishes
            fs.rename(backup_p, final_p)
        raise
    if had_final:
        fs.delete(backup_p, True)


@dataclass
class ExpireReport:
    examined: int = 0
    deleted: int = 0
    freed_bytes: int = 0
    deleted_paths: list[str] = field(default_factory=list)


def expire_files(
    spark: SparkSession,
    root: str,
    max_age_days: float = 30.0,
    now_ms: int | None = None,
    pattern: str = "*.csv",
    dry_run: bool = False,
) -> ExpireReport:
    """Retention job (P6): delete files under ``root`` older than
    ``max_age_days``, matching the reference's cleanup
    (/root/reference/src/main_01.py:1378-1400 — 30-day cutoff on file
    mtime over ``rglob("*.csv")``).

    Driver-side on purpose: retention is a metadata operation
    (listing + deletes), O(#files) not O(bytes) — at 100 TB the
    listing is the cost, and Hadoop's recursive ``listFiles`` streams
    it. ``now_ms=None`` uses the current wall clock; tests inject a
    fixed clock. ``dry_run`` reports without deleting.
    """
    import time

    cutoff = (time.time() * 1000 if now_ms is None else now_ms) - max_age_days * 86_400_000
    fs, _, jvm = _fs(spark, root)
    report = ExpireReport()
    for f in list_files(spark, root, pattern):
        report.examined += 1
        if f.mtime_ms < cutoff:
            if not dry_run:
                fs.delete(jvm.org.apache.hadoop.fs.Path(f.path), False)
            report.deleted += 1
            report.freed_bytes += f.size
            report.deleted_paths.append(f.path)
    return report
