"""Filesystem housekeeping (SURVEY.md P6 second half + S8 physical
MERGE): the 30-day retention job mirroring the reference's
``run_cleanup`` (/root/reference/src/main_01.py:1378-1400), the
explicit path-existence probe, and the partitioned upsert's UPDATE
path (the branch whose absence of a test ADVICE.md flagged — its old
``except Exception`` fallback could silently drop target rows).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tms_etl_spark.operators.merge import upsert_partitioned
from tms_etl_spark.sources.fs import (
    _fs,
    expire_files,
    list_dirs,
    list_files,
    path_exists,
    total_size,
)

DAY_MS = 86_400_000


def _touch(path, age_days: float, now_ms: int, body: str = "x") -> None:
    path.write_text(body, encoding="utf-8")
    ts = (now_ms - age_days * DAY_MS) / 1000.0
    os.utime(path, (ts, ts))


def test_expire_files_30_day_window(spark, tmp_path):
    """Files older than the retention window are deleted; younger ones
    and non-matching extensions survive (reference: rglob('*.csv'),
    mtime < now-30d -> unlink)."""
    now_ms = 1_700_000_000_000
    root = tmp_path / "lake"
    (root / "2024-01" / "daily").mkdir(parents=True)
    (root / "2024-02" / "daily").mkdir(parents=True)
    old1 = root / "2024-01" / "daily" / "old1.csv"
    old2 = root / "2024-01" / "daily" / "old2.csv"
    young = root / "2024-02" / "daily" / "young.csv"
    other = root / "2024-01" / "daily" / "keep.parquet"
    _touch(old1, 45, now_ms, "a" * 10)
    _touch(old2, 30.5, now_ms, "b" * 20)
    _touch(young, 5, now_ms)
    _touch(other, 90, now_ms)  # wrong extension: never touched

    rep = expire_files(spark, str(root), max_age_days=30, now_ms=now_ms)
    assert rep.examined == 3  # only *.csv examined
    assert rep.deleted == 2
    assert rep.freed_bytes == 30
    assert not old1.exists() and not old2.exists()
    assert young.exists() and other.exists()


def test_expire_files_dry_run(spark, tmp_path):
    now_ms = 1_700_000_000_000
    root = tmp_path / "lake"
    root.mkdir()
    old = root / "old.csv"
    _touch(old, 60, now_ms)
    rep = expire_files(spark, str(root), max_age_days=30, now_ms=now_ms, dry_run=True)
    assert rep.deleted == 1 and old.exists()  # reported, not deleted
    assert rep.deleted_paths and rep.deleted_paths[0].endswith("old.csv")


def test_expire_files_missing_root(spark, tmp_path):
    rep = expire_files(spark, str(tmp_path / "nope"), max_age_days=30)
    assert rep.examined == 0 and rep.deleted == 0


def test_path_exists_and_listing(spark, tmp_path):
    assert not path_exists(spark, str(tmp_path / "absent"))
    d = tmp_path / "t"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"1234")
    (d / "_SUCCESS").write_bytes(b"")
    assert path_exists(spark, str(d))
    assert total_size(spark, str(d), pattern="*.parquet") == 4
    names = {os.path.basename(f.path) for f in list_files(spark, str(d))}
    assert names == {"a.parquet", "_SUCCESS"}


def test_local_listing_matches_hadoop(spark, tmp_path):
    """The stdlib branch of `list_files` / `list_dirs` gives Hadoop's
    answer on a local table: the same ``file:`` paths, sizes and
    millisecond mtimes as Hadoop's own recursive ``listFiles``, no
    checksum files, the same byte total (optimize sizes its rewrite
    from it) and the same child dirs as ``listStatus``."""
    from tms_etl_spark.operators.versioned import write_version

    tdir = str(tmp_path / "vt")
    df = spark.range(0, 40).select(
        F.col("id"), (F.col("id") % 3).alias("part")
    )
    write_version(df.repartition(2), tdir, "append", partition_by=["part"])
    (version_dir,) = list_dirs(spark, f"{tdir}/data")

    fs, hroot, _ = _fs(spark, version_dir.path)
    hadoop = set()
    it = fs.listFiles(hroot, True)
    while it.hasNext():
        st = it.next()
        hadoop.add(
            (st.getPath().toString(), st.getLen(), st.getModificationTime())
        )
    listed = list_files(None, version_dir.path)
    assert {(f.path, f.size, f.mtime_ms) for f in listed} == hadoop
    assert any(name.endswith(".crc") for name in os.listdir(
        version_dir.path.removeprefix("file:")
    ))
    assert not any(f.path.endswith(".crc") for f in listed)
    assert total_size(None, version_dir.path) == sum(s for _, s, _ in hadoop)

    hadoop_dirs = {
        (st.getPath().toString(), st.getModificationTime())
        for st in fs.listStatus(hroot)
        if st.isDirectory()
    }
    assert len(hadoop_dirs) == 3  # part=0, part=1, part=2
    assert {
        (d.path, d.mtime_ms) for d in list_dirs(None, version_dir.path)
    } == hadoop_dirs
    assert list_files(None, str(tmp_path / "absent")) == []
    assert list_dirs(None, str(tmp_path / "absent")) == []


class _Session:
    """Just enough of a SparkSession for `_local` to read a Hadoop
    conf's ``fs.defaultFS``."""

    def __init__(self, default_fs: str):
        conf = type("Conf", (), {"get": lambda _s, k, d: default_fs})()
        self._jsc = type("Jsc", (), {"hadoopConfiguration": lambda _s: conf})()


def test_schemeless_path_follows_default_fs(tmp_path, monkeypatch):
    """Hadoop resolves a path with no scheme against ``fs.defaultFS``,
    so under an HDFS default the probes and listings must ask Hadoop:
    answered from the driver's disk, an existing HDFS table would read
    as absent and a merge writer's first-write branch overwrite it."""
    import tms_etl_spark.sources.fs as fs_mod

    calls = []

    class _HadoopFs:
        def exists(self, p):
            calls.append("exists")
            return True

        def listFiles(self, p, recursive):
            calls.append("listFiles")
            return type("It", (), {"hasNext": lambda _s: False})()

        def listStatus(self, p):
            calls.append("listStatus")
            return []

    monkeypatch.setattr(fs_mod, "_fs", lambda spark, p: (_HadoopFs(), p, None))
    path = str(tmp_path / "absent")  # no such dir on the local disk
    hdfs = _Session("hdfs://namenode:8020")
    assert fs_mod._local(path, hdfs) is None
    assert path_exists(hdfs, path)  # Hadoop's answer, not the disk's
    assert list_files(hdfs, path) == []
    assert list_dirs(hdfs, path) == []
    assert calls == ["exists", "exists", "listFiles", "exists", "listStatus"]

    # a file: default, no session, or a file: path stay on the stdlib
    local = _Session("file:///")
    assert fs_mod._local(path, local) == path
    assert fs_mod._local(path) == path
    assert fs_mod._local(f"file:{path}", hdfs) == path
    assert not path_exists(local, path)
    assert calls == ["exists", "exists", "listFiles", "exists", "listStatus"]


def test_upsert_partitioned_update_path(spark, tmp_path):
    """Second write MERGES with the existing table: colliding keys are
    updated, new keys inserted, untouched partitions left intact."""
    target = str(tmp_path / "fact")
    first = spark.createDataFrame(
        [("k1", "2024-01", 10), ("k2", "2024-01", 20), ("k3", "2024-02", 30)],
        "k: string, month: string, v: int",
    )
    upsert_partitioned(target, first, keys=["k"], partition_col="month")

    batch = spark.createDataFrame(
        [("k1", "2024-01", 99), ("k9", "2024-01", 90)],
        "k: string, month: string, v: int",
    )
    upsert_partitioned(target, batch, keys=["k"], partition_col="month")

    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {"k1": 99, "k2": 20, "k9": 90, "k3": 30}
    # the untouched 2024-02 partition was not rewritten away
    assert path_exists(spark, f"{target}/month=2024-02")


def test_replace_dir_swaps_and_clears_stale_backup(spark, tmp_path):
    """replace_dir keeps the final path continuously present (backup
    rename, not delete-then-rename) and clears a leftover backup from
    a previously crashed swap."""
    from tms_etl_spark.sources.fs import replace_dir

    final = tmp_path / "table"
    staged = tmp_path / "table.staged"
    stale = tmp_path / "table.__replacing__"
    final.mkdir()
    (final / "old.parquet").write_bytes(b"old")
    staged.mkdir()
    (staged / "new.parquet").write_bytes(b"new")
    stale.mkdir()  # simulates a crash between backup and cleanup
    (stale / "zombie.parquet").write_bytes(b"z")

    replace_dir(spark, str(staged), str(final))
    assert (final / "new.parquet").read_bytes() == b"new"
    assert not staged.exists()
    assert not stale.exists()  # backup cleaned up after the swap


def test_replace_dir_into_absent_final(spark, tmp_path):
    from tms_etl_spark.sources.fs import replace_dir

    staged = tmp_path / "s"
    staged.mkdir()
    (staged / "a.parquet").write_bytes(b"a")
    replace_dir(spark, str(staged), str(tmp_path / "t"))
    assert (tmp_path / "t" / "a.parquet").read_bytes() == b"a"
