"""The one file-index protocol (`operators/fileindex.py`): sidecar rows
keyed by the manifest's relative paths, one hash domain across type
widenings, one trust rule (published, newest at or before the read
version, covering every live file), and the admitted files read
through the one pruned scan."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from tms_etl_spark.operators.bloomindex import (
    build_bloom_index,
    extend_bloom_index,
    read_version_point,
)
from tms_etl_spark.operators.textindex import build_text_index, search_token
from tms_etl_spark.operators.versioned import (
    _live_rel_files,
    _snapshot,
    delete_rows,
    optimize_incremental,
    merge_version,
    read_version_where,
    write_version,
)

_FILES, _ROWS = 4, 50


def _table(spark, tdir):
    """4 single-file commits: file i holds keys k ≡ i (mod 4) and the
    token ``w<i>`` — zonemaps span everything, indexes are selective."""
    for i in range(_FILES):
        df = spark.range(0, _ROWS).select(
            (F.col("id") * _FILES + i).cast("int").alias("k"),
            F.concat(F.lit(f"w{i} doc"), F.col("id").cast("string"))
            .alias("body"),
        )
        write_version(df.coalesce(1), tdir, "append")
    build_bloom_index(spark, tdir, "k")
    build_text_index(spark, tdir, "body")


def _data_files(df):
    return [f for f in df.inputFiles() if "-del-" not in f]


def _n_live(spark, tdir):
    _, man = _snapshot(spark, tdir)
    return sum(len(r) for r in _live_rel_files(spark, tdir, man).values())


def _space(spark, tmp_path):
    tdir = str(tmp_path / "probe idx" / "docs")
    _table(spark, tdir)
    return tdir, True


def _copied(spark, tmp_path):
    orig, copy = str(tmp_path / "orig"), str(tmp_path / "copy")
    _table(spark, orig)
    shutil.copytree(orig, copy)
    shutil.rmtree(orig)
    return copy, True


def _widened(spark, tmp_path):
    tdir = str(tmp_path / "widen")
    _table(spark, tdir)
    write_version(
        spark.createDataFrame([(1001, "w9 doc")], "k long, body string"),
        tdir, "append", merge_schema=True,
    )
    extend_bloom_index(spark, tdir, "k")
    return tdir, True


def _torn(spark, tmp_path):
    # a Bloom generation whose write died before it was published: no
    # marker, no _SUCCESS, no part file
    tdir = str(tmp_path / "torn")
    _table(spark, tdir)
    idx = build_bloom_index(spark, tdir, "k")
    for name in ("_fileindex.json", "_SUCCESS"):
        if os.path.exists(os.path.join(idx, name)):
            os.remove(os.path.join(idx, name))
    for part in glob.glob(os.path.join(idx, "part-*")):
        os.remove(part)
    return tdir, False


@pytest.mark.parametrize("case", [_space, _copied, _widened, _torn])
def test_index_reads_exact_across_table_shapes(spark, tmp_path, case):
    """Each case was a silent wrong answer or a crash when sidecars
    held absolute ``input_file_name()`` paths, hashed raw types and
    were trusted on their directory alone: a path with a space (0
    search hits, PATH_NOT_FOUND point read), a copied table with the
    original deleted, an int→long widening then an extend (0 rows),
    and a torn Bloom generation (unreadable sidecar)."""
    tdir, bloom_serves = case(spark, tmp_path)
    got = read_version_point(spark, tdir, "k", 5)
    assert [r["k"] for r in got.collect()] == [5]
    assert (len(_data_files(got)) < _n_live(spark, tdir)) == bloom_serves
    where = read_version_where(spark, tdir, "k = 5")
    assert [r["k"] for r in where.collect()] == [5]
    hits = search_token(spark, tdir, "body", "w1")
    assert hits.count() == _ROWS


def test_generation_serves_across_deletes_not_appends(spark, tmp_path):
    """A generation keeps serving a version whose live files it
    covers — a delete adds no data file — and stops serving once an
    append adds one: the read then falls back to the plain scan and
    stays exact."""
    tdir = str(tmp_path / "serve")
    _table(spark, tdir)
    delete_rows(spark, tdir, spark.createDataFrame([(9,)], "k int"))
    got = read_version_point(spark, tdir, "k", 13)
    assert [r["k"] for r in got.collect()] == [13]
    assert len(_data_files(got)) < _n_live(spark, tdir)
    assert read_version_point(spark, tdir, "k", 9).count() == 0
    write_version(
        spark.createDataFrame([(13, "late")], "k int, body string"),
        tdir, "append",
    )
    got = read_version_point(spark, tdir, "k", 13)
    assert sorted(r["body"] for r in got.collect()) == ["late", "w1 doc3"]
    assert len(_data_files(got)) == _n_live(spark, tdir)


def test_served_point_read_job_and_py4j_budget(spark, tmp_path):
    """A point read served by a current generation runs 2 Spark jobs
    before its scan: the values' hash positions, and one filtered
    collect of the sidecar rows setting a probed bit. The earlier
    probe ran 7 on this table — positions, sidecar schema inference,
    a broadcast-join hits aggregate (3 jobs under AQE) and a distinct
    collect of the sidecar's files (2) to find unindexed ones.
    Resolving the serving generation of a local table sends nothing
    to the JVM (0 before too, for an exact-version dir probe that
    could not see past a later commit)."""
    from test_tms_pipeline import _py4j_sends

    from tms_etl_spark.operators.fileindex import serving

    tdir = str(tmp_path / "budget")
    _table(spark, tdir)
    v, man = _snapshot(spark, tdir)
    assert serving(spark, tdir, "bloom", "k", v, man) is not None
    assert (
        _py4j_sends(spark, lambda: serving(spark, tdir, "bloom", "k", v, man))
        == 0
    )
    sc = spark.sparkContext
    sc.setJobGroup("fileindex-budget", "served point read")
    try:
        got = read_version_point(spark, tdir, "k", 5)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("fileindex-budget")) <= 2
    assert len(_data_files(got)) == 1


def test_optimize_incremental_purges_merge_dead_files_once(spark, tmp_path):
    """A dir owning a merge-dead file is purge debt: the first call
    rewrites it, the second finds no debt and commits nothing (it
    used to commit an empty ``compact:0dirs`` version every call while
    the dead file stayed)."""
    tdir = str(tmp_path / "deadpurge")
    write_version(
        spark.range(0, 40).select(F.col("id").alias("k")).repartition(2),
        tdir, "append",
    )
    merge_version(
        spark, tdir, spark.createDataFrame([(3,)], "k long"), key="k"
    )
    v1 = optimize_incremental(spark, tdir, min_file_bytes=1)
    _, man = _snapshot(spark, tdir, v1)
    assert not man.get("dead_files")
    assert optimize_incremental(spark, tdir, min_file_bytes=1) == v1
    assert sorted(
        r["k"] for r in read_version_where(spark, tdir, "k >= 0").collect()
    ) == list(range(40))
