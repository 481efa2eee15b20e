"""Versioned-table layer: append/overwrite commits, time travel,
non-destructive rollback, atomic manifest protocol."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tms_etl_spark.operators.versioned import (
    current_version,
    history,
    read_version,
    rollback,
    write_version,
)


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "vtable")


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 10).alias("val")
    )


def test_append_accumulates_and_time_travel(spark, tdir):
    assert current_version(spark, tdir) == 0
    assert write_version(_df(spark, 0, 5), tdir, "append") == 1
    assert write_version(_df(spark, 5, 8), tdir, "append") == 2
    assert read_version(spark, tdir).count() == 8
    # time travel to v1
    assert read_version(spark, tdir, 1).count() == 5
    assert current_version(spark, tdir) == 2


def test_overwrite_resets_but_keeps_history(spark, tdir):
    write_version(_df(spark, 0, 5), tdir, "append")
    write_version(_df(spark, 100, 102), tdir, "overwrite")
    assert read_version(spark, tdir).count() == 2
    assert {r["id"] for r in read_version(spark, tdir).collect()} == {100, 101}
    # the overwritten version is still readable
    assert read_version(spark, tdir, 1).count() == 5


def test_rollback_is_nondestructive(spark, tdir):
    write_version(_df(spark, 0, 5), tdir, "append")
    write_version(_df(spark, 5, 9), tdir, "append")
    v = rollback(spark, tdir, 1)
    assert v == 3
    assert read_version(spark, tdir).count() == 5
    # the rolled-back-over state is still reachable
    assert read_version(spark, tdir, 2).count() == 9
    ops = [h.op for h in history(spark, tdir)]
    assert ops == ["append", "append", "rollback:1"]


def test_no_torn_manifests(spark, tdir):
    """Only fully-committed (renamed) manifests count: a leftover
    .tmp file must not advance the version."""
    write_version(_df(spark, 0, 3), tdir, "append")
    # simulate a torn commit: v2 tmp exists but rename never happened
    import pathlib

    man_dir = pathlib.Path(tdir) / "_manifests"
    (man_dir / "v000002.json.tmp").write_text("{}")
    assert current_version(spark, tdir) == 1
    assert read_version(spark, tdir).count() == 3


def test_rollback_bounds(spark, tdir):
    write_version(_df(spark, 0, 3), tdir, "append")
    with pytest.raises(ValueError):
        rollback(spark, tdir, 5)
    with pytest.raises(ValueError):
        read_version(spark, tdir, 0)


def test_txn_id_makes_commit_idempotent(spark, tdir):
    """A retried micro-batch (same txn_id) must not double-append."""
    v1 = write_version(_df(spark, 0, 4), tdir, "append", txn_id="batch-0")
    v2 = write_version(_df(spark, 0, 4), tdir, "append", txn_id="batch-0")
    assert v1 == v2 == 1
    assert read_version(spark, tdir).count() == 4
    v3 = write_version(_df(spark, 4, 6), tdir, "append", txn_id="batch-1")
    assert v3 == 2
    assert read_version(spark, tdir).count() == 6


def test_expire_versions_retention(spark, tdir):
    from tms_etl_spark.operators.versioned import expire_versions

    for lo in range(0, 8, 2):
        write_version(_df(spark, lo, lo + 2), tdir, "overwrite")
    removed = expire_versions(spark, tdir, keep_last=2, orphan_grace_hours=0)
    assert removed == 2  # v1/v2 data dirs unreferenced by v3/v4
    # kept versions still read
    assert read_version(spark, tdir, 4).count() == 2
    assert read_version(spark, tdir, 3).count() == 2
    # expired versions raise a clear error, and history skips them
    with pytest.raises(ValueError):
        read_version(spark, tdir, 1)
    from tms_etl_spark.operators.versioned import history

    assert [h.version for h in history(spark, tdir)] == [3, 4]


def test_expire_keeps_append_lineage(spark, tdir):
    """Append manifests reference old dirs — expiry must never
    delete a dir a KEPT version still references."""
    from tms_etl_spark.operators.versioned import expire_versions

    write_version(_df(spark, 0, 3), tdir, "append")
    write_version(_df(spark, 3, 5), tdir, "append")
    write_version(_df(spark, 5, 6), tdir, "append")
    removed = expire_versions(spark, tdir, keep_last=1, orphan_grace_hours=0)
    assert removed == 0  # v3's manifest references all three dirs
    assert read_version(spark, tdir).count() == 6


def test_optimize_compacts_to_one_dir(spark, tdir):
    from tms_etl_spark.operators.versioned import (
        history,
        optimize_version,
    )

    for lo in (0, 5, 9):
        write_version(_df(spark, lo, lo + 3), tdir, "append")
    before = read_version(spark, tdir)
    assert before.count() == 9
    v = optimize_version(spark, tdir)
    assert v == 4
    after = read_version(spark, tdir)
    assert after.count() == 9
    assert {r["id"] for r in after.collect()} == {
        r["id"] for r in before.collect()
    }
    h = {x.version: x for x in history(spark, tdir)}
    assert h[4].n_dirs == 1 and h[4].op.startswith("optimize:")
    assert h[3].n_dirs == 3
    # pre-optimize versions still time-travelable
    assert read_version(spark, tdir, 2).count() == 6


def test_pruned_read_scans_fewer_files(spark, tdir):
    """Round-5: per-file zonemap stats recorded at commit time must
    let a filtered time-travel read skip files whose [min,max] cannot
    satisfy the predicate — manifest-level file skipping, with the
    residual filter keeping the result exact."""
    from tms_etl_spark.operators.versioned import read_version_pruned

    # two appended batches with disjoint id ranges, 2 files each
    write_version(_df(spark, 0, 100).repartition(2), tdir, "append")
    write_version(_df(spark, 1000, 1100).repartition(2), tdir, "append")
    full = read_version(spark, tdir)
    assert len(full.inputFiles()) == 4
    pruned = read_version_pruned(spark, tdir, "id", "<", 50)
    assert len(pruned.inputFiles()) <= 2  # second batch's files skipped
    assert pruned.count() == 50
    # exactness vs the unpruned filter on every op
    for op, val, expect in [
        ("=", 1005, 1), (">=", 1000, 100), (">", 1099, 0), ("<=", 0, 1)
    ]:
        got = read_version_pruned(spark, tdir, "id", op, val).count()
        assert got == expect, (op, val)
    # empty prune returns an empty frame with the table schema
    none = read_version_pruned(spark, tdir, "id", "=", 500)
    assert none.count() == 0 and none.schema == full.schema


def test_pruned_read_time_travel_and_overwrite(spark, tdir):
    from tms_etl_spark.operators.versioned import read_version_pruned

    write_version(_df(spark, 0, 10), tdir, "append")
    write_version(_df(spark, 50, 60), tdir, "overwrite")
    # v1 pruned read still sees v1's data only
    assert read_version_pruned(spark, tdir, "id", "<", 100, version=1).count() == 10
    assert read_version_pruned(spark, tdir, "id", ">=", 50).count() == 10


def test_txn_window_is_carried_not_scanned(spark, tdir):
    """Idempotence must survive a rollback in between (the recent-txn
    window follows the head), and the check reads only the newest
    manifest — pinned by corrupting an OLD manifest and confirming
    the check no longer depends on it."""
    import json
    import pathlib

    from tms_etl_spark.operators.versioned import rollback as rb

    v1 = write_version(_df(spark, 0, 5), tdir, "append", txn_id="batch-1")
    write_version(_df(spark, 5, 9), tdir, "append", txn_id="batch-2")
    rb(spark, tdir, 1)
    # retry of batch-2 after a rollback: still recognized, no new version
    assert write_version(_df(spark, 5, 9), tdir, "append", txn_id="batch-2") == 2
    # clobber v1's manifest body: O(1) check must not read it
    mp = pathlib.Path(tdir) / "_manifests" / "v000001.json"
    man = json.loads(mp.read_text())
    man.pop("recent_txns", None)
    mp.write_text(json.dumps(man))
    assert write_version(_df(spark, 0, 5), tdir, "append", txn_id="batch-1") == v1


def test_concurrent_commit_loses_cleanly(spark, tdir):
    """Two writers racing to the same version: the conditional commit
    must refuse to clobber an existing manifest."""
    from tms_etl_spark.operators.versioned import (
        ConcurrentWriteError,
        _manifest_path,
        _write_json_atomic,
    )

    write_version(_df(spark, 0, 5), tdir, "append")
    with pytest.raises(ConcurrentWriteError):
        _write_json_atomic(
            spark, _manifest_path(tdir, 1), {"version": 1, "dirs": []}
        )
    # a stale lock also refuses (documented manual-cleanup mode)
    import pathlib

    lock = pathlib.Path(tdir) / "_manifests" / "v000002.json.lock"
    lock.parent.mkdir(parents=True, exist_ok=True)
    lock.touch()
    with pytest.raises(ConcurrentWriteError):
        _write_json_atomic(
            spark, _manifest_path(tdir, 2), {"version": 2, "dirs": []}
        )
    lock.unlink()
    assert write_version(_df(spark, 5, 9), tdir, "append") == 2


def test_stream_to_versioned_table_exactly_once(spark, tdir, tmp_path):
    """End-to-end exactly-once: a rate-limited file stream lands in
    the versioned table via foreachBatch + write_version(txn_id=
    batch id). A REPLAYED batch (same txn id — the restart-after-
    commit-before-checkpoint case) must be a no-op, so the table
    never double-counts."""
    import json as _json

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join(_json.dumps({"k": i, "v": i * 2}) for i in range(5))
    )

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [StructField("k", LongType()), StructField("v", LongType())]
    )
    from tms_etl_spark.operators.versioned import stream_write_versioned

    stream = spark.readStream.schema(schema).json(str(src))
    q = stream_write_versioned(
        stream, tdir, str(tmp_path / "ckpt"), mode="append"
    )
    q.awaitTermination(120)
    assert read_version(spark, tdir).count() == 5
    v = current_version(spark, tdir)
    # replay the committed batch out-of-band (simulated retry):
    # txn_id is recognized, version unchanged, rows not duplicated
    replay = spark.createDataFrame([(9, 9)], "k long, v long")
    assert write_version(replay, tdir, "append", txn_id="batch-0") == v
    assert read_version(spark, tdir).count() == 5


def test_read_version_changes_scans_only_new_files(spark, tdir):
    """Incremental tailing: the (v1, v3] delta reads only the files
    appended after v1 — file-level CDC with zero data comparison."""
    from tms_etl_spark.operators.versioned import read_version_changes

    write_version(_df(spark, 0, 100), tdir, "append")
    write_version(_df(spark, 100, 150), tdir, "append")
    write_version(_df(spark, 150, 170), tdir, "append")
    delta = read_version_changes(spark, tdir, 1)
    assert delta.count() == 70
    assert {r["id"] for r in delta.select("id").collect()} == set(range(100, 170))
    # scans strictly fewer files than the full snapshot
    full = read_version(spark, tdir)
    assert len(delta.inputFiles()) < len(full.inputFiles())
    # empty range yields an empty frame with the table schema
    none = read_version_changes(spark, tdir, 3, 3)
    assert none.count() == 0 and none.schema == full.schema
    # rewritten history: no silent cross-snapshot scan
    rb_v = rollback(spark, tdir, 1)
    with pytest.raises(ValueError, match="append chain"):
        read_version_changes(spark, tdir, 2, rb_v)


def test_versioned_schema_evolution_merge(spark, tdir):
    """Appending a batch with an extra column is explicit schema
    EVOLUTION now (merge_schema=True): the manifest records the
    evolved schema, a silent mismatched append refuses, and the plain
    read null-fills the added column for pre-evolution rows — no
    manual mergeSchema read needed."""
    import pytest

    from tms_etl_spark.operators.versioned import read_version_changes

    write_version(_df(spark, 0, 5), tdir, "append")
    evolved = _df(spark, 5, 8).withColumn("extra", F.col("id") + 100)
    with pytest.raises(ValueError, match="merge_schema"):
        write_version(evolved, tdir, "append")
    write_version(evolved, tdir, "append", merge_schema=True)
    merged = read_version(spark, tdir)
    assert "extra" in merged.columns
    assert merged.count() == 8
    assert merged.where(F.col("extra").isNull()).count() == 5
    # the delta alone carries the evolved schema natively
    delta = read_version_changes(spark, tdir, 1)
    assert "extra" in delta.columns and delta.count() == 3


def test_optimize_cluster_by_keeps_pruning_effective(spark, tdir):
    """A random compaction smears every file across the full value
    range (zonemaps prune nothing); cluster_by range-partitions the
    rewrite so a post-compaction point read touches ~1 file."""
    from tms_etl_spark.operators.versioned import (
        optimize_version,
        read_version_pruned,
    )

    for lo in range(0, 1000, 250):
        write_version(
            _df(spark, lo, lo + 250).repartition(2), tdir, "append"
        )
    optimize_version(
        spark, tdir, target_file_bytes=4 * 1024, cluster_by="id"
    )
    full = read_version(spark, tdir)
    assert full.count() == 1000
    n_files = len(full.inputFiles())
    assert n_files >= 3  # compaction produced multiple range files
    point = read_version_pruned(spark, tdir, "id", "=", 777)
    assert point.count() == 1
    assert len(point.inputFiles()) < n_files  # pruning still bites
    rng = read_version_pruned(spark, tdir, "id", ">=", 900)
    assert rng.count() == 100
    assert len(rng.inputFiles()) < n_files


def test_pruned_read_random_property(spark, tdir):
    """Randomized pruning property: for a table of several appended
    batches, every (op, value) pruned read equals the unpruned
    filtered read — pruning may only skip, never change results."""
    import random

    rng = random.Random(42)
    lo = 0
    for _ in range(4):
        hi = lo + rng.randint(20, 120)
        write_version(_df(spark, lo, hi).repartition(2), tdir, "append")
        lo = hi
    from tms_etl_spark.operators.versioned import read_version_pruned

    full = read_version(spark, tdir)
    for op in ("=", "<", "<=", ">", ">="):
        for _ in range(4):
            v = rng.randint(-10, lo + 10)
            pruned = read_version_pruned(spark, tdir, "id", op, v)
            expr = {"=": "==", "<": "<", "<=": "<=", ">": ">", ">=": ">="}[op]
            expect = full.where(F.expr(f"id {expr if op != '=' else '='} {v}"))
            assert pruned.count() == expect.count(), (op, v)


def test_expire_grace_protects_inflight_writer_dirs(spark, tdir):
    """The VACUUM race: a data dir written seconds ago by an
    in-flight (not yet committed) writer must survive a default-grace
    expiry — deleting it would corrupt the commit about to reference
    it. Old expired dirs still go when grace is waived."""
    import pathlib

    from tms_etl_spark.operators.versioned import expire_versions

    write_version(_df(spark, 0, 3), tdir, "overwrite")
    write_version(_df(spark, 3, 6), tdir, "overwrite")
    # simulate an in-flight writer: data landed, no manifest yet
    inflight = pathlib.Path(tdir) / "data" / "v000003-deadbeef"
    _df(spark, 6, 9).write.parquet(str(inflight))
    removed = expire_versions(spark, tdir, keep_last=1)  # default grace
    assert removed == 0  # v1's dir AND the in-flight dir both young
    assert inflight.exists()
    # waiving grace (maintenance window, no live writers) removes the
    # expired v1 dir and the orphan
    removed = expire_versions(spark, tdir, keep_last=1, orphan_grace_hours=0)
    assert removed == 2
    assert not inflight.exists()
    assert read_version(spark, tdir).count() == 3


def test_nan_bounds_get_no_zonemap(spark, tdir):
    """A column whose file extremes include NaN must simply lack a
    zonemap entry (conservative: never pruned) — NaN would serialize
    as non-standard JSON and poison bound comparisons."""
    import math

    from tms_etl_spark.operators.versioned import read_version_pruned

    df = spark.createDataFrame(
        [(1, float("nan")), (2, 5.0), (3, 7.0)], "id long, v double"
    )
    write_version(df, tdir, "append")
    # pruning on v is a no-op (no stats) but stays exact — note
    # Spark's NaN ordering: NaN sorts ABOVE every double, so
    # `v >= 6.0` keeps the NaN row too; had the NaN file kept a
    # [min,max] zonemap it would have been wrongly PRUNED here,
    # which is exactly why NaN extremes suppress the entry
    got = read_version_pruned(spark, tdir, "v", ">=", 6.0).collect()
    assert {r["id"] for r in got} == {1, 3}
    # id still has stats and prunes fine
    assert read_version_pruned(spark, tdir, "id", "=", 2).count() == 1
    full = read_version(spark, tdir)
    assert full.where(F.isnan("v")).count() == 1
    assert math.isnan(
        full.where(F.col("id") == 1).head()["v"]
    )


def test_resumable_iterate_survives_restart(spark, tdir):
    """Kill-and-resume: 2 iterations committed, 'crash', resume to 5
    — the result equals an uninterrupted 5-iteration run, and resume
    does not recompute committed iterations."""
    from tms_etl_spark.operators.versioned import resumable_iterate

    calls = []

    def step(df, i):
        calls.append(i)
        return df.select((F.col("v") * 2 + i).alias("v"))

    init = spark.createDataFrame([(1,), (10,)], "v long")
    partial = resumable_iterate(spark, tdir, init, step, 2)
    # iter0: v*2+0 -> {2,20}; iter1: v*2+1 -> {5,41}
    assert {r["v"] for r in partial.collect()} == {5, 41}
    assert calls == [0, 1]
    # "restart": resume from the committed state
    calls.clear()
    final = resumable_iterate(spark, tdir, init, step, 5)
    assert calls == [2, 3, 4]  # committed iterations not recomputed
    # uninterrupted twin
    v = [1, 10]
    for i in range(5):
        v = [x * 2 + i for x in v]
    assert {r["v"] for r in final.collect()} == set(v)
    # re-running the finished job is a no-op
    calls.clear()
    again = resumable_iterate(spark, tdir, init, step, 5)
    assert calls == [] and {r["v"] for r in again.collect()} == set(v)


def test_commit_existing_dir_external_loader(spark, tdir):
    """External bulk-loader path: files land first (any writer), then
    commit_existing_dir turns the dir into the next version with the
    full protocol (stats, txn idempotence, conditional rename)."""
    import pathlib

    from tms_etl_spark.operators.versioned import (
        commit_existing_dir,
        read_version_pruned,
    )

    write_version(_df(spark, 0, 5), tdir, "append")
    ext = pathlib.Path(tdir) / "data" / "bulk-0001"
    _df(spark, 100, 110).write.parquet(str(ext))
    v = commit_existing_dir(spark, tdir, "data/bulk-0001", "append",
                            txn_id="bulk-1")
    assert v == 2
    assert read_version(spark, tdir).count() == 15
    # idempotent retry
    assert commit_existing_dir(
        spark, tdir, "data/bulk-0001", "append", txn_id="bulk-1"
    ) == 2
    assert read_version(spark, tdir).count() == 15
    # stats were recorded: pruned point read skips the old batch
    assert read_version_pruned(spark, tdir, "id", ">=", 100).count() == 10


def test_commit_existing_dir_validates_check_constraints(spark, tdir):
    """An append through commit_existing_dir carries the table's CHECK
    constraints onto the new manifest, so a landed dir that violates
    them is refused like a `write_version` batch: nothing commits and
    the table reads its old rows."""
    import pathlib

    from tms_etl_spark.operators.versioned import commit_existing_dir

    write_version(
        _df(spark, 0, 3), tdir, "append", constraints={"id_nonneg": "id >= 0"}
    )
    ext = pathlib.Path(tdir) / "data" / "bulk-bad"
    _df(spark, -5, -4).write.parquet(str(ext))
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        commit_existing_dir(spark, tdir, "data/bulk-bad", "append")
    assert current_version(spark, tdir) == 1
    assert sorted(r.id for r in read_version(spark, tdir).collect()) == [0, 1, 2]


def test_refused_rewrites_release_their_pins(spark, tdir):
    """The frames MERGE and UPDATE checkpoint for plan reuse are
    released when the verb refuses, not only when it commits: a
    conditional merge refused for duplicate source keys, an update and
    a conditional merge refused by a CHECK constraint each leave the
    session's persisted-RDD count where it was, and commit nothing."""
    from tms_etl_spark.operators.versioned import merge_version, update_where

    write_version(
        _df(spark, 0, 5), tdir, "append", constraints={"nonneg": "val >= 0"}
    )
    sc = spark.sparkContext
    start = len(sc._jsc.getPersistentRDDs())
    guard = "source.val > target.val"
    dup = spark.createDataFrame([(1, 50), (1, 60)], "id long, val long")
    with pytest.raises(ValueError, match="duplicate key"):
        merge_version(spark, tdir, dup, "id", when_matched_condition=guard)
    assert len(sc._jsc.getPersistentRDDs()) == start
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        update_where(spark, tdir, "id = 2", {"val": "-1"})
    assert len(sc._jsc.getPersistentRDDs()) == start
    bad = spark.createDataFrame([(3, 99), (9, -9)], "id long, val long")
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        merge_version(spark, tdir, bad, "id", when_matched_condition=guard)
    assert len(sc._jsc.getPersistentRDDs()) == start
    assert current_version(spark, tdir) == 1


def test_delete_rows_logical_then_physical(spark, tdir):
    """delete_rows hides keys immediately without touching data
    files; optimize purges them physically and drops the vectors."""
    from tms_etl_spark.operators.versioned import (
        _manifest_path,
        _read_json,
        delete_rows,
        optimize_version,
    )

    write_version(_df(spark, 0, 10), tdir, "append")
    keys = spark.createDataFrame([(2,), (5,), (7,)], "id long")
    v = delete_rows(spark, tdir, keys)
    assert v == 2
    assert {r["id"] for r in read_version(spark, tdir).collect()} == {
        0, 1, 3, 4, 6, 8, 9,
    }
    # pre-delete version still shows everything (time travel)
    assert read_version(spark, tdir, 1).count() == 10
    # physical purge at compaction
    v3 = optimize_version(spark, tdir)
    man = _read_json(spark, _manifest_path(tdir, v3))
    assert "deletes" not in man or man["deletes"] == []
    assert read_version(spark, tdir).count() == 7
    # compacted files physically lack the keys
    raw = spark.read.parquet(f"{tdir}/{man['dirs'][0]}")
    assert {r["id"] for r in raw.collect()} == {0, 1, 3, 4, 6, 8, 9}


def test_delete_scoped_append_reinserts_key(spark, tdir):
    """A tombstone covers only the dirs that existed at delete time —
    a later append legitimately re-inserts the key."""
    from tms_etl_spark.operators.versioned import delete_rows

    write_version(_df(spark, 0, 5), tdir, "append")
    delete_rows(spark, tdir, spark.createDataFrame([(3,)], "id long"))
    assert {r["id"] for r in read_version(spark, tdir).collect()} == {
        0, 1, 2, 4,
    }
    write_version(_df(spark, 3, 4), tdir, "append")  # re-insert id=3
    assert {r["id"] for r in read_version(spark, tdir).collect()} == {
        0, 1, 2, 3, 4,
    }


def test_delete_rows_idempotent_txn(spark, tdir):
    from tms_etl_spark.operators.versioned import delete_rows

    write_version(_df(spark, 0, 6), tdir, "append")
    keys = spark.createDataFrame([(1,)], "id long")
    v1 = delete_rows(spark, tdir, keys, txn_id="gdpr-42")
    v2 = delete_rows(spark, tdir, keys, txn_id="gdpr-42")
    assert v1 == v2 == 2
    assert read_version(spark, tdir).count() == 5


def test_delete_applies_to_pruned_reads(spark, tdir):
    from tms_etl_spark.operators.versioned import (
        delete_rows,
        read_version_pruned,
    )

    write_version(_df(spark, 0, 10).repartition(4), tdir, "append")
    delete_rows(spark, tdir, spark.createDataFrame([(4,)], "id long"))
    got = {
        r["id"]
        for r in read_version_pruned(spark, tdir, "id", ">=", 3).collect()
    }
    assert got == {3, 5, 6, 7, 8, 9}


def test_expire_keeps_referenced_delete_vectors(spark, tdir):
    """Retention never removes a tombstone file a kept version still
    references."""
    from tms_etl_spark.operators.versioned import (
        delete_rows,
        expire_versions,
    )

    write_version(_df(spark, 0, 8), tdir, "append")
    delete_rows(spark, tdir, spark.createDataFrame([(0,)], "id long"))
    write_version(_df(spark, 8, 9), tdir, "append")
    expire_versions(spark, tdir, keep_last=2, orphan_grace_hours=0.0)
    assert {r["id"] for r in read_version(spark, tdir).collect()} == {
        1, 2, 3, 4, 5, 6, 7, 8,
    }


def test_cdc_raises_across_delete(spark, tdir):
    from tms_etl_spark.operators.versioned import (
        delete_rows,
        read_version_changes,
    )

    write_version(_df(spark, 0, 5), tdir, "append")
    delete_rows(spark, tdir, spark.createDataFrame([(1,)], "id long"))
    write_version(_df(spark, 5, 7), tdir, "append")
    with pytest.raises(ValueError, match="row-level delete"):
        read_version_changes(spark, tdir, 1, 3)
    # but a post-delete append chain still has a clean file-level delta
    got = {r["id"] for r in read_version_changes(spark, tdir, 2, 3).collect()}
    assert got == {5, 6}


def test_rollback_restores_delete_state(spark, tdir):
    from tms_etl_spark.operators.versioned import delete_rows

    write_version(_df(spark, 0, 5), tdir, "append")
    delete_rows(spark, tdir, spark.createDataFrame([(2,)], "id long"))
    write_version(_df(spark, 2, 3), tdir, "append")  # re-insert
    v = rollback(spark, tdir, 2)  # back to the deleted state
    assert v == 4
    assert {r["id"] for r in read_version(spark, tdir).collect()} == {
        0, 1, 3, 4,
    }


# ---------------------------------------------------------------- MERGE


def _manifest(tdir, v):
    import json
    import pathlib

    return json.loads(
        (pathlib.Path(tdir) / "_manifests" / f"v{v:06d}.json").read_text()
    )


def test_merge_update_and_insert(spark, tdir):
    from tms_etl_spark.operators.versioned import merge_version

    write_version(_df(spark, 0, 10), tdir, "append")
    src = spark.createDataFrame(
        [(3, 999), (7, 777), (20, 200)], "id long, val long"
    )
    v = merge_version(spark, tdir, src, "id", "update")
    assert v == 2
    rows = {r["id"]: r["val"] for r in read_version(spark, tdir).collect()}
    assert rows[3] == 999 and rows[7] == 777  # matched → updated
    assert rows[20] == 200  # not matched → inserted
    assert rows[0] == 0 and rows[9] == 90  # untouched rows intact
    assert len(rows) == 11
    # pre-merge version still time-travels to the old values
    old = {r["id"]: r["val"] for r in read_version(spark, tdir, 1).collect()}
    assert old[3] == 30 and 20 not in old


def test_merge_delete(spark, tdir):
    from tms_etl_spark.operators.versioned import merge_version

    write_version(_df(spark, 0, 10), tdir, "append")
    src = spark.createDataFrame([(2,), (5,), (99,)], "id long")
    merge_version(spark, tdir, src, "id", "delete")
    ids = {r["id"] for r in read_version(spark, tdir).collect()}
    assert ids == set(range(10)) - {2, 5}


def test_merge_rejects_duplicate_source_keys(spark, tdir):
    from tms_etl_spark.operators.versioned import merge_version

    write_version(_df(spark, 0, 5), tdir, "append")
    dup = spark.createDataFrame([(1, 10), (1, 11)], "id long, val long")
    with pytest.raises(ValueError, match="duplicate key"):
        merge_version(spark, tdir, dup, "id", "update")


def test_merge_rewrites_only_touched_files(spark, tdir):
    """Copy-on-write discipline: a merge touching one dir's key range
    must leave the other dirs' files alive and byte-identical, and
    mark only the overlapping files dead."""
    from tms_etl_spark.operators.versioned import merge_version

    # three appended batches with disjoint key ranges
    write_version(_df(spark, 0, 100).repartition(1), tdir, "append")
    write_version(_df(spark, 100, 200).repartition(1), tdir, "append")
    write_version(_df(spark, 200, 300).repartition(1), tdir, "append")
    src = spark.createDataFrame([(150, 1), (160, 2)], "id long, val long")
    v = merge_version(spark, tdir, src, "id", "update")
    man = _manifest(tdir, v)
    dead = man.get("dead_files", [])
    # exactly the one file of the middle batch is dead; the middle
    # dir itself dropped (all its files died), batches 1/3 untouched
    assert len(dead) <= 1
    surviving_batches = [d for d in man["dirs"] if "-merge-" not in d]
    assert len(surviving_batches) == 2
    rows = {r["id"]: r["val"] for r in read_version(spark, tdir).collect()}
    assert rows[150] == 1 and rows[160] == 2 and rows[155] == 1550
    assert len(rows) == 300


def test_merge_zonemap_skips_disjoint_files(spark, tdir):
    """Files whose key zonemap is disjoint from the source range are
    not even candidates (no read). Verified via the manifest: they
    stay live and keep their stats."""
    from tms_etl_spark.operators.versioned import merge_version

    write_version(_df(spark, 0, 50).repartition(1), tdir, "append")
    write_version(_df(spark, 1000, 1050).repartition(1), tdir, "append")
    src = spark.createDataFrame([(1010, 7)], "id long, val long")
    v = merge_version(spark, tdir, src, "id", "update")
    man = _manifest(tdir, v)
    # first dir survives with stats; only second batch rewritten
    assert any(s["id"] == [0, 49] for s in man["stats"].values())
    assert read_version(spark, tdir).count() == 100


def test_merge_txn_idempotent(spark, tdir):
    from tms_etl_spark.operators.versioned import merge_version

    write_version(_df(spark, 0, 5), tdir, "append")
    src = spark.createDataFrame([(1, 111)], "id long, val long")
    v1 = merge_version(spark, tdir, src, "id", "update", txn_id="m1")
    v2 = merge_version(spark, tdir, src, "id", "update", txn_id="m1")
    assert v1 == v2 == 2
    assert read_version(spark, tdir).count() == 5


def test_merge_then_append_then_read(spark, tdir):
    """dead_files carry across later appends; CDC across the merge
    refuses (no pure-append delta)."""
    from tms_etl_spark.operators.versioned import (
        merge_version,
        read_version_changes,
    )

    write_version(_df(spark, 0, 10), tdir, "append")
    src = spark.createDataFrame([(1, 111)], "id long, val long")
    vm = merge_version(spark, tdir, src, "id", "update")
    va = write_version(_df(spark, 50, 55), tdir, "append")
    rows = {r["id"]: r["val"] for r in read_version(spark, tdir).collect()}
    assert rows[1] == 111 and len(rows) == 15
    # append after the merge has a clean file-level delta
    assert read_version_changes(spark, tdir, vm, va).count() == 5
    # but crossing the merge boundary must refuse
    with pytest.raises(ValueError, match="MERGE"):
        read_version_changes(spark, tdir, 1, vm)


def test_merge_pruned_read_skips_dead(spark, tdir):
    from tms_etl_spark.operators.versioned import (
        merge_version,
        read_version_pruned,
    )

    write_version(_df(spark, 0, 100).repartition(4, "id"), tdir, "append")
    src = spark.createDataFrame([(10, -1)], "id long, val long")
    merge_version(spark, tdir, src, "id", "update")
    got = read_version_pruned(spark, tdir, "id", "=", 10).collect()
    assert len(got) == 1 and got[0]["val"] == -1


# ------------------------------------------------- incremental compaction


def test_optimize_incremental_packs_only_small_dirs(spark, tdir):
    from tms_etl_spark.operators.versioned import optimize_incremental

    # one "healthy" dir (pretend big by using a tiny min_file_bytes
    # threshold later) and several fragment dirs
    write_version(_df(spark, 0, 10000).repartition(1), tdir, "append")
    for i in range(4):
        write_version(
            _df(spark, 10000 + i * 10, 10010 + i * 10).repartition(2),
            tdir,
            "append",
        )
    import pathlib

    big_file = max(
        pathlib.Path(tdir).glob("data/*/*.parquet"),
        key=lambda p: p.stat().st_size,
    )
    floor = big_file.stat().st_size  # healthy = at least the big file
    v = optimize_incremental(spark, tdir, min_file_bytes=floor)
    man = _manifest(tdir, v)
    assert man["op"].startswith("compact:4dirs")
    # the healthy dir is still referenced AS-IS (same dir name as v1)
    assert _manifest(tdir, 1)["dirs"][0] in man["dirs"]
    assert read_version(spark, tdir).count() == 10040
    # fragments now live in exactly one compacted dir
    assert len(man["dirs"]) == 2


def test_optimize_incremental_noop_when_healthy(spark, tdir):
    from tms_etl_spark.operators.versioned import optimize_incremental

    write_version(_df(spark, 0, 100).repartition(1), tdir, "append")
    v = optimize_incremental(spark, tdir, min_file_bytes=1)
    assert v == 1  # no new version burned


def test_optimize_incremental_purges_dead_and_tombstones(spark, tdir):
    from tms_etl_spark.operators.versioned import (
        delete_rows,
        merge_version,
        optimize_incremental,
    )

    write_version(_df(spark, 0, 100).repartition(1), tdir, "append")
    merge_version(
        spark,
        tdir,
        spark.createDataFrame([(5, -5)], "id long, val long"),
        "id",
        "update",
    )
    delete_rows(spark, tdir, spark.createDataFrame([(7,)], "id long"))
    v = optimize_incremental(spark, tdir, min_file_bytes=1)
    man = _manifest(tdir, v)
    assert "dead_files" not in man and "deletes" not in man
    rows = {r["id"]: r["val"] for r in read_version(spark, tdir).collect()}
    assert rows[5] == -5 and 7 not in rows and len(rows) == 99


def test_stream_merge_versioned_upserts_exactly_once(spark, tdir, tmp_path):
    """Streaming CDC-apply: a file stream of (id, val) updates merges
    into the table; re-running the drained stream (or a fresh stream
    over the same files with the same checkpoint) replays as a no-op."""
    import pathlib

    from tms_etl_spark.operators.versioned import (
        current_version,
        stream_merge_versioned,
    )

    src = tmp_path / "updates"
    src.mkdir()
    cp = str(tmp_path / "cp")
    schema = "id long, val long"

    def emit(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    emit("b0", [(0, 10), (1, 11), (2, 12)])
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src) + "/*")
    q = stream_merge_versioned(stream, tdir, cp, key="id")
    q.awaitTermination(120)
    assert {
        (r["id"], r["val"]) for r in read_version(spark, tdir).collect()
    } == {(0, 10), (1, 11), (2, 12)}

    # second wave: one update (id=1), one insert (id=5), in-batch dup
    # on id=5 (dedup picks max struct -> val 52)
    emit("b1", [(1, 111), (5, 51), (5, 52)])
    stream2 = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src) + "/*")
    q2 = stream_merge_versioned(stream2, tdir, cp, key="id")
    q2.awaitTermination(120)
    got = {(r["id"], r["val"]) for r in read_version(spark, tdir).collect()}
    assert got == {(0, 10), (1, 111), (2, 12), (5, 52)}

    v = current_version(spark, tdir)
    # drained restart: no new commits, same rows
    stream3 = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q3 = stream_merge_versioned(stream3, tdir, cp, key="id")
    q3.awaitTermination(120)
    assert current_version(spark, tdir) == v
    assert {
        (r["id"], r["val"]) for r in read_version(spark, tdir).collect()
    } == got


def test_merge_model_based_random_ops(spark, tdir):
    """Model-based randomized check of the whole mutation surface:
    a random sequence of append / merge-update / merge-delete /
    delete_rows / incremental-compact operations applied to BOTH the
    versioned table and a plain Python dict; after every step the
    table must read back exactly the dict."""
    import random

    from tms_etl_spark.operators.versioned import (
        delete_rows,
        merge_version,
        optimize_incremental,
        write_version,
    )

    rng = random.Random(42)
    model: dict[int, int] = {}

    def df_of(rows):
        return spark.createDataFrame(rows, "id long, val long")

    def check():
        got = {r["id"]: r["val"] for r in read_version(spark, tdir).collect()}
        assert got == model

    # bootstrap
    rows = [(i, rng.randrange(1000)) for i in range(0, 20)]
    model.update(dict(rows))
    write_version(df_of(rows), tdir, "append")
    check()

    for step in range(12):
        op = rng.choice(["append", "merge", "mergedel", "delete", "compact"])
        if op == "append":
            # fresh keys only (append doesn't upsert)
            base = 100 + step * 10
            rows = [(base + j, rng.randrange(1000)) for j in range(3)]
            model.update(dict(rows))
            write_version(df_of(rows), tdir, "append")
        elif op == "merge":
            keys = rng.sample(sorted(model) + [9000 + step], 3)
            rows = [(k, rng.randrange(1000)) for k in set(keys)]
            model.update(dict(rows))
            merge_version(spark, tdir, df_of(rows), "id", "update")
        elif op == "mergedel":
            if not model:
                continue
            keys = rng.sample(sorted(model), min(2, len(model)))
            for k in keys:
                model.pop(k, None)
            merge_version(
                spark,
                tdir,
                spark.createDataFrame([(k,) for k in keys], "id long"),
                "id",
                "delete",
            )
        elif op == "delete":
            if not model:
                continue
            keys = rng.sample(sorted(model), min(2, len(model)))
            for k in keys:
                model.pop(k, None)
            delete_rows(
                spark,
                tdir,
                spark.createDataFrame([(k,) for k in keys], "id long"),
            )
        else:
            optimize_incremental(spark, tdir, min_file_bytes=1024)
        check()


# ------------------------------------------------ materialized views


def test_materialized_view_incremental_refresh(spark, tdir, tmp_path):
    """The incrementally-refreshed view must equal a from-scratch
    aggregate after every refresh — bit-identical sums (decimal) —
    and only consume the base's new files."""
    from pyspark.sql import functions as F

    from tms_etl_spark.operators.matview import (
        _last_refreshed_base,
        refresh_sum_view,
        rebuild_sum_view,
    )
    from tms_etl_spark.operators.versioned import write_version

    mv = str(tmp_path / "mv")

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 7).alias("g"),
            (F.col("id") % 5).alias("h"),
            (F.col("id") * 1.5).alias("x"),
        )

    def expect():
        return {
            (r["g"], r["h"]): (str(r["s"]), r["n"])
            for r in read_version(spark, tdir)
            .groupBy("g", "h")
            .agg(
                F.sum(F.col("x").cast("decimal(28,8)"))
                .cast("decimal(28,8)")
                .alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        }

    def got():
        return {
            (r["g"], r["h"]): (str(r["sum_val"]), r["n_rows"])
            for r in read_version(spark, mv).collect()
        }

    write_version(batch(0, 500), tdir, "append")
    assert refresh_sum_view(spark, tdir, mv, ["g", "h"], "x") == 1
    assert got() == expect()

    write_version(batch(500, 800), tdir, "append")
    write_version(batch(800, 900), tdir, "append")
    assert refresh_sum_view(spark, tdir, mv, ["g", "h"], "x") == 3
    assert got() == expect()
    assert _last_refreshed_base(spark, mv) == 3

    # replay: no-op, no extra view version
    from tms_etl_spark.operators.versioned import current_version

    v = current_version(spark, mv)
    assert refresh_sum_view(spark, tdir, mv, ["g", "h"], "x") == 3
    assert current_version(spark, mv) == v

    # rebuild equals incremental bit-for-bit
    mv2 = str(tmp_path / "mv2")
    rebuild_sum_view(spark, tdir, mv2, ["g", "h"], "x")
    got2 = {
        (r["g"], r["h"]): (str(r["sum_val"]), r["n_rows"])
        for r in read_version(spark, mv2).collect()
    }
    assert got2 == got()


def test_materialized_view_refuses_nonappend_base(spark, tdir, tmp_path):
    from pyspark.sql import functions as F

    from tms_etl_spark.operators.matview import (
        refresh_sum_view,
        rebuild_sum_view,
    )
    from tms_etl_spark.operators.versioned import (
        delete_rows,
        write_version,
    )

    mv = str(tmp_path / "mv")
    write_version(
        spark.range(0, 50).select(
            (F.col("id") % 3).alias("g"), (F.col("id") * 1.0).alias("x")
        ),
        tdir,
        "append",
    )
    refresh_sum_view(spark, tdir, mv, ["g"], "x")
    delete_rows(spark, tdir, spark.createDataFrame([(1,)], "id long")
                .selectExpr("id as g"))
    write_version(
        spark.range(50, 60).select(
            (F.col("id") % 3).alias("g"), (F.col("id") * 1.0).alias("x")
        ),
        tdir,
        "append",
    )
    with pytest.raises(ValueError, match="delete|delta"):
        refresh_sum_view(spark, tdir, mv, ["g"], "x")
    # recovery path: full rebuild reflects the delete
    rebuild_sum_view(spark, tdir, mv, ["g"], "x")
    got = {r["g"]: r["n_rows"] for r in read_version(spark, mv).collect()}
    exp = {
        r["g"]: r["n"]
        for r in read_version(spark, tdir)
        .groupBy("g")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == exp


# ---------------------------------------------------- bloom index


def test_bloom_index_point_read_skips_files(spark, tdir):
    """On a hash-distributed high-cardinality key every file's
    zonemap spans the whole domain (range pruning useless); the bloom
    sidecar must cut a point read to ~1 file, exactly."""
    from pyspark.sql import functions as F

    from tms_etl_spark.operators.bloomindex import (
        build_bloom_index,
        read_version_point,
    )
    from tms_etl_spark.operators.versioned import write_version

    df = spark.range(0, 20000).select(
        F.col("id"), (F.col("id") * 3).alias("val")
    ).repartition(8, "id")  # hash layout: zonemaps useless
    write_version(df, tdir, "append")
    build_bloom_index(spark, tdir, "id")

    got = read_version_point(spark, tdir, "id", 12345)
    rows = got.collect()
    assert [(r["id"], r["val"]) for r in rows] == [(12345, 37035)]
    # file skipping: the scan touched far fewer than the 8 files
    assert 0 < len(got.inputFiles()) <= 3
    full = read_version(spark, tdir).where(F.col("id") == 12345)
    assert len(full.inputFiles()) == 8

    # absent key: empty result, zero or near-zero files scanned
    miss = read_version_point(spark, tdir, "id", 999999)
    assert miss.count() == 0


def test_bloom_index_random_point_reads_exact(spark, tdir):
    """Pruned point reads equal unpruned filters for random keys —
    bloom false positives may widen the scan, never the result."""
    import random

    from pyspark.sql import functions as F

    from tms_etl_spark.operators.bloomindex import (
        build_bloom_index,
        read_version_point,
    )
    from tms_etl_spark.operators.versioned import write_version

    rng = random.Random(11)
    write_version(
        spark.range(0, 5000).select(
            F.col("id"), (F.col("id") % 97).alias("val")
        ).repartition(6, "id"),
        tdir,
        "append",
    )
    build_bloom_index(spark, tdir, "id")
    full = read_version(spark, tdir)
    for _ in range(10):
        k = rng.randrange(0, 6000)  # some misses too
        got = {
            (r["id"], r["val"])
            for r in read_version_point(spark, tdir, "id", k).collect()
        }
        exp = {
            (r["id"], r["val"])
            for r in full.where(F.col("id") == k).collect()
        }
        assert got == exp


def test_bloom_index_unindexed_files_still_scanned(spark, tdir):
    """Files appended AFTER the index build aren't in the sidecar —
    they must be scanned conservatively, not skipped."""
    from pyspark.sql import functions as F

    from tms_etl_spark.operators.bloomindex import (
        build_bloom_index,
        read_version_point,
    )
    from tms_etl_spark.operators.versioned import write_version

    write_version(
        spark.range(0, 1000).select("id", (F.col("id")).alias("val"))
        .repartition(4, "id"),
        tdir,
        "append",
    )
    build_bloom_index(spark, tdir, "id")
    write_version(
        spark.createDataFrame([(55555, 1)], "id long, val long"),
        tdir,
        "append",
    )
    # index was built at v1; the v2 read has no v2 index -> fallback
    got = read_version_point(spark, tdir, "id", 55555).collect()
    assert [(r["id"], r["val"]) for r in got] == [(55555, 1)]


def test_pruned_multi_predicate_read(spark, tdir):
    """AND-of-predicates pruning: a file is skipped when ANY zonemap
    proves it empty; results equal the unpruned filter exactly."""
    from pyspark.sql import functions as F

    from tms_etl_spark.operators.versioned import (
        read_version_pruned_multi,
        write_version,
    )

    # range-clustered on id -> tight id zonemaps per file
    for lo in range(0, 4000, 1000):
        write_version(
            spark.range(lo, lo + 1000).select(
                "id",
                (F.col("id") % 13).alias("m"),
                (F.col("id") * 2).alias("v"),
            ).repartition(1),
            tdir,
            "append",
        )
    got = read_version_pruned_multi(
        spark, tdir, [("id", ">=", 1500), ("id", "<", 1600), ("m", "=", 5)]
    )
    exp = (
        read_version(spark, tdir)
        .where((F.col("id") >= 1500) & (F.col("id") < 1600) & (F.col("m") == 5))
        .collect()
    )
    assert sorted((r["id"], r["v"]) for r in got.collect()) == sorted(
        (r["id"], r["v"]) for r in exp
    )
    # only the one file covering [1000, 2000) survives pruning
    assert len(got.inputFiles()) == 1


def test_optimize_zorder_tightens_both_dimensions(spark, tdir):
    """OPTIMIZE ZORDER BY (x, y): after Morton-key clustering, a
    selective predicate on EITHER column prunes files via
    read_version_pruned_multi — the 2-D layout parity check."""
    from pyspark.sql import functions as F

    from tms_etl_spark.operators.versioned import (
        optimize_version,
        read_version_pruned_multi,
        write_version,
    )

    write_version(
        spark.range(0, 40000).select(
            (F.col("id") % 200).alias("x"),
            ((F.col("id") * 7919) % 200).alias("y"),
            F.col("id").alias("payload"),
        ).repartition(8),
        tdir,
        "append",
    )
    optimize_version(
        spark, tdir, target_file_bytes=40_000, zorder_by=("x", "y")
    )
    total = len(read_version(spark, tdir).inputFiles())
    assert total >= 4  # compaction produced a multi-file layout
    for col in ("x", "y"):
        got = read_version_pruned_multi(
            spark, tdir, [(col, ">=", 10), (col, "<", 20)]
        )
        exp = (
            read_version(spark, tdir)
            .where((F.col(col) >= 10) & (F.col(col) < 20))
            .count()
        )
        assert got.count() == exp
        assert len(got.inputFiles()) < total  # pruning bit on this dim


def test_checked_write_constraints_and_schema(spark, tdir, tmp_path):
    from pyspark.sql import functions as F

    from tms_etl_spark.operators.versioned import (
        ExpectationViolation,
        write_version_checked,
    )

    qdir = str(tmp_path / "quarantine")
    ok = spark.createDataFrame([(1, 10), (2, 20)], "id long, val long")
    write_version_checked(ok, tdir, check_constraints=["val >= 0"])
    assert read_version(spark, tdir).count() == 2

    # violation without quarantine: refused, nothing committed
    bad = spark.createDataFrame([(3, -5), (4, 40)], "id long, val long")
    with pytest.raises(ExpectationViolation, match="violate"):
        write_version_checked(bad, tdir, check_constraints=["val >= 0"])
    assert read_version(spark, tdir).count() == 2

    # with quarantine: clean rows land here, dirty rows THERE
    write_version_checked(
        bad, tdir, check_constraints=["val >= 0"], quarantine_dir=qdir
    )
    assert {r["id"] for r in read_version(spark, tdir).collect()} == {1, 2, 4}
    assert {r["id"] for r in read_version(spark, qdir).collect()} == {3}

    # strict schema: extra column refused; evolve: allowed
    wide = spark.createDataFrame(
        [(5, 50, "x")], "id long, val long, note string"
    )
    with pytest.raises(ExpectationViolation, match="schema"):
        write_version_checked(wide, tdir)
    write_version_checked(wide, tdir, schema_policy="evolve")
    assert read_version(spark, tdir).where(F.col("id") == 5).count() == 1
    # type change always refused
    retyped = spark.createDataFrame([(6, "oops")], "id long, val string")
    with pytest.raises(ExpectationViolation, match="schema"):
        write_version_checked(retyped, tdir, schema_policy="evolve")


def test_stream_write_checked_quarantines(spark, tdir, tmp_path):
    """Streaming sink with constraints: bad rows divert to the
    quarantine table, clean rows commit, exactly-once preserved."""
    from tms_etl_spark.operators.versioned import stream_write_versioned

    src = tmp_path / "in"
    src.mkdir()
    qdir = str(tmp_path / "dead")
    cp = str(tmp_path / "cp")
    schema = "id long, val long"
    spark.createDataFrame(
        [(1, 10), (2, -7), (3, 30)], schema
    ).coalesce(1).write.parquet(str(src / "b0"))
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = stream_write_versioned(
        stream,
        tdir,
        cp,
        check_constraints=["val >= 0"],
        quarantine_dir=qdir,
    )
    q.awaitTermination(120)
    assert {r["id"] for r in read_version(spark, tdir).collect()} == {1, 3}
    assert {r["id"] for r in read_version(spark, qdir).collect()} == {2}


# ---- round-6 advice regressions ------------------------------------


def test_merge_basename_collision_rewrites_right_file(spark, tdir):
    """ADVICE r5 (medium): merge_version used to map probe results
    back to rel paths by file BASENAME. commit_existing_dir admits
    arbitrary dirs, so two live files can share a basename; the old
    dict silently resolved to the wrong file — the untouched file was
    marked dead and the truly-touched one stayed live, duplicating
    matched keys. Pin the full-path mapping: two colliding basenames,
    source touching only one, final state exact."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tms_etl_spark.operators.versioned import (
        commit_existing_dir,
        merge_version,
    )

    # dir committed FIRST holds the touched key; the later dir's file
    # shares the basename and a COVERING zonemap ([0,20] spans 12) so
    # it stays a candidate — the exact shape where basename-last-wins
    # picked the wrong file.
    os.makedirs(f"{tdir}/data/bulk-touched")
    pq.write_table(
        pa.table({"id": [12], "val": [999]}),
        f"{tdir}/data/bulk-touched/part-0.parquet",
    )
    os.makedirs(f"{tdir}/data/bulk-cold")
    pq.write_table(
        pa.table({"id": [0, 20], "val": [0, 200]}),
        f"{tdir}/data/bulk-cold/part-0.parquet",
    )
    commit_existing_dir(spark, tdir, "data/bulk-touched", "append")
    commit_existing_dir(spark, tdir, "data/bulk-cold", "append")

    src = spark.createDataFrame([(12, 1200)], "id long, val long")
    v = merge_version(spark, tdir, src, "id", "update")
    man = _manifest(tdir, v)
    dead = set(man.get("dead_files", []))
    assert dead == {"data/bulk-touched/part-0.parquet"} or (
        "data/bulk-touched" not in man["dirs"]
    )
    rows = {r["id"]: r["val"] for r in read_version(spark, tdir).collect()}
    assert rows == {0: 0, 12: 1200, 20: 200}


def test_merge_rejects_null_source_keys(spark, tdir):
    """ADVICE r5 (low): NULL source keys got a misleading
    'duplicate key rows' error (count_distinct ignores NULLs). They
    now fail fast with a dedicated message."""
    from tms_etl_spark.operators.versioned import merge_version

    write_version(_df(spark, 0, 5), tdir, "append")
    src = spark.createDataFrame(
        [(None, 10), (1, 11)], "id long, val long"
    )
    with pytest.raises(ValueError, match="NULL-keyed"):
        merge_version(spark, tdir, src, "id", "update")


def test_mv_null_group_values_stay_distinct(spark, tdir, tmp_path):
    """ADVICE r5 (low): concat_ws SKIPS NULLs, so groups ('a', NULL)
    and (NULL, 'a') used to collapse onto one mv_key and trip the
    duplicate-key guard. NULLs are now encoded per-position."""
    from tms_etl_spark.operators.matview import refresh_sum_view

    mv = str(tmp_path / "mv")
    base = spark.createDataFrame(
        [("a", None, 1), (None, "a", 10), (None, None, 100), ("a", "a", 3)],
        "g string, h string, x long",
    )
    write_version(base, tdir, "append")
    assert refresh_sum_view(spark, tdir, mv, ["g", "h"], "x") == 1
    got = {
        (r["g"], r["h"]): int(r["sum_val"])
        for r in read_version(spark, mv).collect()
    }
    assert got == {
        ("a", None): 1,
        (None, "a"): 10,
        (None, None): 100,
        ("a", "a"): 3,
    }
    # incremental refresh over a delta hitting a NULL group still lands
    write_version(
        spark.createDataFrame([("a", None, 5)], "g string, h string, x long"),
        tdir,
        "append",
    )
    assert refresh_sum_view(spark, tdir, mv, ["g", "h"], "x") == 2
    got2 = {
        (r["g"], r["h"]): int(r["sum_val"])
        for r in read_version(spark, mv).collect()
    }
    assert got2[("a", None)] == 6 and got2[(None, "a")] == 10


def test_bloom_index_survives_shuffled_tombstone_state(spark, tdir):
    """ADVICE r5 (low): the index build used to compute
    input_file_name() downstream of the tombstone anti-join — a
    shuffle-executed join (broadcast disabled) yields '' and the
    sidecar indexed no real files, silently degrading point reads to
    full scans. The build now scans live files directly; pin that the
    sidecar carries real paths even with deletes present and
    broadcasting off."""
    from tms_etl_spark.operators.bloomindex import (
        build_bloom_index,
        read_version_point,
    )
    from tms_etl_spark.operators.versioned import delete_rows

    write_version(_df(spark, 0, 2000).repartition(4), tdir, "append")
    delete_rows(
        spark,
        tdir,
        spark.range(0, 2000, 7).select(F.col("id")),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        idx = build_bloom_index(spark, tdir, "id")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    files = [r["file"] for r in spark.read.parquet(idx).select("file").distinct().collect()]
    assert files and all(f.endswith(".parquet") for f in files)
    # exactness: deleted key absent, live key found
    assert read_version_point(spark, tdir, "id", 14).count() == 0
    assert read_version_point(spark, tdir, "id", 15).count() == 1


def test_merge_touched_cap_falls_back_to_full_candidate_rewrite(
    spark, tdir, monkeypatch
):
    """VERDICT r5 item 7: the touched-file discovery collect is
    bounded by _MERGE_TOUCHED_CAP; past it the merge rewrites every
    candidate file (coarser copy-on-write, same correctness). Pin the
    fallback with a cap of 1 and a merge touching 2 files."""
    from tms_etl_spark.operators import versioned

    write_version(_df(spark, 0, 50).repartition(1), tdir, "append")
    write_version(_df(spark, 50, 100).repartition(1), tdir, "append")
    monkeypatch.setattr(versioned, "_MERGE_TOUCHED_CAP", 1)
    src = spark.createDataFrame(
        [(10, -1), (60, -2)], "id long, val long"
    )
    v = versioned.merge_version(spark, tdir, src, "id", "update")
    man = _manifest(tdir, v)
    # both batches' files rewritten (all candidates): no pre-merge
    # data dir survives
    assert all("-merge-" in d for d in man["dirs"])
    rows = {r["id"]: r["val"] for r in read_version(spark, tdir).collect()}
    assert rows[10] == -1 and rows[60] == -2 and rows[0] == 0
    assert len(rows) == 100


# ---- round-6: row-level CDC diff -----------------------------------


def test_rowdiff_append_only_is_all_inserts(spark, tdir):
    from tms_etl_spark.operators.versioned import read_version_rowdiff

    write_version(_df(spark, 0, 5), tdir, "append")
    write_version(_df(spark, 5, 8), tdir, "append")
    d = read_version_rowdiff(spark, tdir, "id", 1).collect()
    assert {(r["id"], r["op"], r["val"]) for r in d} == {
        (5, "insert", 50), (6, "insert", 60), (7, "insert", 70)
    }


def test_rowdiff_merge_delete_and_noop(spark, tdir):
    """MERGE rewrite + deletion vector + untouched rows: updates carry
    post-images, deletes carry pre-images, rows rewritten with
    identical values emit nothing."""
    from tms_etl_spark.operators.versioned import (
        delete_rows,
        merge_version,
        read_version_rowdiff,
    )

    write_version(_df(spark, 0, 10).repartition(2), tdir, "append")
    # update ids 2,3 (3 -> same value: a no-op rewrite), insert 100
    src = spark.createDataFrame(
        [(2, 999), (3, 30), (100, 1000)], "id long, val long"
    )
    merge_version(spark, tdir, src, "id", "update")
    delete_rows(spark, tdir, spark.createDataFrame([(7,)], "id long"))
    d = read_version_rowdiff(spark, tdir, "id", 1).collect()
    assert {(r["id"], r["op"], r["val"]) for r in d} == {
        (2, "update", 999),
        (100, "insert", 1000),
        (7, "delete", 70),
    }
    # sub-range diffs: merge only, then delete only
    d12 = read_version_rowdiff(spark, tdir, "id", 1, 2).collect()
    assert {(r["id"], r["op"], r["val"]) for r in d12} == {
        (2, "update", 999), (100, "insert", 1000)
    }
    d23 = read_version_rowdiff(spark, tdir, "id", 2, 3).collect()
    assert {(r["id"], r["op"], r["val"]) for r in d23} == {
        (7, "delete", 70)
    }


def test_rowdiff_compaction_is_empty(spark, tdir):
    from tms_etl_spark.operators.versioned import (
        optimize_version,
        read_version_rowdiff,
    )

    write_version(_df(spark, 0, 6).repartition(3), tdir, "append")
    write_version(_df(spark, 6, 9).repartition(2), tdir, "append")
    optimize_version(spark, tdir)
    assert read_version_rowdiff(spark, tdir, "id", 2).count() == 0
    # but the pre-compaction append still shows through 1 -> latest
    d = read_version_rowdiff(spark, tdir, "id", 1)
    assert {r["id"] for r in d.collect()} == {6, 7, 8}
    assert {r["op"] for r in d.collect()} == {"insert"}


def test_rowdiff_rejects_duplicate_keys(spark, tdir):
    from tms_etl_spark.operators.versioned import read_version_rowdiff

    write_version(_df(spark, 0, 3), tdir, "append")
    dup = spark.createDataFrame([(1, 1), (1, 2)], "id long, val long")
    write_version(dup, tdir, "append")
    with pytest.raises(ValueError, match="duplicate or NULL"):
        read_version_rowdiff(spark, tdir, "id", 1).collect()


def test_rowdiff_overwrite_is_full_replacement(spark, tdir):
    from tms_etl_spark.operators.versioned import read_version_rowdiff

    write_version(_df(spark, 0, 3), tdir, "append")
    write_version(
        spark.createDataFrame([(1, 10), (5, 55)], "id long, val long"),
        tdir,
        "overwrite",
    )
    d = read_version_rowdiff(spark, tdir, "id", 1).collect()
    # 1 keeps its value (no-op), 0/2 vanish, 5 appears
    assert {(r["id"], r["op"], r["val"]) for r in d} == {
        (0, "delete", 0), (2, "delete", 20), (5, "insert", 55)
    }


def test_extend_bloom_index_incremental_matches_rebuild(spark, tdir):
    """extend_bloom_index carries still-live files' bitmaps forward
    and hashes only the new batches; word rows must be identical to a
    from-scratch rebuild, and point reads at the new version must be
    index-routed and exact."""
    from tms_etl_spark.operators.bloomindex import (
        build_bloom_index,
        extend_bloom_index,
        read_version_point,
    )

    write_version(_df(spark, 0, 400).repartition(2), tdir, "append")
    build_bloom_index(spark, tdir, "id")
    write_version(_df(spark, 400, 500).repartition(1), tdir, "append")
    out = extend_bloom_index(spark, tdir, "id")

    got = read_version_point(spark, tdir, "id", 450)
    assert got.count() == 1 and got.head()["val"] == 4500
    assert len(got.inputFiles()) == 1  # routed to the new file only

    rebuilt = build_bloom_index(spark, tdir, "id")
    a = {
        (r["file"], r["word"], r["bits"])
        for r in spark.read.parquet(out).collect()
    }
    b = {
        (r["file"], r["word"], r["bits"])
        for r in spark.read.parquet(rebuilt).collect()
    }
    assert a == b


# ---- round-6: generalized incremental aggregate views --------------


def test_agg_view_incremental_equals_rebuild(spark, tdir, tmp_path):
    """refresh_agg_view across three appends must be bit-identical to
    a from-scratch rebuild: decimal sums, counts, and min/max all
    merge exactly."""
    from tms_etl_spark.operators.matview import (
        rebuild_agg_view,
        refresh_agg_view,
    )

    mv, mv2 = str(tmp_path / "mv"), str(tmp_path / "mv2")
    for lo in (0, 20, 40):
        write_version(
            spark.range(lo, lo + 20).select(
                (F.col("id") % 4).alias("g"),
                (F.col("id") * 1.5).alias("x"),
            ),
            tdir,
            "append",
        )
        refresh_agg_view(
            spark, tdir, mv, ["g"], sum_cols=["x"], minmax_cols=["x"]
        )
    rebuild_agg_view(
        spark, tdir, mv2, ["g"], sum_cols=["x"], minmax_cols=["x"]
    )
    inc = {
        r["g"]: (r["n_rows"], r["sum_x"], r["min_x"], r["max_x"])
        for r in read_version(spark, mv).collect()
    }
    full = {
        r["g"]: (r["n_rows"], r["sum_x"], r["min_x"], r["max_x"])
        for r in read_version(spark, mv2).collect()
    }
    assert inc == full and len(inc) == 4
    assert inc[0][0] == 15 and inc[0][2] == 0.0 and inc[0][3] == 84.0


def test_agg_view_null_delta_keeps_extrema(spark, tdir, tmp_path):
    """A delta whose group has only NULL measure values must add to
    the count but leave min/max in place (least/greatest skip NULLs)
    and add 0 to the sum (decimal sum of nulls is NULL -> coalesce)."""
    from tms_etl_spark.operators.matview import refresh_agg_view

    mv = str(tmp_path / "mv")
    write_version(
        spark.createDataFrame([("a", 5.0), ("a", 1.0)], "g string, x double"),
        tdir,
        "append",
    )
    refresh_agg_view(spark, tdir, mv, ["g"], sum_cols=["x"], minmax_cols=["x"])
    write_version(
        spark.createDataFrame(
            [("a", None)], "g string, x double"
        ),
        tdir,
        "append",
    )
    refresh_agg_view(spark, tdir, mv, ["g"], sum_cols=["x"], minmax_cols=["x"])
    r = read_version(spark, mv).head()
    assert r["n_rows"] == 3
    assert float(r["sum_x"]) == 6.0
    assert r["min_x"] == 1.0 and r["max_x"] == 5.0


def test_agg_view_nonappend_raises_and_rebuilds(spark, tdir, tmp_path):
    from tms_etl_spark.operators.matview import (
        rebuild_agg_view,
        refresh_agg_view,
    )

    mv = str(tmp_path / "mv")
    write_version(_df(spark, 0, 10), tdir, "append")
    refresh_agg_view(spark, tdir, mv, ["id"], sum_cols=["val"])
    write_version(_df(spark, 0, 5), tdir, "overwrite")
    with pytest.raises(ValueError):
        refresh_agg_view(spark, tdir, mv, ["id"], sum_cols=["val"])
    rebuild_agg_view(spark, tdir, mv, ["id"], sum_cols=["val"])
    assert read_version(spark, mv).count() == 5


def test_apply_rowdiff_replicates_source(spark, tdir, tmp_path):
    """CDC pair round-trip: diff the source's version chain with
    read_version_rowdiff and apply each feed to a replica — the
    replica must converge to the source snapshot after every step,
    and a replayed feed (same txn) must be a no-op."""
    from tms_etl_spark.operators.versioned import (
        apply_rowdiff,
        delete_rows,
        merge_version,
        read_version_rowdiff,
    )

    rep = str(tmp_path / "replica")

    def snap(d):
        from tms_etl_spark.operators.versioned import read_version

        return {
            (r["id"], r["val"]) for r in read_version(spark, d).collect()
        }

    # v1: bootstrap both sides identically
    write_version(_df(spark, 0, 20).repartition(2), tdir, "append")
    write_version(_df(spark, 0, 20).repartition(2), rep, "append")

    # source mutations: merge (update 3, insert 100), vector delete 7
    merge_version(
        spark,
        tdir,
        spark.createDataFrame([(3, -3), (100, 1)], "id long, val long"),
        "id",
        "update",
    )
    delete_rows(spark, tdir, spark.createDataFrame([(7,)], "id long"))

    feed = read_version_rowdiff(spark, tdir, "id", 1)
    apply_rowdiff(spark, rep, feed, "id", txn_id="feed-1")
    assert snap(rep) == snap(tdir)

    # replay: same txn must change nothing
    v_before = current_version(spark, rep)
    apply_rowdiff(spark, rep, feed, "id", txn_id="feed-1")
    assert current_version(spark, rep) == v_before
    assert snap(rep) == snap(tdir)

    # bad op rejected
    bad = feed.withColumn(
        "op", F.lit("truncate")
    )
    with pytest.raises(ValueError, match="unknown ops"):
        apply_rowdiff(spark, rep, bad, "id")


def test_timestamp_time_travel(spark, tdir):
    """version_asof resolves TIMESTAMP AS OF from the commit stamps
    written at the atomic commit point; pre-stamp manifests fall back
    to file mtime."""
    import json
    import pathlib
    import time

    from tms_etl_spark.operators.versioned import (
        read_version_asof,
        version_asof,
    )

    write_version(_df(spark, 0, 5), tdir, "append")
    t1 = time.time()
    time.sleep(0.05)
    write_version(_df(spark, 5, 9), tdir, "append")
    t2 = time.time()

    assert version_asof(spark, tdir, t1) == 1
    assert version_asof(spark, tdir, t2) == 2
    assert read_version_asof(spark, tdir, t1).count() == 5
    assert read_version_asof(spark, tdir, t2).count() == 9
    with pytest.raises(ValueError, match="at or before"):
        version_asof(spark, tdir, t1 - 3600)
    # ISO-string form
    import datetime

    utc = datetime.timezone.utc
    iso = datetime.datetime.fromtimestamp(t2, tz=utc).isoformat()
    assert version_asof(spark, tdir, iso) == 2
    # offset-less ISO strings are documented UTC — same resolution as
    # the explicit +00:00 form, independent of the driver host's zone
    naive = datetime.datetime.fromtimestamp(t2, tz=utc).replace(
        tzinfo=None
    )
    assert version_asof(spark, tdir, naive.isoformat()) == 2
    assert version_asof(
        spark, tdir, (naive - datetime.timedelta(seconds=t2 - t1)).isoformat()
    ) == 1
    # legacy manifest without committed_at: mtime fallback
    mp = pathlib.Path(tdir) / "_manifests" / "v000001.json"
    man = json.loads(mp.read_text())
    del man["committed_at"]
    mp.write_text(json.dumps(man))  # rewrite bumps mtime to "now"
    assert version_asof(spark, tdir, time.time() + 1) == 2
    # the legacy manifest resolves by its (fresh) mtime, not an error
    assert version_asof(spark, tdir, time.time() + 1) >= 1


def test_repair_table_clears_stale_debris(spark, tdir):
    import pathlib

    from tms_etl_spark.operators.versioned import (
        ConcurrentWriteError,
        repair_table,
    )

    write_version(_df(spark, 0, 5), tdir, "append")
    man_dir = pathlib.Path(tdir) / "_manifests"
    # dead writer's debris for v2
    (man_dir / "v000002.json.lock").touch()
    (man_dir / "v000002.json.abc123.tmp").write_text("{}")
    # the stale lock blocks v2 commits
    with pytest.raises(ConcurrentWriteError):
        write_version(_df(spark, 5, 9), tdir, "append")
    # young debris is protected...
    assert repair_table(spark, tdir, stale_lock_seconds=3600) == {
        "stale_locks": 0, "orphan_tmps": 0
    }
    # ...but past the threshold it's cleared and commits resume
    assert repair_table(spark, tdir, stale_lock_seconds=0) == {
        "stale_locks": 1, "orphan_tmps": 1
    }
    assert write_version(_df(spark, 5, 9), tdir, "append") == 2
    assert read_version(spark, tdir).count() == 9


def test_vacuum_indexes_keeps_newest(spark, tdir):
    import pathlib

    from tms_etl_spark.operators.bloomindex import (
        build_bloom_index,
        read_version_point,
    )
    from tms_etl_spark.operators.textindex import (
        build_text_index,
        extend_text_index,
    )
    from tms_etl_spark.operators.versioned import vacuum_indexes

    write_version(
        _df(spark, 0, 100)
        .selectExpr("id", "val", "concat('w', id % 5) AS text"),
        tdir,
        "append",
    )
    build_bloom_index(spark, tdir, "id")
    build_text_index(spark, tdir, "text")
    for lo in (100, 200):
        write_version(
            _df(spark, lo, lo + 100)
            .selectExpr("id", "val", "concat('w', id % 5) AS text"),
            tdir,
            "append",
        )
        extend_text_index(spark, tdir, "text")
    # text index: v1, v2, v3 sidecars; bloom: v1 only
    assert vacuum_indexes(spark, tdir, keep_last=1) == 2
    idx_root = pathlib.Path(tdir) / "_indexes"
    assert sorted(p.name for p in (idx_root / "text_text").iterdir()) == [
        "v000003-tokens"
    ]
    # searches still work: current version routed, old version falls
    # back to the plain scan (sidecar gone = conservative, not wrong)
    from tms_etl_spark.operators.textindex import search_token

    assert search_token(spark, tdir, "text", "w0").count() == 60
    assert (
        search_token(spark, tdir, "text", "w0", version=1).count() == 20
    )
    assert read_version_point(spark, tdir, "id", 42).count() == 1


def test_rowdiff_replication_model_based(spark, tdir, tmp_path):
    """Model-based pin of the CDC pair: a random-but-seeded sequence
    of appends / merges / deletes / compactions on the source; after
    every step the rowdiff feed (prev -> cur) is applied to a replica
    and the two snapshots must be identical. Covers the interactions
    no single-shot test hits (merge after delete, compaction no-ops,
    delete of a just-merged key, re-insert after delete)."""
    import random

    from tms_etl_spark.operators.versioned import (
        apply_rowdiff,
        delete_rows,
        merge_version,
        optimize_version,
        read_version_rowdiff,
    )

    rng = random.Random(1234)

    def snap(d):
        return {
            (r["id"], r["val"]) for r in read_version(spark, d).collect()
        }

    rep = str(tmp_path / "replica")
    write_version(_df(spark, 0, 30).repartition(2), tdir, "append")
    write_version(_df(spark, 0, 30).repartition(2), rep, "append")
    next_id = 1000
    for step in range(8):
        prev_v = current_version(spark, tdir)
        op = rng.choice(["append", "merge", "delete", "compact"])
        if op == "append":
            write_version(
                _df(spark, next_id, next_id + 10), tdir, "append"
            )
            next_id += 10
        elif op == "merge":
            live = sorted({i for i, _ in snap(tdir)})
            picks = rng.sample(live, min(4, len(live)))
            src = spark.createDataFrame(
                [(i, rng.randrange(10_000)) for i in picks]
                + [(next_id, -1)],
                "id long, val long",
            )
            merge_version(spark, tdir, src, "id", "update")
            next_id += 1
        elif op == "delete":
            live = sorted({i for i, _ in snap(tdir)})
            picks = rng.sample(live, min(3, len(live)))
            delete_rows(
                spark,
                tdir,
                spark.createDataFrame([(i,) for i in picks], "id long"),
            )
        else:
            optimize_version(spark, tdir)
        feed = read_version_rowdiff(spark, tdir, "id", prev_v)
        apply_rowdiff(spark, rep, feed, "id", txn_id=f"step-{step}")
        assert snap(rep) == snap(tdir), (step, op)


def test_agg_view_hll_ndv_incremental_equals_rebuild(spark, tdir, tmp_path):
    """HLL union is a register max-merge — order-independent — so
    the incrementally-maintained sketch must ESTIMATE identically to
    the single-pass rebuild (serialized bytes may differ: union can
    re-encode the internal representation), and the estimate must
    track the exact distinct count."""
    from tms_etl_spark.operators.matview import (
        rebuild_agg_view,
        refresh_agg_view,
    )

    mv, mv2 = str(tmp_path / "mv"), str(tmp_path / "mv2")
    for lo in (0, 500):
        write_version(
            spark.range(lo, lo + 500).select(
                (F.col("id") % 2).alias("g"),
                (F.col("id") % 97).alias("u"),  # overlapping values
            ),
            tdir,
            "append",
        )
        refresh_agg_view(spark, tdir, mv, ["g"], ndv_cols=["u"])
    rebuild_agg_view(spark, tdir, mv2, ["g"], ndv_cols=["u"])

    def est_of(d):
        return {
            r["g"]: r["ndv"]
            for r in read_version(spark, d)
            .select("g", F.hll_sketch_estimate("hll_u").alias("ndv"))
            .collect()
        }

    # serialized sketch bytes can differ (union may re-encode the
    # internal representation); the ESTIMATE is the contract
    assert est_of(mv) == est_of(mv2)
    est = {
        r["g"]: r["ndv"]
        for r in read_version(spark, mv)
        .select("g", F.hll_sketch_estimate("hll_u").alias("ndv"))
        .collect()
    }
    # exact distinct is 97 per group (ids mod 97 cover all residues)
    for g in (0, 1):
        assert abs(est[g] - 97) <= 5


def test_merge_cluster_by_keeps_pruning_tight(spark, tdir):
    """A cluster_by MERGE rewrite range-partitions + sorts its output
    so the new files carry DISJOINT key ranges — a narrow pruned read
    after the merge must skip most of the rewrite."""
    from tms_etl_spark.operators.versioned import (
        merge_version,
        read_version_pruned,
    )

    # unclustered commit: round-robin shuffle gives every file the
    # full key range (zonemaps useless)
    write_version(_df(spark, 0, 20_000).repartition(4), tdir, "append")
    # a source touching EVERY file forces a full clustered rewrite
    src = spark.range(0, 20_000, 100).select(
        "id", (-F.col("id")).alias("val")
    )
    merge_version(
        spark, tdir, src, "id", "update",
        cluster_by="id", cluster_partitions=4,
    )
    full = read_version(spark, tdir)
    n_files = len(full.inputFiles())
    assert n_files == 4  # the pinned range split
    pruned = read_version_pruned(spark, tdir, "id", "<", 100)
    assert len(pruned.inputFiles()) == 1  # disjoint ranges: 3 skipped
    assert pruned.count() == 100
    rows = {r["id"]: r["val"] for r in full.collect()}
    assert rows[100] == -100 and rows[5] == 50 and len(rows) == 20_000


def test_stream_sink_maintains_indexes(spark, tdir, tmp_path):
    """Streaming sink with maintain_indexes: after the stream drains,
    point reads and keyword searches must be INDEX-ROUTED (sidecar at
    the final version exists and prunes), with each batch paying only
    the incremental extension."""
    from tms_etl_spark.operators.bloomindex import read_version_point
    from tms_etl_spark.operators.textindex import search_token
    from tms_etl_spark.operators.versioned import stream_write_versioned

    src = tmp_path / "in"
    src.mkdir()
    cp = str(tmp_path / "cp")
    schema = "id long, body string"
    for b in range(3):
        spark.createDataFrame(
            [(b * 10 + i, f"tok{b} common") for i in range(10)], schema
        ).coalesce(1).write.parquet(str(src / f"b{b}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = stream_write_versioned(
        stream,
        tdir,
        cp,
        maintain_indexes={"bloom": ["id"], "text": ["body"]},
    )
    q.awaitTermination(180)
    assert read_version(spark, tdir).count() == 30
    got = search_token(spark, tdir, "body", "tok1")
    assert len(got.inputFiles()) == 1  # routed: two batches skipped
    assert {r["id"] for r in got.collect()} == set(range(10, 20))
    assert read_version_point(spark, tdir, "id", 25).count() == 1


def test_register_versioned_sql_views(spark, tdir):
    from tms_etl_spark.operators.versioned import register_versioned

    write_version(_df(spark, 0, 10), tdir, "append")
    write_version(_df(spark, 10, 15), tdir, "append")
    register_versioned(spark, tdir, "vt")
    assert spark.sql("SELECT COUNT(*) AS n FROM vt").head()["n"] == 15
    hist = spark.sql(
        "SELECT version, op, committed_at FROM vt__history ORDER BY version"
    ).collect()
    assert [r["version"] for r in hist] == [1, 2]
    assert all(r["committed_at"] is not None for r in hist)
    # time travel via the version kwarg
    register_versioned(spark, tdir, "vt_old", version=1)
    assert spark.sql("SELECT COUNT(*) AS n FROM vt_old").head()["n"] == 10
    with pytest.raises(ValueError, match="mutually exclusive"):
        register_versioned(spark, tdir, "x", version=1, asof=0)


def test_zorder_k_matches_python_reference(spark):
    """zorder_key_k bit placement: dimension d's bit b lands at
    output position b*K + d — checked against a Python reference on
    exhaustive small values."""
    from itertools import product

    from tms_etl_spark.operators.layout import zorder_key_k

    def ref(vals, bits, k):
        out = 0
        for d, v in enumerate(vals):
            v &= (1 << bits) - 1
            for b in range(bits):
                out |= ((v >> b) & 1) << (b * k + d)
        return out

    triples = list(product(range(8), repeat=3))
    df = spark.createDataFrame(triples, "x long, y long, z long")
    got = {
        (r["x"], r["y"], r["z"]): r["zvalue"]
        for r in df.select(
            "x", "y", "z", zorder_key_k(["x", "y", "z"], bits=3)
        ).collect()
    }
    for t in triples:
        assert got[t] == ref(t, 3, 3), t
    with pytest.raises(ValueError):
        zorder_key_k(["x"])
    with pytest.raises(ValueError):
        zorder_key_k(["x", "y", "z"], bits=22)


def test_optimize_zorder_three_columns_prunes_all_dims(spark, tdir):
    """3-column ZORDER: after compaction, a point/range predicate on
    ANY of the three columns must skip most files."""
    from tms_etl_spark.operators.versioned import (
        optimize_version,
        read_version_pruned,
    )

    n = 4096
    df = spark.range(n).select(
        "id",
        (F.col("id") % 13).alias("a"),
        ((F.col("id") * 7) % 17).alias("b"),
        ((F.col("id") * 31) % 11).alias("c"),
    )
    write_version(df.repartition(8), tdir, "append")
    optimize_version(
        spark,
        tdir,
        target_file_bytes=1_500,
        zorder_by=("a", "b", "c"),
    )
    total = len(read_version(spark, tdir).inputFiles())
    # enough z-range cuts that every dimension's top bit is
    # constrained in some files (too few files = only the
    # highest-interleaved dim prunes)
    assert total >= 16
    for col, val, expect in (("a", 0, n // 13 + 1), ("b", 0, n // 17 + 1),
                             ("c", 0, n // 11 + 1)):
        pr = read_version_pruned(spark, tdir, col, "=", val)
        assert len(pr.inputFiles()) < total, col
        assert abs(pr.count() - expect) <= 1, col


def test_zorder_k2_equals_masked_fast_path(spark):
    """For K=2 the generic interleave must equal the masked-spread
    fast path bit-for-bit (same even/odd layout) — the two
    implementations cross-check each other."""
    from tms_etl_spark.operators.layout import zorder_key, zorder_key_k

    df = spark.range(500).select(
        (F.col("id") * 7919 % 65536).alias("x"),
        (F.col("id") * 104729 % 65536).alias("y"),
    )
    rows = df.select(
        zorder_key("x", "y").alias("fast"),
        zorder_key_k(["x", "y"], bits=16).alias("generic"),
    ).collect()
    assert all(r["fast"] == r["generic"] for r in rows)


def test_rowdiff_self_is_empty(spark, tdir):
    from tms_etl_spark.operators.versioned import read_version_rowdiff

    write_version(_df(spark, 0, 5), tdir, "append")
    write_version(_df(spark, 5, 8), tdir, "append")
    assert read_version_rowdiff(spark, tdir, "id", 2, 2).count() == 0


def test_maintain_table_one_call(spark, tdir, tmp_path):
    """maintain_table chains repair + incremental compact + expire +
    index vacuum; small-file debt is consolidated, the table reads
    back unchanged, and a second run is a no-op (no empty commits)."""
    from tms_etl_spark.operators.versioned import (
        current_version,
        maintain_table,
    )

    for i in range(4):  # small-file debt: four tiny appends
        write_version(_df(spark, i * 5, i * 5 + 5), tdir, "append")
    out = maintain_table(
        spark, tdir, min_file_bytes=1 << 20, keep_last=10
    )
    assert out["compacted"] is True
    assert read_version(spark, tdir).count() == 20
    v = current_version(spark, tdir)
    out2 = maintain_table(spark, tdir, min_file_bytes=1 << 20)
    assert out2["compacted"] is False
    assert current_version(spark, tdir) == v  # idempotent: no new commit


def test_count_rows_metadata_only(spark, tdir):
    """COUNT(*) from manifest metadata: appends, MERGE rewrites, and
    compaction all keep per-file row counts exact; deletion vectors
    force the subtracted-scan fallback (still exact)."""
    from tms_etl_spark.operators.versioned import (
        _manifest_path,
        _read_json,
        count_rows,
        count_rows_metadata,
        delete_rows,
        merge_version,
        optimize_version,
    )

    write_version(_df(spark, 0, 50), tdir, "append")
    write_version(_df(spark, 50, 80), tdir, "append")
    assert count_rows(spark, tdir) == 80
    assert count_rows(spark, tdir, version=1) == 50
    # MERGE: rewritten files' counts die with them, new dir's counts in
    src = spark.createDataFrame([(5, 1), (200, 2)], "id long, val long")
    merge_version(spark, tdir, src, "id", "update")
    assert count_rows(spark, tdir) == 81
    optimize_version(spark, tdir)
    assert count_rows(spark, tdir) == 81
    # metadata path is actually used (no deletes → non-None)
    man = _read_json(spark, _manifest_path(tdir, 4))
    assert count_rows_metadata(man) == 81
    # tombstones: metadata refuses, scan fallback stays exact
    delete_rows(
        spark, tdir, spark.createDataFrame([(7,), (8,)], "id long")
    )
    man = _read_json(spark, _manifest_path(tdir, 5))
    assert count_rows_metadata(man) is None
    assert count_rows(spark, tdir) == 79


def test_count_rows_metadata_partition_filter(spark, tmp_path):
    """The touched-month count an import reports,
    ``count_rows_metadata(man, (col, values))``, equals the filtered
    scan on a clean month-partitioned table and refuses (None, so the
    caller scans) after a delete or when files span months."""
    from tms_etl_spark.operators.versioned import (
        _manifest_path,
        _read_json,
        count_rows_metadata,
        delete_rows,
        merge_version,
    )

    def meta_and_scan(tdir, months):
        man = _read_json(
            spark, _manifest_path(tdir, current_version(spark, tdir))
        )
        scan = read_version(spark, tdir).where(F.col("month").isin(months))
        return count_rows_metadata(man, ("month", months)), scan.count()

    rows = spark.range(60).select(
        "id",
        (F.col("id") * 10).alias("val"),
        F.format_string("2024-%02d", F.col("id") % 3 + 1).alias("month"),
    )
    part = str(tmp_path / "part")
    write_version(rows, part, "append", partition_by=["month"])
    merge_version(
        spark,
        part,
        spark.createDataFrame(
            [(5, 1, "2024-03"), (100, 2, "2024-01")],
            "id long, val long, month string",
        ),
        "id",
    )
    for months, want in (
        (["2024-01"], 21),
        (["2024-01", "2024-03"], 41),
        (["2025-01"], 0),
    ):
        assert meta_and_scan(part, months) == (want, want)
    delete_rows(spark, part, spark.createDataFrame([(3,)], "id long"))
    assert meta_and_scan(part, ["2024-01"]) == (None, 20)
    flat = str(tmp_path / "flat")
    write_version(rows.coalesce(1), flat, "append")
    assert meta_and_scan(flat, ["2024-01"]) == (None, 20)


def test_analyze_table_stats_sidecar(spark, tdir):
    """ANALYZE: one-pass ndv/null/min-max statistics stored as a
    derived sidecar, readable without a scan, version-scoped."""
    from pyspark.sql import functions as F

    from tms_etl_spark.operators.versioned import (
        analyze_table,
        read_table_stats,
    )

    df = spark.range(0, 100).select(
        "id",
        (F.col("id") % 10).alias("bucket"),
        F.when(F.col("id") % 4 == 0, None)
        .otherwise(F.col("id") * 1.5)
        .alias("val"),
    )
    write_version(df, tdir, "append")
    got = analyze_table(spark, tdir)
    assert got["n_rows"] == 100
    assert got["columns"]["bucket"]["ndv"] == 10
    assert got["columns"]["val"]["null_count"] == 25
    assert got["columns"]["id"]["min"] == 0
    assert got["columns"]["id"]["max"] == 99
    # sidecar readable cold, version-scoped, absent for unanalyzed
    assert read_table_stats(spark, tdir) == got
    write_version(spark.range(100, 110).select(
        "id", (F.col("id") % 10).alias("bucket"),
        (F.col("id") * 1.5).alias("val")), tdir, "append")
    assert read_table_stats(spark, tdir) is None  # v2 not analyzed
    assert read_table_stats(spark, tdir, version=1) == got
    with pytest.raises(ValueError, match="unknown column"):
        analyze_table(spark, tdir, cols=["nope"])


def test_analyze_stats_drive_broadcast_join(spark, tdir):
    """ANALYZE statistics must DO planning work (Delta-style): a
    mostly-deleted dimension whose on-disk bytes exceed the broadcast
    threshold reads through a deletion-vector anti-join, so Catalyst
    over-estimates it and sort-merges every join against it — the
    sidecar's post-delete n_rows proves it tiny, and re-registering
    the view applies a broadcast hint."""
    from pyspark.sql import functions as F

    from tms_etl_spark.operators.versioned import (
        analyze_table,
        delete_rows,
        estimated_size_bytes,
        register_versioned,
        write_version,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1MB")
    try:
        dim = spark.range(0, 150_000).select(
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("nm"),
        )
        write_version(dim, tdir, "append")
        delete_rows(
            spark,
            tdir,
            spark.range(200, 150_000).select(F.col("id").alias("k")),
        )
        spark.range(0, 500_000).select(
            (F.col("id") % 200).alias("k"), F.col("id").alias("v")
        ).createOrReplaceTempView("fact_stats_test")
        q = (
            "SELECT f.k, sum(f.v) AS s, max(d.nm) AS m "
            "FROM fact_stats_test f JOIN dim_stats_test d ON f.k = d.k "
            "GROUP BY f.k"
        )

        def plan() -> str:
            jdf = spark.sql(q)._jdf
            return jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )

        register_versioned(spark, tdir, "dim_stats_test")
        p1 = plan()
        # the FACT join sort-merges (the internal tombstone anti-join
        # may broadcast; the dim side estimate is still file-sized)
        assert "SortMergeJoin" in p1
        stats = analyze_table(spark, tdir)
        assert stats["n_rows"] == 200
        est = estimated_size_bytes(
            stats, spark.table("dim_stats_test").schema
        )
        assert est is not None and est < (1 << 20)
        register_versioned(spark, tdir, "dim_stats_test")
        p2 = plan()
        assert "BroadcastHashJoin" in p2 and "SortMergeJoin" not in p2
        # opt-out keeps the unhinted plan
        register_versioned(spark, tdir, "dim_stats_test", use_stats=False)
        assert "SortMergeJoin" in plan()
        # the hint changes strategy, not results
        register_versioned(spark, tdir, "dim_stats_test")
        got = spark.sql(q).agg(F.count("*").alias("c")).head()["c"]
        assert got == 200
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_broadcast_threshold_parsing_and_size_estimate(spark):
    from pyspark.sql import types as T

    from tms_etl_spark.operators.versioned import (
        _broadcast_threshold_bytes,
        estimated_size_bytes,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for raw, want in [
            ("10485760", 10485760),
            ("10485760b", 10485760),
            ("1MB", 1 << 20),
            ("2g", 2 << 30),
            ("512kb", 512 << 10),
            ("-1", -1),
        ]:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", raw)
            assert _broadcast_threshold_bytes(spark) == want, raw
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("s", T.StringType()),
        ]
    )
    # avg_len used when present; legacy sidecar without n_rows -> None
    st = {"n_rows": 100, "columns": {"s": {"avg_len": 12}}}
    assert estimated_size_bytes(st, schema) == 100 * ((8 + 8) + (12 + 16))
    assert estimated_size_bytes({"columns": {}}, schema) is None


def test_maintain_table_analyze_refreshes_stats(spark, tdir):
    """maintain_table(analyze=True) leaves a fresh _stats sidecar for
    the POST-maintenance version, so stats-driven broadcast planning
    keeps working across compactions without a separate ANALYZE job."""
    from tms_etl_spark.operators.versioned import (
        current_version,
        maintain_table,
        read_table_stats,
        write_version,
    )

    for lo in (0, 50):
        write_version(_df(spark, lo, lo + 50).repartition(2), tdir, "append")
    out = maintain_table(spark, tdir, min_file_bytes=1 << 30, analyze=True)
    assert out["analyzed"] == 100
    v = current_version(spark, tdir)
    st = read_table_stats(spark, tdir, v)
    assert st is not None and st["version"] == v and st["n_rows"] == 100
    # default stays opt-out: no sidecar for a fresh version
    write_version(_df(spark, 100, 110), tdir, "append")
    out2 = maintain_table(spark, tdir, min_file_bytes=1 << 30)
    assert "analyzed" not in out2


def test_merge_source_broadcast_decision(spark, tmp_path):
    """Stats-driven broadcast for MERGE's source/target joins: the
    exact distinct count × key width proves the key side small —
    fixed-width keys hint immediately, string keys only with an
    ANALYZE sidecar providing avg_len (a guessed width could
    force-broadcast a huge set), and a disabled threshold never
    hints. End to end, a deletion-vectored merge commits the same
    state with the hint on or off."""
    from pyspark.sql import functions as F

    from tms_etl_spark.operators.versioned import (
        _source_keys_broadcastable,
        analyze_table,
        delete_rows,
        merge_version,
        read_version,
        write_version,
    )

    tdir = str(tmp_path / "mergestats")
    df = spark.createDataFrame(
        [(i, f"name-{i}", float(i)) for i in range(100)],
        "k int, s string, v double",
    )
    write_version(df, tdir)
    ikey = read_version(spark, tdir).schema["k"]
    skey = read_version(spark, tdir).schema["s"]
    assert _source_keys_broadcastable(spark, tdir, ikey, 1000)
    assert not _source_keys_broadcastable(spark, tdir, ikey, 10**9)
    # string key: refused without a sidecar, allowed with one
    assert not _source_keys_broadcastable(spark, tdir, skey, 1000)
    analyze_table(spark, tdir)
    assert _source_keys_broadcastable(spark, tdir, skey, 1000)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert not _source_keys_broadcastable(spark, tdir, ikey, 10)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # deletion-vectored target, then merge with/without the hint
    delete_rows(
        spark, tdir, spark.range(0, 50).select(F.col("id").alias("k"))
    )
    src = spark.createDataFrame(
        [(i, f"upd-{i}", -1.0) for i in range(40, 60)],
        "k int, s string, v double",
    )
    merge_version(spark, tdir, src, key="k", use_stats=True)
    hinted = sorted(tuple(r) for r in read_version(spark, tdir).collect())
    tdir2 = str(tmp_path / "mergestats2")
    write_version(df, tdir2)
    delete_rows(
        spark, tdir2, spark.range(0, 50).select(F.col("id").alias("k"))
    )
    merge_version(spark, tdir2, src, key="k", use_stats=False)
    plain = sorted(tuple(r) for r in read_version(spark, tdir2).collect())
    assert hinted == plain
    assert (45, "upd-45", -1.0) in hinted  # deleted key re-inserted
    assert (99, "name-99", 99.0) in hinted  # untouched row survives


def test_register_history_limit_bounds_manifest_reads(spark, tmp_path):
    """`register_versioned` reads O(history_limit) manifests, newest
    first — not O(versions) — and the __history view holds exactly
    the newest surviving entries."""
    from tms_etl_spark.operators import versioned as V

    tdir = str(tmp_path / "histcap")
    for i in range(8):
        V.write_version(spark.range(i, i + 3).select("id"), tdir, "append")

    calls = {"n": 0}
    orig = V._read_json

    def counting(spark_, path):
        calls["n"] += 1
        return orig(spark_, path)

    V._read_json = counting
    try:
        V.register_versioned(
            spark, tdir, "histcap_t", use_stats=False, history_limit=3
        )
    finally:
        V._read_json = orig
    got = [
        r["version"]
        for r in spark.sql(
            "SELECT version FROM histcap_t__history ORDER BY version"
        ).collect()
    ]
    assert got == [6, 7, 8]
    # 1 snapshot manifest (read_version) + 3 history manifests
    assert calls["n"] <= 5, calls["n"]
    spark.catalog.dropTempView("histcap_t")
    spark.catalog.dropTempView("histcap_t__history")


def test_pruned_reads_plan_from_manifest_file_lists(spark, tmp_path):
    """Plan-time file lists come from the manifest's stats keys — a
    pruned read (zonemap and DPP alike) never calls `list_files` on a
    stats-bearing table; a legacy stat-less manifest falls back to
    listing and still answers."""
    import json

    from pyspark.sql import functions as F

    from tms_etl_spark.operators import versioned as V

    tdir = str(tmp_path / "manlist")
    for lo in (0, 100):
        V.write_version(
            spark.range(lo, lo + 100).select(F.col("id").alias("k")),
            tdir,
            "append",
        )

    def boom(spark_, path, *a, **kw):
        # version resolution legitimately lists _manifests; DATA
        # listings are what the manifest file lists must eliminate
        if "/data" in path.replace(tdir, ""):
            raise AssertionError(f"pruned read listed data: {path}")
        return orig(spark_, path, *a, **kw)

    orig = V.list_files
    V.list_files = boom
    try:
        got = V.read_version_pruned(spark, tdir, "k", ">=", 150)
        assert got.count() == 50
        dim = spark.createDataFrame([(5,), (105,)], "k int")
        semi = V.read_version_pruned_semijoin(spark, tdir, "k", dim)
        assert sorted(r["k"] for r in semi.collect()) == [5, 105]
    finally:
        V.list_files = orig

    # legacy manifest: strip stats → fallback listing still exact
    man_path = f"{tdir}/_manifests/v000002.json"
    man = json.load(open(man_path))
    man["stats"] = {}
    with open(man_path, "w") as fh:
        json.dump(man, fh)
    got2 = V.read_version_pruned(spark, tdir, "k", ">=", 150)
    assert got2.count() == 50


def test_tags_protect_snapshots_from_expire(spark, tmp_path):
    """Iceberg-style tags: immutable named refs, protected from
    retention — the tagged snapshot's manifest AND data dirs survive
    expire_versions(keep_last=1) with zero grace; deleting the tag
    releases them."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from tms_etl_spark.operators import versioned as V

    tdir = str(tmp_path / "tags")
    V.write_version(
        spark.range(0, 10).select(F.col("id").alias("k")), tdir
    )
    assert V.tag_version(spark, tdir, "baseline") == 1
    # immutable: re-tagging refuses; move = delete + re-tag
    with _pytest.raises(Exception):
        V.tag_version(spark, tdir, "baseline", version=1)
    V.write_version(
        spark.range(100, 110).select(F.col("id").alias("k")),
        tdir,
        "overwrite",
    )
    V.expire_versions(spark, tdir, keep_last=1, orphan_grace_hours=0)
    assert V.list_tags(spark, tdir) == {"baseline": 1}
    got = V.read_tag(spark, tdir, "baseline")
    assert sorted(r["k"] for r in got.collect()) == list(range(10))
    # head unaffected
    assert V.read_version(spark, tdir).count() == 10
    # untag releases: the next expire removes manifest + dir
    assert V.delete_tag(spark, tdir, "baseline")
    assert not V.delete_tag(spark, tdir, "baseline")
    V.expire_versions(spark, tdir, keep_last=1, orphan_grace_hours=0)
    with _pytest.raises(ValueError):
        V.read_version(spark, tdir, version=1)
    with _pytest.raises(ValueError):
        V.resolve_tag(spark, tdir, "baseline")
    # invalid names refused
    with _pytest.raises(ValueError):
        V.tag_version(spark, tdir, "../escape")


def test_cli_tag_roundtrip(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import write_version

    tdir = str(tmp_path / "clitags")
    write_version(spark.range(0, 5).select(F.col("id").alias("k")), tdir)
    write_version(
        spark.range(5, 9).select(F.col("id").alias("k")), tdir, "append"
    )
    assert main(["table", "tag", tdir, "rel-1", "--version", "1"]) == 0
    assert main(["table", "tags", tdir]) == 0
    assert "rel-1\tv1" in capsys.readouterr().out
    assert main(
        ["table", "scan", tdir, "--where", "k >= 0", "--tag", "rel-1"]
    ) == 0
    out = capsys.readouterr().out
    assert "4" in out and "7" not in out  # v1 snapshot only
    assert main(
        ["table", "scan", tdir, "--where", "k >= 0",
         "--tag", "rel-1", "--version", "1"]
    ) == 2  # mutually exclusive
    assert main(["table", "untag", tdir, "rel-1"]) == 0
    assert main(["table", "untag", tdir, "rel-1"]) == 2


def test_check_constraints_enforced(spark, tmp_path):
    """Delta-style CHECK constraints: a table property appends
    inherit; every commit (write and MERGE) validates its new data
    and refuses violations pre-manifest — the table is untouched and
    the rejected data dir is cleaned up. NULL passes (SQL CHECK);
    adding a constraint to a non-empty table validates existing rows
    first."""
    import glob

    import pytest as _pytest

    from pyspark.sql import functions as F

    from tms_etl_spark.operators.versioned import (
        describe_detail,
        merge_version,
        read_version,
        write_version,
    )

    tdir = str(tmp_path / "checked")
    ok = spark.createDataFrame(
        [(1, 10.0), (2, None)], "k int, v double"  # NULL must pass
    )
    write_version(ok, tdir, constraints={"v_nonneg": "v >= 0"})
    assert describe_detail(spark, tdir)["constraints"] == {
        "v_nonneg": "v >= 0"
    }

    bad = spark.createDataFrame([(3, -5.0)], "k int, v double")
    with _pytest.raises(ValueError, match="v_nonneg"):
        write_version(bad, tdir, "append")  # inherited constraint
    assert read_version(spark, tdir).count() == 2  # untouched
    # the rejected dir was deleted — only v1's data remains
    assert len(glob.glob(f"{tdir}/data/*")) == 1

    # MERGE enforces too
    with _pytest.raises(ValueError, match="v_nonneg"):
        merge_version(spark, tdir, bad, key="k")
    assert read_version(spark, tdir).count() == 2
    merge_version(
        spark,
        tdir,
        spark.createDataFrame([(1, 99.0)], "k int, v double"),
        key="k",
    )
    got = {r["k"]: r["v"] for r in read_version(spark, tdir).collect()}
    assert got[1] == 99.0

    # ALTER ADD on a non-empty table: violated by existing rows
    with _pytest.raises(ValueError, match="EXISTING"):
        write_version(
            spark.createDataFrame([(9, 1.0)], "k int, v double"),
            tdir,
            "append",
            constraints={"v_small": "v <= 50"},  # row v=99 violates
        )
    # a satisfiable new constraint lands and is enforced afterwards
    write_version(
        spark.createDataFrame([(9, 1.0)], "k int, v double"),
        tdir,
        "append",
        constraints={"k_pos": "k > 0"},
    )
    with _pytest.raises(ValueError, match="k_pos"):
        write_version(
            spark.createDataFrame([(0, 1.0)], "k int, v double"),
            tdir,
            "append",
        )
    # overwrite keeps the table property
    write_version(
        spark.createDataFrame([(5, 5.0)], "k int, v double"),
        tdir,
        "overwrite",
    )
    assert describe_detail(spark, tdir)["constraints"] == {
        "v_nonneg": "v >= 0",
        "k_pos": "k > 0",
    }
    with _pytest.raises(ValueError, match="v_nonneg"):
        write_version(bad, tdir, "append")


def test_register_versioned_by_tag(spark, tmp_path):
    from pyspark.sql import functions as F

    from tms_etl_spark.operators import versioned as V

    tdir = str(tmp_path / "regtag")
    V.write_version(spark.range(0, 4).select(F.col("id").alias("k")), tdir)
    V.tag_version(spark, tdir, "gold")
    V.write_version(
        spark.range(10, 14).select(F.col("id").alias("k")), tdir, "append"
    )
    V.register_versioned(spark, tdir, "regtag_t", tag="gold")
    assert spark.sql("SELECT COUNT(*) n FROM regtag_t").head()["n"] == 4
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mutually exclusive"):
        V.register_versioned(spark, tdir, "regtag_t", tag="gold", version=1)
    spark.catalog.dropTempView("regtag_t")
    spark.catalog.dropTempView("regtag_t__history")


def test_describe_detail_reports_tags(spark, tmp_path):
    from pyspark.sql import functions as F

    from tms_etl_spark.operators import versioned as V

    tdir = str(tmp_path / "desctags")
    V.write_version(spark.range(3).select(F.col("id")), tdir)
    V.write_version(
        spark.range(3, 6).select(F.col("id")), tdir, "append"
    )
    V.tag_version(spark, tdir, "first", version=1)
    V.tag_version(spark, tdir, "head")
    assert V.describe_detail(spark, tdir)["tags"] == {"head": 2}
    assert V.describe_detail(spark, tdir, version=1)["tags"] == {
        "first": 1
    }


def test_expire_dry_run_touches_nothing(spark, tmp_path, capsys):
    import glob

    from pyspark.sql import functions as F

    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import (
        expire_versions,
        read_version,
        write_version,
    )

    tdir = str(tmp_path / "dryrun")
    write_version(spark.range(3).select(F.col("id")), tdir)
    write_version(
        spark.range(9).select(F.col("id")), tdir, "overwrite"
    )
    before = sorted(glob.glob(f"{tdir}/data/*")) + sorted(
        glob.glob(f"{tdir}/_manifests/*.json")
    )
    n = expire_versions(
        spark, tdir, keep_last=1, orphan_grace_hours=0, dry_run=True
    )
    assert n == 1  # v1's dir would go
    after = sorted(glob.glob(f"{tdir}/data/*")) + sorted(
        glob.glob(f"{tdir}/_manifests/*.json")
    )
    assert after == before  # nothing touched
    assert read_version(spark, tdir, version=1).count() == 3
    assert main(
        ["table", "expire", tdir, "--keep-last", "1",
         "--orphan-grace-hours", "0", "--dry-run"]
    ) == 0
    assert "would remove 1" in capsys.readouterr().out
    # the real pass then removes it
    assert expire_versions(
        spark, tdir, keep_last=1, orphan_grace_hours=0
    ) == 1
