"""Round-9 property pins: Bloom-sidecar skipping composed with
deletion vectors (point reads and the WHERE front door no longer
demote to a full subtracted scan when a tombstone exists), one-scan
DPP × WHERE composition (`read_version_where(prune_keys=)`), snapshot
selection (`asof=`/`tag=`) on the WHERE front door, CHECK-constraint
drop + analysis-failure cleanup, and the optimize_where None-value
refusal. Each pins the r8 VERDICT / ADVICE asks with file-count or
refusal-shape assertions, not just values."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tms_etl_spark.operators.versioned import (
    delete_rows,
    read_version,
    read_version_where,
    write_version,
)


def _data_files(df):
    """Scanned DATA files — tombstone vectors (-del- dirs) excluded."""
    return [f for f in df.inputFiles() if "-del-" not in f]


def _four_file_table(spark, tdir, n=1000):
    """4 single-file commits with interleaved uid ranges: zonemaps
    span everything (useless), bloom membership is disjoint."""
    for i in range(4):
        df = spark.range(0, n).select(
            (F.col("id") * 4 + i).alias("uid"),
            (F.col("id") % 7).alias("grp"),
        ).coalesce(1)
        write_version(df, tdir, "append")


def test_point_read_uses_bloom_under_deletes(spark, tmp_path):
    """VERDICT r8 #1: one tombstone must no longer demote a
    Bloom-assisted point read to the full subtracted scan — the
    admitted file set routes through the deletion-vector scan, so a
    point read on a tombstoned table still skips non-member files
    while the anti-join keeps deleted keys invisible."""
    from tms_etl_spark.operators.bloomindex import (
        build_bloom_index,
        extend_bloom_index,
        read_version_point,
    )

    tdir = str(tmp_path / "bloomdel")
    _four_file_table(spark, tdir)
    build_bloom_index(spark, tdir, "uid")
    doomed = spark.createDataFrame([(402,)], "uid long")
    delete_rows(spark, tdir, doomed)
    extend_bloom_index(spark, tdir, "uid")  # carry bitmaps to v5

    # surviving key: exact row back, fewer files than the table
    got = read_version_point(spark, tdir, "uid", 406)
    assert [r["uid"] for r in got.collect()] == [406]
    assert len(_data_files(got)) < 4

    # deleted key: bloom ADMITS its file (pre-filter), anti-join
    # removes the row — exact, and still not a full scan
    gone = read_version_point(spark, tdir, "uid", 402)
    assert gone.count() == 0
    assert len(_data_files(gone)) < 4

    # absent key: no admitting file at all
    none = read_version_point(spark, tdir, "uid", 999_983)
    assert none.count() == 0


def test_where_front_door_bloom_survives_deletes(spark, tmp_path):
    """The WHERE front door's Bloom gate no longer requires a
    delete-free snapshot: equality conjuncts keep skipping files on a
    tombstoned table, and results stay exact against a plain
    filtered read."""
    from tms_etl_spark.operators.bloomindex import (
        build_bloom_index,
        extend_bloom_index,
    )

    tdir = str(tmp_path / "bloomwheredel")
    _four_file_table(spark, tdir)
    build_bloom_index(spark, tdir, "uid")
    delete_rows(spark, tdir, spark.createDataFrame([(402,)], "uid long"))
    extend_bloom_index(spark, tdir, "uid")

    got = read_version_where(spark, tdir, "uid = 406 AND grp >= 0")
    assert [r["uid"] for r in got.collect()] == [406]
    assert len(_data_files(got)) < 4

    gone = read_version_where(spark, tdir, "uid = 402")
    assert gone.count() == 0
    assert len(_data_files(gone)) < 4


def test_bloom_delete_point_read_randomized(spark, tmp_path):
    """Randomized no-wrong-rows net for the bloom × deletion-vector
    composition: random deletes, then point reads of surviving,
    deleted, and absent keys must match the plain subtracted scan
    exactly (seeded — deterministic across runs)."""
    import random

    from tms_etl_spark.operators.bloomindex import (
        build_bloom_index,
        extend_bloom_index,
        read_version_point,
    )

    rng = random.Random(90901)
    tdir = str(tmp_path / "bloomdelrand")
    _four_file_table(spark, tdir, n=250)
    build_bloom_index(spark, tdir, "uid")
    doomed = sorted(rng.sample(range(0, 1000), 37))
    delete_rows(
        spark, tdir, spark.createDataFrame([(k,) for k in doomed], "uid long")
    )
    extend_bloom_index(spark, tdir, "uid")
    plain = read_version(spark, tdir)
    probes = (
        rng.sample(range(0, 1000), 6)
        + rng.sample(doomed, 3)
        + [2000, 5001]  # absent
    )
    for k in probes:
        want = sorted(
            (r["uid"], r["grp"])
            for r in plain.where(F.col("uid") == k).collect()
        )
        got = read_version_point(spark, tdir, "uid", k)
        assert sorted((r["uid"], r["grp"]) for r in got.collect()) == want, k


def test_where_dpp_prune_keys_composes_one_scan(spark, tmp_path):
    """VERDICT r8 #2: `read_version_where(prune_keys=)` applies the
    dimension-key file cut AND the WHERE zonemap cut to ONE scan —
    the surviving file list is a subset of EACH individual cut — and
    the result equals filter + semi-join over the plain table."""
    from tms_etl_spark.operators.versioned import (
        read_version_pruned_semijoin,
    )

    tdir = str(tmp_path / "dppwhere")
    fact = spark.range(0, 4000).select(
        F.col("id").alias("fk"),
        (F.col("id") % 100).alias("v"),
    )
    # range-clustered on fk: 8 files with tight disjoint fk zonemaps
    write_version(fact.repartitionByRange(8, "fk"), tdir, "append")
    dim = spark.range(0, 40).select((F.col("id") + 100).alias("fk"))

    both = read_version_where(
        spark, tdir, "v < 25", prune_keys=("fk", dim)
    )
    want = sorted(
        (r["fk"], r["v"])
        for r in fact.where("v < 25")
        .join(dim, "fk", "left_semi")
        .collect()
    )
    assert sorted((r["fk"], r["v"]) for r in both.collect()) == want

    # the composed file list ⊆ each single cut
    dpp_only = read_version_pruned_semijoin(spark, tdir, "fk", dim)
    where_only = read_version_where(spark, tdir, "v < 25")
    n_both = len(both.inputFiles())
    assert n_both <= len(dpp_only.inputFiles())
    assert n_both <= len(where_only.inputFiles())
    # and the key cut actually bit: fewer files than the whole table
    assert n_both < len(read_version(spark, tdir).inputFiles())


def test_where_dpp_over_cap_unhinted_and_exact(spark, tmp_path):
    """Past max_keys the prune_keys cut is abandoned: no forced
    broadcast on the residual semi-join (AQE size-plans it), rows
    still exact; under the cap the hint applies."""
    tdir = str(tmp_path / "dppwherecap")
    fact = spark.range(0, 200).select(
        F.col("id").alias("fk"), (F.col("id") * 2).alias("v")
    )
    write_version(fact, tdir)
    dim = spark.range(0, 50).select((F.col("id") * 4).alias("fk"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        over = read_version_where(
            spark, tdir, "v >= 0", prune_keys=("fk", dim), max_keys=10
        )
        plan = over._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
        under = read_version_where(
            spark, tdir, "v >= 0", prune_keys=("fk", dim), max_keys=1000
        )
        uplan = under._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in uplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe
        )
    want = sorted(
        r["fk"] for r in fact.join(dim, "fk", "left_semi").collect()
    )
    assert sorted(r["fk"] for r in over.collect()) == want
    assert sorted(r["fk"] for r in under.collect()) == want


def test_where_dpp_empty_dim_returns_empty(spark, tmp_path):
    """An empty (post-filter) dimension key set prunes EVERY file —
    the scan plans zero files instead of reading anything."""
    tdir = str(tmp_path / "dppwhereempty")
    write_version(spark.range(0, 100).select(F.col("id").alias("fk")), tdir)
    dim = spark.range(0, 10).select(F.col("id").alias("fk")).where("fk < 0")
    got = read_version_where(spark, tdir, "fk >= 0", prune_keys=("fk", dim))
    assert got.count() == 0
    assert len(got.inputFiles()) == 0


def test_read_version_where_asof_and_tag(spark, tmp_path):
    """VERDICT r8 #4: the WHERE front door resolves `asof=` and
    `tag=` like `register_versioned` — a notebook user reads a tagged
    or timestamped snapshot through one call; the three selectors are
    mutually exclusive."""
    import time

    from tms_etl_spark.operators.versioned import tag_version

    tdir = str(tmp_path / "whereasof")
    write_version(spark.range(0, 5).select("id"), tdir, "append")
    tag_version(spark, tdir, "v1tag")
    t1 = time.time()
    write_version(spark.range(100, 105).select("id"), tdir, "append")

    by_tag = read_version_where(spark, tdir, "id >= 0", tag="v1tag")
    assert sorted(r["id"] for r in by_tag.collect()) == [0, 1, 2, 3, 4]
    by_asof = read_version_where(spark, tdir, "id >= 0", asof=t1)
    assert sorted(r["id"] for r in by_asof.collect()) == [0, 1, 2, 3, 4]
    head = read_version_where(spark, tdir, "id >= 100")
    assert sorted(r["id"] for r in head.collect()) == [100, 101, 102, 103, 104]
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_version_where(spark, tdir, "id >= 0", version=1, tag="v1tag")
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_version_where(spark, tdir, "id >= 0", asof=t1, tag="v1tag")


def test_constraint_drop_and_analysis_cleanup(spark, tmp_path):
    """ADVICE r8 (low): an overwrite whose new schema removes a
    constrained column fails constraint ANALYSIS — the just-written
    dir must be cleaned up (no orphan until grace expiry), and
    ``constraints={name: None}`` drops the constraint so the table
    can evolve past it."""
    from tms_etl_spark.sources.fs import list_files

    tdir = str(tmp_path / "dropcon")
    df = spark.range(0, 10).select(
        F.col("id").alias("k"), ((F.col("id") + 1) * 2.0).alias("price")
    )
    write_version(df, tdir, "append", constraints={"price_pos": "price > 0"})

    files_before = {f.path for f in list_files(spark, f"{tdir}/data")}
    # overwrite WITHOUT the constrained column: analysis fails, commit
    # refused, and the new dir is deleted (no orphans)
    with pytest.raises(Exception):
        write_version(
            spark.range(0, 4).select(F.col("id").alias("k")),
            tdir,
            "overwrite",
        )
    files_after = {f.path for f in list_files(spark, f"{tdir}/data")}
    assert files_after == files_before  # refused write left no debris
    assert sorted(
        r["k"] for r in read_version(spark, tdir).collect()
    ) == list(range(10))

    # drop the constraint, then the same overwrite succeeds
    write_version(
        spark.range(0, 4).select(F.col("id").alias("k")),
        tdir,
        "overwrite",
        constraints={"price_pos": None},
    )
    assert sorted(r["k"] for r in read_version(spark, tdir).collect()) == [
        0, 1, 2, 3,
    ]
    # and the constraint is GONE from the table properties: a commit
    # that would have violated it now lands
    write_version(
        spark.range(10, 12).select(F.col("id").alias("k")), tdir, "append"
    )


def test_optimize_where_none_value_raises(spark, tmp_path):
    """ADVICE r8 (medium): a None value (e.g. a typo'd CLI --value
    that cast to NULL) must raise, not silently select every
    partition-pure file for a full-table rewrite."""
    from tms_etl_spark.operators.versioned import optimize_where

    tdir = str(tmp_path / "optwnone")
    df = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("seg")
    )
    write_version(df, tdir, "append", partition_by=["seg"])
    with pytest.raises(ValueError, match="must not be None"):
        optimize_where(spark, tdir, "seg", "=", None)


def test_cli_optimize_where_bad_value_exits_2(spark, tmp_path, capsys):
    """The CLI casts --value with non-ANSI semantics (unparseable →
    NULL); that must exit 2 with a clear message, never reach
    optimize_where."""
    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import current_version

    tdir = str(tmp_path / "cliownone")
    df = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("band")
    )
    write_version(df, tdir, "append", partition_by=["band"])
    v_before = current_version(spark, tdir)
    assert main(
        ["table", "optimize-where", tdir, "--col", "band",
         "--value", "not-a-number"]
    ) == 2
    assert "does not cast" in capsys.readouterr().err
    assert current_version(spark, tdir) == v_before  # nothing rewritten


def test_cli_table_show_asof_compact_iso_date(spark, tmp_path, capsys):
    """VERDICT r8 #3: `table show --asof` parses ISO-first like
    `table scan --asof` (shared helper) — '20990101' is a compact ISO
    date resolving the current snapshot, not ~epoch-1970 seconds."""
    import time

    from tms_etl_spark.__main__ import main

    tdir = str(tmp_path / "showasofiso")
    write_version(spark.range(0, 3).select("id"), tdir, "append")
    t1 = time.time()
    write_version(spark.range(100, 103).select("id"), tdir, "append")
    assert main(["table", "show", tdir, "--asof", "20990101"]) == 0
    out = capsys.readouterr().out
    assert "resolved to v2" in out and "101" in out
    # ten-digit epoch strings are not ISO and still parse as seconds
    assert main(["table", "show", tdir, "--asof", f"{t1:.3f}"]) == 0
    out = capsys.readouterr().out
    assert "resolved to v1" in out and "101" not in out


def test_register_history_skips_expired_probes(spark, tmp_path):
    """ADVICE r8 (low): the __history view lists `_manifests` ONCE
    and reads only surviving manifests — expired versions cost zero
    existence probes (the old walk probed every version number from
    head down to 1)."""
    from tms_etl_spark.operators import versioned as V

    tdir = str(tmp_path / "histexp")
    for i in range(6):
        V.write_version(spark.range(i, i + 2).select("id"), tdir, "append")
    V.expire_versions(spark, tdir, keep_last=2, orphan_grace_hours=0)

    calls = {"exists": 0, "reads": 0}
    orig_exists, orig_read = V.path_exists, V._read_json

    def counting_exists(spark_, path):
        calls["exists"] += 1
        return orig_exists(spark_, path)

    def counting_read(spark_, path):
        calls["reads"] += 1
        return orig_read(spark_, path)

    V.path_exists = counting_exists
    V._read_json = counting_read
    try:
        V.register_versioned(
            spark, tdir, "histexp_t", use_stats=False, history_limit=100
        )
    finally:
        V.path_exists = orig_exists
        V._read_json = orig_read
    got = [
        r["version"]
        for r in spark.sql(
            "SELECT version FROM histexp_t__history ORDER BY version"
        ).collect()
    ]
    assert got == [5, 6]  # only survivors
    # snapshot read + _manifests-dir probe + per-survivor reads — NOT
    # one probe per expired version (6 versions, 4 expired)
    assert calls["reads"] <= 4, calls
    assert calls["exists"] <= 5, calls
    spark.catalog.dropTempView("histexp_t")
    spark.catalog.dropTempView("histexp_t__history")


def test_bucket_transform_point_pruning(spark, tmp_path):
    """Iceberg-style bucket(N, col) transform (r9): a generated
    ``p_bucket = pmod(xxhash64(k), 8)`` partition column derives
    EQUALITY predicates from the raw key — a point read scans one
    bucket dir, an IN list at most one dir per value — while range
    predicates do NOT derive (hashes destroy order) and stay exact
    via the residual."""
    tdir = str(tmp_path / "bucketed")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    write_version(
        df,
        tdir,
        "append",
        partition_by=["p_bucket"],
        partition_exprs={"p_bucket": "pmod(xxhash64(k), 8)"},
    )

    got = read_version_where(spark, tdir, "k = 42")
    assert [r["k"] for r in got.collect()] == [42]
    buckets = {f.rsplit("/", 2)[1] for f in got.inputFiles()}
    assert len(buckets) == 1  # exactly the key's bucket dir

    got_in = read_version_where(spark, tdir, "k IN (7, 42, 311)")
    assert sorted(r["k"] for r in got_in.collect()) == [7, 42, 311]
    buckets_in = {f.rsplit("/", 2)[1] for f in got_in.inputFiles()}
    assert 1 <= len(buckets_in) <= 3

    # range predicates do NOT derive through a hash bucket — every
    # bucket may hold qualifying keys, and the rows still come back
    # exactly (residual-only)
    rng = read_version_where(spark, tdir, "k < 10")
    assert sorted(r["k"] for r in rng.collect()) == list(range(10))
    rng_buckets = {f.rsplit("/", 2)[1] for f in rng.inputFiles()}
    assert len(rng_buckets) > 3


def test_bucket_transform_null_source_not_derived(spark, tmp_path):
    """Spark's hash functions map NULL to the seed hash, so a
    null-source row lands in a REGULAR bucket — ``k IS NULL`` must
    NOT derive a bucket predicate (it would misprune) and must still
    find the null rows."""
    tdir = str(tmp_path / "bucketnull")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c"), (None, "d")],
        "k int, tag string",
    )
    write_version(
        df,
        tdir,
        "append",
        partition_by=["p_bucket"],
        partition_exprs={"p_bucket": "pmod(xxhash64(k), 4)"},
    )
    nulls = read_version_where(spark, tdir, "k IS NULL")
    assert sorted(r["tag"] for r in nulls.collect()) == ["c", "d"]
    # and no __HIVE_DEFAULT_PARTITION__ dir exists: nulls bucketed
    assert not any(
        "__HIVE_DEFAULT_PARTITION__" in f
        for f in read_version(spark, tdir).inputFiles()
    )


def test_dpp_images_through_bucket_transform(spark, tmp_path):
    """DPP key images are equality semantics, so they map through a
    bucket transform: a dim-keyed pruned read on a bucket-partitioned
    fact scans only the keys' buckets and matches the plain
    semi-join."""
    from tms_etl_spark.operators.versioned import (
        read_version_pruned_semijoin,
    )

    tdir = str(tmp_path / "bucketdpp")
    fact = spark.range(0, 600).select(
        F.col("id").alias("fk"), (F.col("id") * 3).alias("x")
    )
    write_version(
        fact,
        tdir,
        "append",
        partition_by=["p_bucket"],
        partition_exprs={"p_bucket": "pmod(xxhash64(fk), 8)"},
    )
    dim = spark.createDataFrame([(5,), (99,)], "fk long")
    got = read_version_pruned_semijoin(spark, tdir, "fk", dim)
    want = sorted(
        (r["fk"], r["x"])
        for r in fact.join(dim, "fk", "left_semi").collect()
    )
    assert sorted((r["fk"], r["x"]) for r in got.collect()) == want
    buckets = {f.rsplit("/", 2)[1] for f in got.inputFiles()}
    assert 1 <= len(buckets) <= 2  # ≤ one bucket per key


def test_minmax_metadata_zero_scan(spark, tmp_path):
    """Stats-only MIN/MAX (r9): a clean snapshot answers from the
    manifest alone (pure function — `minmax_metadata(man, cols)`
    takes no SparkSession, so zero I/O by construction) and agrees
    with real aggregates; an evolution-added column answers from the
    post-evolution files only (backfilled all-null proofs); a
    tombstoned snapshot REFUSES the fast path and the front door
    falls back to the subtracted scan, still exact."""
    from tms_etl_spark.operators.versioned import (
        _manifest_path,
        _read_json,
        current_version,
        minmax,
        minmax_metadata,
    )

    tdir = str(tmp_path / "minmax")
    df = spark.range(3, 103).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("val")
    )
    write_version(df.repartitionByRange(4, "k"), tdir, "append")
    man = _read_json(spark, _manifest_path(tdir, 1))
    assert minmax_metadata(man, ["k", "val"]) == {
        "k": (3, 102), "val": (4.5, 153.0),
    }
    assert minmax(spark, tdir, ["k", "val"]) == {
        "k": (3, 102), "val": (4.5, 153.0),
    }

    # schema evolution: the added column's extremes come from the
    # post-evolution files; old files are provably all-null
    write_version(
        spark.range(200, 210).select(
            F.col("id").alias("k"), (F.col("id") * 1.5).alias("val"),
            (F.col("id") % 7).alias("extra"),
        ),
        tdir,
        "append",
        merge_schema=True,
    )
    man2 = _read_json(
        spark, _manifest_path(tdir, current_version(spark, tdir))
    )
    assert minmax_metadata(man2, ["extra"]) == {"extra": (0, 6)}

    # deletion vector: metadata refuses (the deleted row could be the
    # max), the front door scans and is exact
    delete_rows(spark, tdir, spark.createDataFrame([(209,)], "k long"))
    man3 = _read_json(
        spark, _manifest_path(tdir, current_version(spark, tdir))
    )
    assert minmax_metadata(man3, ["k"]) is None
    assert minmax(spark, tdir, ["k"]) == {"k": (3, 208)}


def test_expire_older_than_time_retention(spark, tmp_path):
    """Time-based retention (r9, `expire_versions(older_than=)`): a
    cutoff in the past keeps every version committed since — even
    outside keep_last — while keep_last=1 alone would expire them;
    a future cutoff falls back to the count floor."""
    import time

    from tms_etl_spark.operators.versioned import (
        expire_versions,
        read_version,
    )

    tdir = str(tmp_path / "retain")
    t0 = time.time() - 1.0
    for i in range(4):
        write_version(
            spark.range(i * 2, i * 2 + 2).select("id"), tdir, "append"
        )
    # cutoff before every commit: nothing expires
    removed = expire_versions(
        spark, tdir, keep_last=1, orphan_grace_hours=0, older_than=t0
    )
    assert removed == 0
    assert sorted(r["id"] for r in read_version(spark, tdir, 1).collect()) \
        == [0, 1]  # v1 still time-travelable
    # cutoff in the future: only the count floor holds — v1/v2
    # manifests expire (append dirs all stay referenced by the head,
    # so no data dirs are removed)
    expire_versions(
        spark, tdir, keep_last=2, orphan_grace_hours=0,
        older_than=time.time() + 3600,
    )
    with pytest.raises(ValueError, match="expired"):
        read_version(spark, tdir, 1)
    assert sorted(
        r["id"] for r in read_version(spark, tdir).collect()
    ) == [0, 1, 2, 3, 4, 5, 6, 7]


def test_cli_minmax_and_scan_prune(spark, tmp_path, capsys):
    """CLI front doors for the r9 APIs: `table minmax` prints the
    manifest-answered extremes; `table scan --prune-col/--prune-
    source` composes the dim-key cut with the WHERE cut."""
    import json

    from tms_etl_spark.__main__ import main

    tdir = str(tmp_path / "climinmax")
    df = spark.range(5, 55).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    write_version(df.repartitionByRange(4, "k"), tdir, "append")
    assert main(["table", "minmax", tdir, "--cols", "k,v"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"k": [5, 54], "v": [10.0, 108.0]}

    dim = str(tmp_path / "dimkeys")
    spark.createDataFrame([(7,), (20,)], "dk long").write.parquet(dim)
    assert main(
        ["table", "scan", tdir, "--where", "v >= 0",
         "--prune-col", "k", "--prune-source", dim,
         "--prune-key-col", "dk"]
    ) == 0
    out = capsys.readouterr().out
    assert "7" in out and "20" in out and "| 9 " not in out
    # --prune-col without --prune-source is a usage error
    assert main(
        ["table", "scan", tdir, "--where", "v >= 0",
         "--prune-col", "k"]
    ) == 2


def test_maintain_table_extends_indexes(spark, tmp_path):
    """Nightly maintenance brings EVERY sidecar family up to the
    post-compaction version (r9): after appends + maintain_table, the
    Bloom point read and the token search run index-assisted at the
    current version — no manual extend per family; a family whose
    column was dropped reports an error in the summary instead of
    killing the window."""
    from tms_etl_spark.operators.bloomindex import (
        build_bloom_index,
        read_version_point,
    )
    from tms_etl_spark.operators.textindex import (
        build_text_index,
        search_token,
    )
    from tms_etl_spark.operators.versioned import maintain_table

    tdir = str(tmp_path / "maintidx")
    df = spark.createDataFrame(
        [(i, f"doc number word{i}") for i in range(40)],
        "uid int, body string",
    )
    write_version(df.coalesce(2), tdir, "append")
    build_bloom_index(spark, tdir, "uid")
    build_text_index(spark, tdir, "body")
    # new commits strand both sidecars at v1
    write_version(
        spark.createDataFrame(
            [(100 + i, f"fresh word{100 + i}") for i in range(8)],
            "uid int, body string",
        ).coalesce(1),
        tdir,
        "append",
    )
    out = maintain_table(spark, tdir)
    assert out["extended_indexes"] == {
        "uid:bloom": "extended", "text_body:text": "extended",
    }
    # both index families answer at the CURRENT version
    got = read_version_point(spark, tdir, "uid", 103)
    assert [r["uid"] for r in got.collect()] == [103]
    hits = search_token(spark, tdir, "body", "word103")
    assert [r["uid"] for r in hits.collect()] == [103]

    # dropped column: the family reports, the window completes
    write_version(
        spark.createDataFrame([(1,)], "uid int"), tdir, "overwrite"
    )
    out2 = maintain_table(spark, tdir)
    assert out2["extended_indexes"]["uid:bloom"] == "extended"
    assert out2["extended_indexes"]["text_body:text"].startswith("error:")
    assert "version" in out2  # the rest of the window ran


def _conjunct(spark, c):
    """The pruning predicates conjunct ``c`` contributes to a
    conjunction, read by the Catalyst WHERE walker."""
    from tms_etl_spark.operators.versioned import _where_pruning_groups

    [group] = _where_pruning_groups(spark, f"({c}) AND true")
    return group


def test_anti_equality_and_like_grammar_parses(spark):
    """Grammar units for the r9 skipping ops: != / <> canonicalize,
    NOT IN parses a value set, LIKE 'abc%' decomposes into the prefix
    range, NOT LIKE carries the prefix, and non-prefix patterns stay
    residual-only."""
    assert _conjunct(spark, "seg != 'error'") == [
        ("seg", "!=", "error")
    ]
    assert _conjunct(spark, "seg <> 'error'") == [
        ("seg", "!=", "error")
    ]
    assert _conjunct(spark, "seg NOT IN ('a', 'b')") == [
        ("seg", "notin", ("a", "b"))
    ]
    assert _conjunct(spark, "name LIKE 'ab%'") == [
        ("name", ">=", "ab"), ("name", "<", "ac"),
    ]
    assert _conjunct(spark, "name NOT LIKE 'ab%'") == [
        ("name", "notlike", "ab")
    ]
    # not plain prefixes: residual-only
    assert _conjunct(spark, "name LIKE '%ab'") == []
    assert _conjunct(spark, "name LIKE 'a_b%'") == []
    assert _conjunct(spark, "name LIKE 'a%b%'") == []
    # quote unescape inside the prefix
    assert _conjunct(spark, "name LIKE 'it''s%'") == [
        ("name", ">=", "it's"), ("name", "<", "it't"),
    ]


def test_anti_equality_prunes_pure_partitions(spark, tmp_path):
    """`seg != 'B'` / `NOT IN` / `NOT LIKE` skip value-PURE files —
    the partition-dir cut on an identity layout — while mixed files
    stay scanned and rows stay exact."""
    tdir = str(tmp_path / "antieq")
    df = spark.createDataFrame(
        [(i, ["alpha", "beta", "gamma"][i % 3], float(i)) for i in range(30)],
        "k int, seg string, v double",
    )
    write_version(df, tdir, "append", partition_by=["seg"])

    ne = read_version_where(spark, tdir, "seg != 'beta'")
    assert sorted({r["seg"] for r in ne.collect()}) == ["alpha", "gamma"]
    segs = {f.rsplit("/", 2)[1] for f in ne.inputFiles()}
    assert segs == {"seg=alpha", "seg=gamma"}  # beta dir never planned

    ni = read_version_where(spark, tdir, "seg NOT IN ('alpha', 'gamma')")
    assert sorted({r["seg"] for r in ni.collect()}) == ["beta"]
    assert {f.rsplit("/", 2)[1] for f in ni.inputFiles()} == {"seg=beta"}

    nl = read_version_where(spark, tdir, "seg NOT LIKE 'ga%'")
    assert sorted({r["seg"] for r in nl.collect()}) == ["alpha", "beta"]
    assert {f.rsplit("/", 2)[1] for f in nl.inputFiles()} == {
        "seg=alpha", "seg=beta",
    }


def test_like_prefix_prunes_clustered_strings(spark, tmp_path):
    """LIKE 'prefix%' decomposes into the prefix range and prunes a
    string-clustered layout's files by zonemap; suffix/complex
    patterns stay exact through the residual."""
    tdir = str(tmp_path / "likeprefix")
    df = spark.createDataFrame(
        [(i, f"{chr(97 + i // 25)}name{i:03d}") for i in range(100)],
        "k int, name string",
    )
    write_version(df.repartitionByRange(4, "name"), tdir, "append")

    got = read_version_where(spark, tdir, "name LIKE 'a%'")
    assert sorted(r["k"] for r in got.collect()) == list(range(25))
    assert len(got.inputFiles()) < 4  # b/c/d files pruned by range

    # exactness for a non-prefix pattern (residual-only)
    suffix = read_version_where(spark, tdir, "name LIKE '%007'")
    assert [r["k"] for r in suffix.collect()] == [7]


def test_write_version_commit_retries(spark, tmp_path, monkeypatch):
    """Optimistic concurrency (r9): with commit_retries, a lost
    commit race re-runs the whole commit against the new head —
    blind appends never surface ConcurrentWriteError to the caller;
    retries exhausted (or retries=0) re-raise."""
    from tms_etl_spark.operators import versioned as V

    tdir = str(tmp_path / "retrywrite")
    V.write_version(spark.range(0, 5).select("id"), tdir, "append")

    real = V._write_json_atomic
    fails = {"n": 2}

    def flaky(spark_, path, payload):
        if fails["n"] > 0:
            fails["n"] -= 1
            # simulate losing the race: a COMPETITOR's manifest landed
            # first (a no-op append of the prior head — its dirs, not
            # the loser's)
            cur = V.current_version(spark_, tdir)
            prev_man = V._read_json(spark_, V._manifest_path(tdir, cur))
            real(
                spark_,
                path,
                {**prev_man, "version": payload["version"],
                 "op": "competitor"},
            )
            raise V.ConcurrentWriteError(path)
        return real(spark_, path, payload)

    monkeypatch.setattr(V, "_write_json_atomic", flaky)
    v = V.write_version(
        spark.range(100, 103).select("id"), tdir, "append",
        commit_retries=3,
    )
    monkeypatch.setattr(V, "_write_json_atomic", real)
    # two competitor commits (v2, v3) then ours landed as v4
    assert v == 4
    assert sorted(
        r["id"] for r in V.read_version(spark, tdir).collect()
    ) == [0, 1, 2, 3, 4, 100, 101, 102]

    # retries exhausted: the error surfaces
    fails["n"] = 10
    monkeypatch.setattr(V, "_write_json_atomic", flaky)
    with pytest.raises(V.ConcurrentWriteError):
        V.write_version(
            spark.range(200, 201).select("id"), tdir, "append",
            commit_retries=2,
        )
    monkeypatch.setattr(V, "_write_json_atomic", real)

    # zero retries (default): first race error surfaces unchanged
    fails["n"] = 1
    monkeypatch.setattr(V, "_write_json_atomic", flaky)
    with pytest.raises(V.ConcurrentWriteError):
        V.write_version(
            spark.range(300, 301).select("id"), tdir, "append"
        )


def test_type_widening_evolution(spark, tmp_path):
    """Widening-only TYPE evolution (r9): an int column widens to
    long (and float to double) under merge_schema — old files upcast
    reader-side, values exact across the seam; a NARROWER batch onto
    the widened table needs no flag (recorded schema unchanged);
    narrowing and int→float crossings stay refused."""
    from pyspark.sql import types as T

    tdir = str(tmp_path / "widen")
    write_version(
        spark.range(0, 5).selectExpr(
            "cast(id as int) as k", "cast(id as float) as v"
        ),
        tdir,
        "append",
    )
    # widen both columns
    write_version(
        spark.range(5, 8).selectExpr(
            "cast(id * 1000000000000 as long) as k",
            "cast(id as double) as v",
        ),
        tdir,
        "append",
        merge_schema=True,
    )
    got = read_version(spark, tdir)
    assert got.schema["k"].dataType == T.LongType()
    assert got.schema["v"].dataType == T.DoubleType()
    assert sorted(r["k"] for r in got.collect()) == [
        0, 1, 2, 3, 4,
        5_000_000_000_000, 6_000_000_000_000, 7_000_000_000_000,
    ]
    # narrower batch after widening: no flag needed, schema stays wide
    write_version(
        spark.range(8, 10).selectExpr(
            "cast(id as int) as k", "cast(id as float) as v"
        ),
        tdir,
        "append",
    )
    got2 = read_version(spark, tdir)
    assert got2.schema["k"].dataType == T.LongType()
    assert sorted(r["k"] for r in got2.collect())[-1] == 7_000_000_000_000

    # zonemap pruning still exact across the width seam
    from tms_etl_spark.operators.versioned import read_version_pruned

    hi = read_version_pruned(spark, tdir, "k", ">=", 5_000_000_000_000)
    assert sorted(r["k"] for r in hi.collect()) == [
        5_000_000_000_000, 6_000_000_000_000, 7_000_000_000_000,
    ]

    # refused shapes: narrowing without a widening path, int->float
    with pytest.raises(ValueError, match="widening"):
        write_version(
            spark.range(0, 2).selectExpr(
                "cast(id as string) as k", "cast(id as double) as v"
            ),
            tdir,
            "append",
            merge_schema=True,
        )
    with pytest.raises(ValueError, match="widening"):
        write_version(
            spark.range(0, 2).selectExpr(
                "cast(id as long) as k", "cast(id as decimal(10,2)) as v"
            ),
            tdir,
            "append",
            merge_schema=True,
        )


# ---- property nets for the pure pruning primitives (no Spark) ----

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:

    @settings(max_examples=300, deadline=None)
    @given(
        mn=st.integers(-50, 50),
        width=st.integers(0, 40),
        op=st.sampled_from(["=", "<", "<=", ">", ">=", "!=", "in", "notin"]),
        vals=st.lists(st.integers(-60, 60), min_size=1, max_size=4),
    )
    def test_file_prunable_never_misprunes_property(mn, width, op, vals):
        """Soundness net for `_file_prunable`: whenever it PROVES a
        file empty for ``col op value``, NO value inside the file's
        [min, max] may satisfy the predicate (brute-forced over the
        whole integer range)."""
        from tms_etl_spark.operators.versioned import _file_prunable

        mx = mn + width
        entry = {"k": [mn, mx], "__rows": width + 1, "__nulls": {"k": 0}}
        value = vals if op in ("in", "notin") else vals[0]

        def sat(x):
            if op == "=":
                return x == value
            if op == "<":
                return x < value
            if op == "<=":
                return x <= value
            if op == ">":
                return x > value
            if op == ">=":
                return x >= value
            if op == "!=":
                return x != value
            if op == "in":
                return x in value
            return x not in value  # notin

        if _file_prunable(entry, "k", op, value):
            assert not any(sat(x) for x in range(mn, mx + 1)), (
                entry, op, value,
            )

    @settings(max_examples=300, deadline=None)
    @given(
        prefix=st.text(
            st.characters(min_codepoint=32, max_codepoint=0x2FA0),
            min_size=1,
            max_size=6,
        ),
        s=st.text(
            st.characters(min_codepoint=32, max_codepoint=0x2FA0),
            max_size=10,
        ),
    )
    def test_like_prefix_range_is_sound_property(spark, prefix, s):
        """Soundness net for the LIKE-prefix decomposition: every
        string that STARTS WITH the prefix must satisfy every derived
        range predicate (so a file holding it can never be pruned),
        under Python's code-point ordering — the same order the
        zonemaps compare with."""
        if any(ch in prefix for ch in ("%", "_", "\\", "'")):
            return  # not a plain prefix; grammar refuses these
        preds = _conjunct(spark, f"name LIKE '{prefix}%'")
        assert preds and preds[0] == ("name", ">=", prefix)
        matching = prefix + s
        for col, op, bound in preds:
            if op == ">=":
                assert matching >= bound
            elif op == "<":
                assert matching < bound
            else:  # pragma: no cover
                raise AssertionError(op)


def test_rollback_to_tag(spark, tmp_path, capsys):
    """Rollback to a NAMED ref (r9): tag the blessed snapshot, commit
    past it, `rollback(to_tag=)` restores it as a new head (zero data
    movement); passing both/neither selectors is refused; the CLI
    mirrors the contract."""
    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import rollback, tag_version

    tdir = str(tmp_path / "rbtag")
    write_version(spark.range(0, 4).select("id"), tdir, "append")
    tag_version(spark, tdir, "blessed")
    write_version(spark.range(100, 104).select("id"), tdir, "overwrite")

    v = rollback(spark, tdir, to_tag="blessed")
    assert v == 3
    assert sorted(r["id"] for r in read_version(spark, tdir).collect()) \
        == [0, 1, 2, 3]
    with pytest.raises(ValueError, match="exactly one"):
        rollback(spark, tdir)
    with pytest.raises(ValueError, match="exactly one"):
        rollback(spark, tdir, to_version=1, to_tag="blessed")

    # CLI: roll forward again to the overwrite, then back by tag
    assert main(["table", "rollback", tdir, "--to", "2"]) == 0
    assert main(["table", "rollback", tdir, "--to-tag", "blessed"]) == 0
    out = capsys.readouterr().out
    assert "committed v5" in out
    assert main(["table", "rollback", tdir]) == 2
