"""Partitioned versioned tables: hive-layout commits, partition-value
recovery (types pinned by the recorded schema, not path inference),
manifest-level partition pruning, and interplay with deletes / MERGE /
compaction. The reference's month-directory convention
(/root/reference/src/main_01.py month-named CSV dirs) is the same
identity-partitioning idea; this layer gives it lakehouse semantics.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tms_etl_spark.operators.versioned import (
    delete_rows,
    describe_detail,
    merge_version,
    optimize_version,
    read_version,
    read_version_pruned,
    write_version,
)


def _mkdf(spark, rows):
    return spark.createDataFrame(rows, "k int, seg string, val double")


@pytest.fixture()
def part_table(spark, tmp_path):
    tdir = str(tmp_path / "ptab")
    rows = [(i, ["A", "B", "C"][i % 3], float(i) * 1.5) for i in range(60)]
    write_version(_mkdf(spark, rows), tdir, "append", partition_by=["seg"])
    return tdir, rows


def test_partitioned_roundtrip(spark, part_table):
    tdir, rows = part_table
    got = read_version(spark, tdir)
    # recorded schema pins column ORDER and partition-column type
    assert got.columns == ["k", "seg", "val"]
    assert dict(got.dtypes)["seg"] == "string"
    assert sorted(got.collect()) == sorted(rows)


def test_partition_type_not_inferred(spark, tmp_path):
    """A numeric-LOOKING string partition value must come back as a
    string — path inference would turn '01' into int 1."""
    tdir = str(tmp_path / "ptyped")
    df = spark.createDataFrame(
        [(1, "01"), (2, "02"), (3, "10")], "k int, month string"
    )
    write_version(df, tdir, "append", partition_by=["month"])
    got = read_version(spark, tdir)
    assert dict(got.dtypes)["month"] == "string"
    assert sorted(r["month"] for r in got.collect()) == ["01", "02", "10"]


def test_partition_pruning_skips_files(spark, part_table):
    tdir, rows = part_table
    got = read_version_pruned(spark, tdir, "seg", "=", "B")
    want = [r for r in rows if r[1] == "B"]
    assert sorted((r["k"], r["seg"], r["val"]) for r in got.collect()) == sorted(
        want
    )
    # manifest-level pruning: only partition B's files are planned
    files = got.inputFiles()
    assert files and all("seg=B" in f for f in files)


def test_appends_inherit_partitioning(spark, part_table):
    tdir, rows = part_table
    extra = [(100 + i, ["A", "B"][i % 2], 7.0) for i in range(10)]
    write_version(_mkdf(spark, extra), tdir, "append")  # no partition_by
    pruned = read_version_pruned(spark, tdir, "seg", "=", "A")
    want = [r for r in rows + extra if r[1] == "A"]
    assert pruned.count() == len(want)
    assert all("seg=A" in f for f in pruned.inputFiles())


def test_conflicting_partition_spec_refused(spark, part_table):
    tdir, _ = part_table
    with pytest.raises(ValueError, match="partition spec"):
        write_version(
            _mkdf(spark, [(1, "A", 1.0)]), tdir, "append", partition_by=["k"]
        )


def test_partition_column_must_exist(spark, tmp_path):
    tdir = str(tmp_path / "pmissing")
    with pytest.raises(ValueError, match="not in schema"):
        write_version(
            _mkdf(spark, [(1, "A", 1.0)]), tdir, "append",
            partition_by=["nope"],
        )


def test_describe_detail_reports_partitioning(spark, part_table):
    tdir, _ = part_table
    assert describe_detail(spark, tdir)["partition_by"] == ["seg"]


def test_delete_on_partitioned_table(spark, part_table):
    tdir, rows = part_table
    doomed = spark.createDataFrame([(k,) for k in range(0, 60, 5)], "k int")
    delete_rows(spark, tdir, doomed)
    got = read_version(spark, tdir)
    want = [r for r in rows if r[0] % 5 != 0]
    assert sorted(got.collect()) == sorted(want)


def test_merge_on_partitioned_table(spark, part_table):
    """CoW MERGE preserves the hive layout: the rewrite dir is
    partitioned too, so partition pruning stays directory-exact
    under merge churn."""
    tdir, rows = part_table
    src = _mkdf(spark, [(k, "A", 999.0) for k in range(0, 60, 3)])
    merge_version(spark, tdir, src, key="k", when_matched="update")
    got = {r["k"]: (r["seg"], r["val"]) for r in read_version(spark, tdir).collect()}
    assert len(got) == 60
    for k, seg, val in rows:
        if k % 3 == 0:
            assert got[k] == ("A", 999.0)
        else:
            assert got[k] == (seg, val)
    # every live file — original and rewritten — sits under a seg= dir
    pruned = read_version_pruned(spark, tdir, "seg", "=", "B")
    assert pruned.inputFiles() and all(
        "seg=B" in f for f in pruned.inputFiles()
    )
    want_b = [r for r in rows if r[1] == "B" and r[0] % 3 != 0]
    assert pruned.count() == len(want_b)


def test_merge_cluster_by_on_partitioned_table(spark, part_table):
    """cluster_by composes with hive preservation: the rewrite is
    range-clustered WITHIN the partition layout, results unchanged
    and pruning still directory-exact."""
    tdir, rows = part_table
    src = _mkdf(spark, [(k, "A", 111.0) for k in range(0, 60, 4)])
    merge_version(
        spark, tdir, src, key="k", when_matched="update", cluster_by="k"
    )
    got = read_version(spark, tdir)
    assert got.count() == 60
    assert got.where((F.col("val") == 111.0)).count() == 15
    pruned = read_version_pruned(spark, tdir, "seg", "=", "A")
    assert pruned.inputFiles() and all(
        "seg=A" in f for f in pruned.inputFiles()
    )


def test_optimize_keeps_partition_spec(spark, part_table):
    """Plain compaction PRESERVES the hive layout (one compacted file
    per partition value — pruning stays directory-exact) and the
    table-level spec survives, so later appends re-partition."""
    tdir, rows = part_table
    optimize_version(spark, tdir)
    assert sorted(read_version(spark, tdir).collect()) == sorted(rows)
    assert describe_detail(spark, tdir)["partition_by"] == ["seg"]
    pruned = read_version_pruned(spark, tdir, "seg", "=", "B")
    files = pruned.inputFiles()
    assert len(files) == 1 and "seg=B" in files[0]
    extra = [(200, "C", 3.0)]
    write_version(_mkdf(spark, extra), tdir, "append")
    pruned = read_version_pruned(spark, tdir, "seg", "=", "C")
    assert pruned.count() == len([r for r in rows if r[1] == "C"]) + 1
    assert all("seg=C" in f for f in pruned.inputFiles())


def test_optimize_cluster_by_within_hive_layout(spark, part_table):
    """OPTIMIZE never unpartitions: cluster_by orders rows WITHIN the
    hive layout — partition pruning stays directory-exact AND the
    cluster column's zonemaps are tight inside every partition."""
    tdir, rows = part_table
    optimize_version(spark, tdir, cluster_by="k")
    assert sorted(read_version(spark, tdir).collect()) == sorted(rows)
    assert describe_detail(spark, tdir)["partition_by"] == ["seg"]
    # zonemap pruning on the CLUSTER column still works
    pruned = read_version_pruned(spark, tdir, "k", "=", 7)
    assert pruned.count() == 1
    # and every compacted file stayed inside a partition directory
    allf = read_version(spark, tdir).inputFiles()
    assert allf and all("seg=" in f for f in allf)


def test_time_travel_on_partitioned_table(spark, part_table):
    tdir, rows = part_table
    write_version(_mkdf(spark, [(500, "A", 1.0)]), tdir, "append")
    assert read_version(spark, tdir, version=1).count() == len(rows)
    assert read_version(spark, tdir).count() == len(rows) + 1


def test_multi_column_partitioning(spark, tmp_path):
    tdir = str(tmp_path / "p2")
    df = spark.createDataFrame(
        [(i, i % 2, ["x", "y"][i % 2], float(i)) for i in range(20)],
        "k int, par int, seg string, val double",
    )
    write_version(df, tdir, "append", partition_by=["par", "seg"])
    got = read_version(spark, tdir)
    assert got.columns == ["k", "par", "seg", "val"]
    assert got.count() == 20
    pruned = read_version_pruned(spark, tdir, "par", "=", 1)
    assert pruned.count() == 10
    assert all("par=1" in f for f in pruned.inputFiles())
    assert dict(pruned.dtypes)["par"] == "int"


def test_stream_bootstrap_partitioned(spark, tmp_path):
    """A streaming sink can BOOTSTRAP a hive-partitioned table: the
    first micro-batch records the spec as a table property, later
    batches inherit it, and the pruned read plans one partition."""
    import json as _json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from tms_etl_spark.operators.versioned import stream_write_versioned

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join(
            _json.dumps({"k": i, "seg": ["A", "B"][i % 2]}) for i in range(10)
        )
    )
    schema = StructType(
        [StructField("k", LongType()), StructField("seg", StringType())]
    )
    tdir = str(tmp_path / "ptab")
    q = stream_write_versioned(
        spark.readStream.schema(schema).json(str(src)),
        tdir,
        str(tmp_path / "ckpt"),
        partition_by=["seg"],
    )
    q.awaitTermination(120)
    # second batch (new file) inherits the spec with no partition_by
    (src / "b.json").write_text(_json.dumps({"k": 100, "seg": "A"}))
    q2 = stream_write_versioned(
        spark.readStream.schema(schema).json(str(src)),
        tdir,
        str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert describe_detail(spark, tdir)["partition_by"] == ["seg"]
    pruned = read_version_pruned(spark, tdir, "seg", "=", "A")
    assert pruned.count() == 6
    assert pruned.inputFiles() and all(
        "seg=A" in f for f in pruned.inputFiles()
    )


def test_checked_write_partitioned(spark, tmp_path):
    """write_version_checked forwards partition_by: clean rows land
    hive-partitioned, quarantined rows land in their own (plain)
    table, and the constraint contract is unchanged."""
    from tms_etl_spark.operators.versioned import (
        read_version,
        write_version_checked,
    )

    tdir = str(tmp_path / "ptab")
    qdir = str(tmp_path / "quar")
    df = _mkdf(
        spark,
        [(1, "A", 1.0), (2, "B", -5.0), (3, "A", 2.0)],
    )
    write_version_checked(
        df,
        tdir,
        check_constraints=["val >= 0"],
        quarantine_dir=qdir,
        partition_by=["seg"],
    )
    assert describe_detail(spark, tdir)["partition_by"] == ["seg"]
    assert read_version(spark, tdir).count() == 2
    assert read_version(spark, qdir).count() == 1
    pruned = read_version_pruned(spark, tdir, "seg", "=", "A")
    assert all("seg=A" in f for f in pruned.inputFiles())


def test_optimize_incremental_partitioned(spark, part_table):
    """Incremental compaction of small-file debt on a partitioned
    table consolidates WITHIN the hive layout — pruning stays
    directory-exact afterwards."""
    from tms_etl_spark.operators.versioned import optimize_incremental

    tdir, rows = part_table
    # accrue small-file debt: several tiny appends
    extra = []
    for i in range(3):
        batch = [(1000 + 10 * i + j, ["A", "B"][j % 2], 1.0) for j in range(4)]
        write_version(_mkdf(spark, batch), tdir, "append")
        extra += batch
    v = optimize_incremental(
        spark, tdir, target_file_bytes=1 << 30, min_file_bytes=1 << 20
    )
    assert v > 4
    got = read_version(spark, tdir)
    assert sorted(got.collect()) == sorted(rows + extra)
    pruned = read_version_pruned(spark, tdir, "seg", "=", "B")
    assert pruned.inputFiles() and all(
        "seg=B" in f for f in pruned.inputFiles()
    )


def _conjunct(spark, c):
    """The pruning predicates conjunct ``c`` contributes to a
    conjunction, read by the Catalyst WHERE walker."""
    from tms_etl_spark.operators.versioned import _where_pruning_groups

    [group] = _where_pruning_groups(spark, f"({c}) AND true")
    return group


def _ts_df(spark, rows):
    """rows: (k, ts_string, val)"""
    df = spark.createDataFrame(rows, "k int, ts_s string, val double")
    return df.withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")


def test_generated_partition_column(spark, tmp_path):
    """Delta-style generated-column partitioning: the batch carries a
    natural timestamp; the table derives p_month and partitions by
    it. Appends inherit the expression and derive automatically."""
    tdir = str(tmp_path / "gen")
    write_version(
        _ts_df(
            spark,
            [(1, "2024-01-05 10:00:00", 1.0), (2, "2024-02-10 11:00:00", 2.0)],
        ),
        tdir,
        partition_by=["p_month"],
        partition_exprs={"p_month": "date_format(ts, 'yyyy-MM')"},
    )
    # producer append: natural rows, no p_month, no spec repeated
    write_version(
        _ts_df(spark, [(3, "2024-02-20 09:00:00", 3.0)]), tdir, "append"
    )
    got = read_version(spark, tdir)
    assert "p_month" in got.columns
    by_k = {r["k"]: r["p_month"] for r in got.collect()}
    assert by_k == {1: "2024-01", 2: "2024-02", 3: "2024-02"}
    pruned = read_version_pruned(spark, tdir, "p_month", "=", "2024-02")
    assert pruned.count() == 2
    assert all("p_month=2024-02" in f for f in pruned.inputFiles())


def test_generated_partition_merge_and_checked(spark, tmp_path):
    """MERGE sources and checked writes also auto-derive the
    generated column; conflicting expressions are refused."""
    from tms_etl_spark.operators.versioned import write_version_checked

    tdir = str(tmp_path / "gen")
    exprs = {"p_month": "date_format(ts, 'yyyy-MM')"}
    write_version(
        _ts_df(spark, [(1, "2024-01-05 10:00:00", 1.0)]),
        tdir,
        partition_by=["p_month"],
        partition_exprs=exprs,
    )
    # checked write without the generated column: derives, no drift
    write_version_checked(
        _ts_df(spark, [(2, "2024-03-01 08:00:00", 2.0)]),
        tdir,
        check_constraints=["val >= 0"],
    )
    # merge a natural source row updating k=1
    merge_version(
        spark,
        tdir,
        _ts_df(spark, [(1, "2024-01-05 10:00:00", 99.0)]),
        key="k",
        when_matched="update",
    )
    got = {r["k"]: (r["p_month"], r["val"]) for r in read_version(spark, tdir).collect()}
    assert got == {1: ("2024-01", 99.0), 2: ("2024-03", 2.0)}
    with pytest.raises(ValueError, match="generated columns"):
        write_version(
            _ts_df(spark, [(9, "2024-04-01 00:00:00", 1.0)]),
            tdir,
            "append",
            partition_by=["p_month"],
            partition_exprs={"p_month": "date_format(ts, 'yyyy')"},
        )


def test_partition_exprs_unknown_column_refused(spark, tmp_path):
    tdir = str(tmp_path / "gen")
    with pytest.raises(ValueError, match="non-partition"):
        write_version(
            _ts_df(spark, [(1, "2024-01-01 00:00:00", 1.0)]),
            tdir,
            partition_by=["p_month"],
            partition_exprs={
                "p_month": "date_format(ts, 'yyyy-MM')",
                "other": "1",
            },
        )


def test_bloom_point_read_on_partitioned_table(spark, part_table):
    """Index-routed point reads must keep the hive partition column:
    the explicit-file scan goes through the basePath-aware reader, so
    the result schema matches read_version and merged-away files'
    nested rel paths are honored."""
    from tms_etl_spark.operators.bloomindex import (
        build_bloom_index,
        read_version_point,
    )

    tdir, rows = part_table
    build_bloom_index(spark, tdir, "k")
    got = read_version_point(spark, tdir, "k", 7)
    assert got.columns == ["k", "seg", "val"]
    assert [(r["k"], r["seg"]) for r in got.collect()] == [(7, "B")]


def test_text_search_on_partitioned_table(spark, tmp_path):
    from tms_etl_spark.operators.textindex import (
        build_text_index,
        search_token,
    )

    tdir = str(tmp_path / "ptext")
    df = spark.createDataFrame(
        [
            (1, "A", "alpha beta"),
            (2, "B", "gamma delta"),
            (3, "A", "beta gamma"),
        ],
        "k int, seg string, body string",
    )
    write_version(df, tdir, "append", partition_by=["seg"])
    build_text_index(spark, tdir, "body")
    got = search_token(spark, tdir, "body", "beta")
    assert got.columns == ["k", "seg", "body"]
    assert sorted((r["k"], r["seg"]) for r in got.collect()) == [
        (1, "A"),
        (3, "A"),
    ]


def test_optimize_zorder_within_hive_layout(spark, part_table):
    """OPTIMIZE ZORDER on a partitioned table clusters by the Morton
    key WITHIN each partition directory."""
    tdir, rows = part_table
    optimize_version(spark, tdir, zorder_by=("k", "val"))
    assert sorted(read_version(spark, tdir).collect()) == sorted(rows)
    allf = read_version(spark, tdir).inputFiles()
    assert allf and all("seg=" in f for f in allf)
    pruned = read_version_pruned(spark, tdir, "seg", "=", "C")
    assert pruned.count() == len([r for r in rows if r[1] == "C"])
    assert all("seg=C" in f for f in pruned.inputFiles())


def test_partition_spec_evolution_via_optimize(spark, tmp_path):
    """Iceberg-style spec evolution by rewrite: OPTIMIZE with an
    explicit partition_by re-lands the table in the new spec, which
    future appends inherit; [] unpartitions."""
    from tms_etl_spark.operators.versioned import optimize_version

    tdir = str(tmp_path / "respec")
    rows = [(i, ["A", "B"][i % 2], float(i)) for i in range(40)]
    write_version(_mkdf(spark, rows), tdir, "append")  # plain table
    # evolve: plain -> partitioned by seg
    optimize_version(spark, tdir, partition_by=["seg"])
    assert describe_detail(spark, tdir)["partition_by"] == ["seg"]
    assert sorted(read_version(spark, tdir).collect()) == sorted(rows)
    pruned = read_version_pruned(spark, tdir, "seg", "=", "A")
    assert pruned.inputFiles() and all(
        "seg=A" in f for f in pruned.inputFiles()
    )
    # appends inherit the evolved spec
    write_version(_mkdf(spark, [(100, "B", 1.0)]), tdir, "append")
    pruned = read_version_pruned(spark, tdir, "seg", "=", "B")
    assert pruned.count() == 21
    assert all("seg=B" in f for f in pruned.inputFiles())
    # evolve back: unpartition
    optimize_version(spark, tdir, partition_by=[])
    assert describe_detail(spark, tdir)["partition_by"] is None
    got = read_version(spark, tdir)
    assert got.count() == 41
    assert not any("seg=" in f for f in got.inputFiles())
    # old partitioned snapshot still time-travels
    assert read_version(spark, tdir, version=2).count() == 40


def test_spec_evolution_unknown_column_refused(spark, part_table):
    from tms_etl_spark.operators.versioned import optimize_version

    tdir, _ = part_table
    with pytest.raises(ValueError, match="not in schema"):
        optimize_version(spark, tdir, partition_by=["nope"])


def test_partitioned_model_based_random_ops(spark, tmp_path):
    """Model-based randomized check of the mutation surface ON A
    PARTITIONED TABLE with a GENERATED partition column: a random
    sequence of append / merge-update / merge-delete / delete_rows /
    incremental-compact / full-optimize ops applied to both the table
    and a plain dict; after every step the read-back AND a
    partition-pruned read must equal the model. Sources never carry
    the partition column — every path must auto-derive it."""
    import random

    from tms_etl_spark.operators.versioned import (
        optimize_incremental,
        optimize_version,
    )

    tdir = str(tmp_path / "pmodel")
    rng = random.Random(7)
    model: dict[int, int] = {}

    def df_of(rows):
        return spark.createDataFrame(rows, "id long, val long")

    def check():
        got = {
            (r["id"]): (r["val"], r["seg"])
            for r in read_version(spark, tdir).collect()
        }
        want = {k: (v, str(k % 4)) for k, v in model.items()}
        assert got == want
        pruned = read_version_pruned(spark, tdir, "seg", "=", "1")
        got1 = {r["id"]: r["val"] for r in pruned.collect()}
        assert got1 == {k: v for k, v in model.items() if k % 4 == 1}

    rows = [(i, rng.randrange(1000)) for i in range(0, 20)]
    model.update(dict(rows))
    write_version(
        df_of(rows),
        tdir,
        "append",
        partition_by=["seg"],
        partition_exprs={"seg": "cast(pmod(id, 4) as string)"},
    )
    check()

    for step in range(12):
        op = rng.choice(
            ["append", "merge", "mergedel", "delete", "compact", "optimize"]
        )
        if op == "append":
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
        elif op == "compact":
            optimize_incremental(spark, tdir, min_file_bytes=1024)
        else:
            optimize_version(spark, tdir)
        check()


def test_register_versioned_partitioned_sql(spark, part_table):
    """SQL front door on a partitioned table: snapshot view carries
    the partition column and pushes partition-value filters."""
    from tms_etl_spark.operators.versioned import register_versioned

    tdir, rows = part_table
    register_versioned(spark, tdir, "ptab_sql")
    got = spark.sql(
        "SELECT seg, COUNT(*) AS n FROM ptab_sql GROUP BY seg ORDER BY seg"
    ).collect()
    assert [(r["seg"], r["n"]) for r in got] == [("A", 20), ("B", 20), ("C", 20)]
    hist = spark.sql("SELECT version, op FROM ptab_sql__history").collect()
    assert [(r["version"], r["op"]) for r in hist] == [(1, "append")]


def test_rowdiff_on_partitioned_table(spark, part_table):
    """Row-level CDC works across hive layouts: a MERGE on a
    partitioned table classifies exactly the value-changed rows."""
    from tms_etl_spark.operators.versioned import read_version_rowdiff

    tdir, rows = part_table
    src = _mkdf(spark, [(k, "A", 777.0) for k in range(0, 60, 10)])
    merge_version(spark, tdir, src, key="k", when_matched="update")
    diff = read_version_rowdiff(spark, tdir, key="k", from_version=1)
    got = {(r["k"], r["op"], r["seg"], r["val"]) for r in diff.collect()}
    # k=0,30 were already seg=A; k=10,20,40,50 change seg too —
    # every touched key's val changes, so all 6 are updates
    assert got == {(k, "update", "A", 777.0) for k in range(0, 60, 10)}


def test_expire_on_partitioned_table(spark, part_table, tmp_path):
    """expire_versions physically removes superseded hive dirs
    (recursive delete) while the current snapshot stays intact."""
    import os

    from tms_etl_spark.operators.versioned import (
        expire_versions,
        optimize_version,
    )

    tdir, rows = part_table
    optimize_version(spark, tdir)  # v2 supersedes v1's hive dir
    expire_versions(spark, tdir, keep_last=1, orphan_grace_hours=0.0)
    assert sorted(read_version(spark, tdir).collect()) == sorted(rows)
    data_dirs = os.listdir(os.path.join(tdir, "data"))
    assert len(data_dirs) == 1  # v1's nested hive dir is fully gone


def test_collapsed_hive_scan_equals_per_dir_scan(spark, tmp_path, monkeypatch):
    """Past _HIVE_UNION_MAX hive version dirs, reads collapse into ONE
    multi-path scan with partition columns parsed from the file path.
    Forced on (threshold 0), it must be value-identical to the per-dir
    basePath scan across the nasty hive-escaping cases: %XX escapes,
    literal '+' and space, '=', '/', unicode, NULL partitions, and an
    int-typed partition column."""
    import tms_etl_spark.operators.versioned as V

    tdir = str(tmp_path / "collapse")
    vals = [
        "plain", "a b", "a%20b", "a+b", "x=y", "c/d",
        "münchen", None, "2024-01-01 10:00:00",
    ]
    for i, v in enumerate(vals):
        df = spark.createDataFrame(
            [(i * 10 + j, v, i % 4) for j in range(3)],
            "id int, p string, bucket int",
        )
        write_version(df, tdir, "append", partition_by=["p", "bucket"])

    baseline = sorted(
        map(tuple, read_version(spark, tdir).collect())
    )  # per-dir basePath path (9 dirs < threshold)
    monkeypatch.setattr(V, "_HIVE_UNION_MAX", 0)
    got = read_version(spark, tdir)
    assert dict(got.dtypes)["bucket"] == "int"  # recorded type, cast applied
    assert sorted(map(tuple, got.collect())) == baseline
    assert [r["p"] for r in got.where(F.col("p").isNull()).collect()] == [
        None, None, None,
    ]


def test_collapsed_scan_composes_with_deletes_and_pruning(
    spark, tmp_path, monkeypatch
):
    """The collapsed scan is below _scan_with_deletes and the pruned
    read path, so tombstones and manifest pruning must behave
    identically with it forced on."""
    import tms_etl_spark.operators.versioned as V

    tdir = str(tmp_path / "collapse2")
    for i in range(5):
        df = spark.createDataFrame(
            [(i * 10 + j, f"s{i % 2}") for j in range(4)],
            "k int, seg string",
        )
        write_version(df, tdir, "append", partition_by=["seg"])
    delete_rows(
        spark, tdir, spark.range(0, 50, 10).select(F.col("id").cast("int").alias("k"))
    )
    baseline = sorted(r["k"] for r in read_version(spark, tdir).collect())
    monkeypatch.setattr(V, "_HIVE_UNION_MAX", 0)
    assert sorted(r["k"] for r in read_version(spark, tdir).collect()) == baseline
    pruned = read_version_pruned(spark, tdir, "seg", "=", "s1")
    assert sorted(r["k"] for r in pruned.collect()) == [
        k for k in baseline if (k // 10) % 2 == 1
    ]


def test_generated_partition_predicate_derivation(spark, tmp_path):
    """A read filtering the SOURCE column of a generated partition
    column must prune via the DERIVED partition predicate: WHERE ts in
    a range touches only the hive dirs whose derived p_day matches —
    no p_day filter spelled by the user (Delta's generated-column
    constraint derivation; the reference's month-window scan derives
    month dirs from dates the same way)."""
    import datetime

    from tms_etl_spark.operators.versioned import read_version_pruned_multi

    tdir = str(tmp_path / "genpred")
    rows = []
    for d in range(1, 7):  # six days, 4 rows each
        for j in range(4):
            rows.append((d * 10 + j, f"2024-03-0{d} 0{j}:30:00", float(j)))
    write_version(
        _ts_df(spark, rows),
        tdir,
        partition_by=["p_day"],
        partition_exprs={"p_day": "date_format(ts, 'yyyy-MM-dd')"},
    )

    # equality on ts -> p_day equality -> exactly one partition dir
    got = read_version_pruned(
        spark, tdir, "ts", "=", datetime.datetime(2024, 3, 4, 2, 30)
    )
    assert [r["k"] for r in got.collect()] == [42]
    assert all("p_day=2024-03-04" in f for f in got.inputFiles())
    assert len({f.rsplit("/", 2)[1] for f in got.inputFiles()}) == 1

    # range on ts -> p_day bounds -> only the three matching dirs;
    # the residual keeps row-exactness inside the boundary days
    lo = datetime.datetime(2024, 3, 2, 1, 0)
    hi = datetime.datetime(2024, 3, 4, 23, 0)
    got = read_version_pruned_multi(
        spark, tdir, [("ts", ">=", lo), ("ts", "<=", hi)]
    )
    assert sorted(r["k"] for r in got.collect()) == [
        21, 22, 23, 30, 31, 32, 33, 40, 41, 42, 43,
    ]
    days = {f.rsplit("/", 2)[1] for f in got.inputFiles()}
    assert days == {"p_day=2024-03-02", "p_day=2024-03-03", "p_day=2024-03-04"}

    # strict < relaxes to <= on the partition column (sound): the
    # boundary DAY is scanned, boundary rows filtered by the residual
    got = read_version_pruned(
        spark, tdir, "ts", "<", datetime.datetime(2024, 3, 2, 0, 0)
    )
    assert sorted(r["k"] for r in got.collect()) == [10, 11, 12, 13]
    days = {f.rsplit("/", 2)[1] for f in got.inputFiles()}
    assert days == {"p_day=2024-03-01", "p_day=2024-03-02"}  # not 03-03+


def test_generated_partition_derivation_monotone_gate(spark, tmp_path):
    """Non-monotone generated exprs (bare month() wraps every year)
    must derive NOTHING — pruning soundness depends on the gate."""
    from tms_etl_spark.operators.versioned import (
        _derived_partition_predicates,
        _manifest_path,
        _read_json,
        current_version,
    )

    tdir = str(tmp_path / "genmono")
    write_version(
        _ts_df(
            spark,
            [(1, "2023-05-01 00:00:00", 1.0), (2, "2024-02-01 00:00:00", 2.0)],
        ),
        tdir,
        partition_by=["p_m"],
        partition_exprs={"p_m": "month(ts)"},
    )
    man = _read_json(
        spark, _manifest_path(tdir, current_version(spark, tdir))
    )
    import datetime

    derived = _derived_partition_predicates(
        spark, man, [("ts", ">=", datetime.datetime(2024, 1, 1))]
    )
    assert derived == []
    # and the read stays CORRECT (scans everything, filters rows)
    got = read_version_pruned(
        spark, tdir, "ts", ">=", datetime.datetime(2024, 1, 1)
    )
    assert [r["k"] for r in got.collect()] == [2]

    # year() IS monotone and derives
    tdir2 = str(tmp_path / "genyear")
    write_version(
        _ts_df(
            spark,
            [(1, "2023-05-01 00:00:00", 1.0), (2, "2024-02-01 00:00:00", 2.0)],
        ),
        tdir2,
        partition_by=["p_y"],
        partition_exprs={"p_y": "year(ts)"},
    )
    man2 = _read_json(
        spark, _manifest_path(tdir2, current_version(spark, tdir2))
    )
    derived = _derived_partition_predicates(
        spark, man2, [("ts", ">=", datetime.datetime(2024, 1, 1))]
    )
    assert derived == [("p_y", ">=", 2024)]
    got = read_version_pruned(
        spark, tdir2, "ts", ">=", datetime.datetime(2024, 1, 1)
    )
    assert [r["k"] for r in got.collect()] == [2]
    assert all("p_y=2024" in f for f in got.inputFiles())


def test_dpp_semijoin_prunes_files_and_matches_plain_join(spark, tmp_path):
    """Manifest-level dynamic partition pruning: a filtered dimension's
    distinct keys prune the fact snapshot's files through the
    zonemaps, and the residual semi-join keeps rows exact — equal to
    the unpruned read filtered the plain way."""
    from tms_etl_spark.operators.versioned import (
        read_version_pruned_semijoin,
    )

    tdir = str(tmp_path / "dppfact")
    for lo in (0, 100, 200, 300):  # four single-file commits, disjoint key ranges
        df = spark.range(lo, lo + 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).coalesce(1)
        write_version(df, tdir, "append")
    dim = spark.createDataFrame(
        [(5, "want"), (42, "want"), (777, "noise")], "k long, tag string"
    ).where(F.col("tag") == "want")

    got = read_version_pruned_semijoin(spark, tdir, "k", dim)
    assert sorted((r["k"], r["v"]) for r in got.collect()) == [
        (5, 10), (42, 84),
    ]
    assert len(got.inputFiles()) == 1  # both keys live in the 0-99 file

    # keys spanning two files scan exactly two
    dim2 = spark.createDataFrame([(5,), (250,)], "k long")
    got2 = read_version_pruned_semijoin(spark, tdir, "k", dim2)
    assert sorted(r["k"] for r in got2.collect()) == [5, 250]
    assert len(got2.inputFiles()) == 2

    # no matching keys: empty result, correct schema
    none = read_version_pruned_semijoin(
        spark, tdir, "k", spark.createDataFrame([(9_999,)], "k long")
    )
    assert none.count() == 0
    assert none.columns == ["k", "v"]

    # over max_keys: unpruned but exact (the documented degradation)
    wide = spark.range(0, 50).select(F.col("id").alias("k"))
    got3 = read_version_pruned_semijoin(
        spark, tdir, "k", wide, max_keys=10
    )
    assert got3.count() == 50
    assert len(got3.inputFiles()) == 4  # nothing pruned

    # key_col rename + hive-partitioned fact prunes partition dirs
    tdir2 = str(tmp_path / "dpphive")
    df = spark.range(0, 90).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("seg"),
    )
    write_version(df, tdir2, "append", partition_by=["seg"])
    dimh = spark.createDataFrame([("1",)], "segment string")
    goth = read_version_pruned_semijoin(
        spark, tdir2, "seg", dimh, key_col="segment"
    )
    assert goth.count() == 30
    assert all("seg=1" in f for f in goth.inputFiles())


def test_where_string_conjunct_parser(spark):
    from tms_etl_spark.operators.versioned import _where_pruning_groups
    import datetime

    assert _where_pruning_groups(
        spark, "a = 1 AND b >= 'x AND y' and c < 2.5"
    ) == [[("a", "=", 1), ("b", ">=", "x AND y"), ("c", "<", 2.5)]]
    assert _where_pruning_groups(
        spark, "f(a, b) > 3 AND (x = 1 OR y = 2)"
    ) == [[]]
    assert _where_pruning_groups(spark, "androgynous = 'AND'") == [
        [("androgynous", "=", "AND")],
    ]
    assert _conjunct(spark, "a = 1") == [("a", "=", 1)]
    assert _conjunct(spark, "a >= -2.5") == [("a", ">=", -2.5)]
    assert _conjunct(spark, "s = 'it''s'") == [("s", "=", "it's")]
    assert _conjunct(spark, "d < DATE '2024-03-01'") == [
        ("d", "<", datetime.date(2024, 3, 1)),
    ]
    assert _conjunct(spark, "t <= timestamp '2024-03-01 10:30:00'") == [
        ("t", "<=", datetime.datetime(2024, 3, 1, 10, 30)),
    ]
    # not col-op-literal conjuncts -> residual-only
    assert _conjunct(spark, "(x = 1 OR y = 2)") == []
    assert _conjunct(spark, "f(a) > 3") == []


def test_where_backslash_literal_prunes_like_the_row_filter(spark, tmp_path):
    r"""A backslash-escaped string literal — the reference's export
    path shape ``C:\TMSDATA\YYYY-MM`` — prunes with the value Spark's
    row filter compares (the parser unescapes ``\\``): the pruned read
    returns the filter's row, and UPDATE/DELETE WHERE act on it
    instead of committing no-ops over a wrongly skipped file."""
    from tms_etl_spark.operators.versioned import (
        delete_where,
        read_version,
        read_version_where,
        update_where,
    )

    tdir = str(tmp_path / "esc")
    write_version(
        spark.createDataFrame(
            [(1, "C:\\TMSDATA\\2024-01", 0), (2, "C:\\TMSDATA\\2024-02", 0)],
            "k int, p string, v int",
        ).coalesce(1),
        tdir,
        "append",
    )
    where = r"p = 'C:\\TMSDATA\\2024-01'"
    assert [r["k"] for r in read_version(spark, tdir).where(where).collect()] == [1]
    assert [r["k"] for r in read_version_where(spark, tdir, where).collect()] == [1]
    update_where(spark, tdir, where, {"v": "7"})
    got = {r["k"]: r["v"] for r in read_version(spark, tdir).collect()}
    assert got == {1: 7, 2: 0}
    delete_where(spark, tdir, where, key="k")
    assert [r["k"] for r in read_version(spark, tdir).collect()] == [2]
    # a malformed string raises the row filter's own ParseException
    from pyspark.errors import ParseException

    with pytest.raises(ParseException):
        read_version_where(spark, tdir, "p = = 1")


def test_read_version_where_prunes_and_is_exact(spark, tmp_path):
    """The WHERE front door: parseable conjuncts prune files (incl.
    derived generated-partition predicates from a raw-ts bound);
    unparseable conjuncts (OR trees, functions) still filter rows —
    correctness never depends on the parser."""
    from tms_etl_spark.operators.versioned import read_version_where

    tdir = str(tmp_path / "wherefd")
    rows = []
    for d in range(1, 5):
        for j in range(6):
            rows.append((d * 10 + j, f"2024-03-0{d} 0{j}:00:00", float(j)))
    write_version(
        _ts_df(spark, rows),
        tdir,
        partition_by=["p_day"],
        partition_exprs={"p_day": "date_format(ts, 'yyyy-MM-dd')"},
    )
    got = read_version_where(
        spark,
        tdir,
        "ts >= TIMESTAMP '2024-03-03 00:00:00' AND "
        "(val = 1.0 OR val = 2.0) AND k < 41",
    )
    assert sorted(r["k"] for r in got.collect()) == [31, 32]
    days = {f.rsplit("/", 2)[1] for f in got.inputFiles()}
    # ts bound derived p_day >= 2024-03-03: days 1-2 never scanned
    assert days <= {"p_day=2024-03-03", "p_day=2024-03-04"}
    # type-mismatched literal must not raise and must not mis-prune
    got2 = read_version_where(spark, tdir, "p_day = '2024-03-02'")
    assert got2.count() == 6
    assert all("p_day=2024-03-02" in f for f in got2.inputFiles())


def test_floor_div_bucket_partition_derivation(spark, tmp_path):
    """floor(id / N) generated buckets derive range predicates from
    raw-id filters; a negative divisor would flip ordering and must
    not match the monotone gate."""
    from tms_etl_spark.operators.versioned import (
        _derived_partition_predicates,
        _manifest_path,
        _read_json,
        current_version,
        read_version_pruned,
    )

    tdir = str(tmp_path / "floorbucket")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_version(
        df,
        tdir,
        partition_by=["p_b"],
        partition_exprs={"p_b": "floor(k / 100)"},
    )
    got = read_version_pruned(spark, tdir, "k", ">=", 250)
    assert got.count() == 150
    buckets = {f.rsplit("/", 2)[1] for f in got.inputFiles()}
    assert buckets == {"p_b=2", "p_b=3"}

    man = _read_json(
        spark, _manifest_path(tdir, current_version(spark, tdir))
    )
    assert _derived_partition_predicates(spark, man, [("k", "=", 123)]) == [
        ("p_b", "=", 1)
    ]
    # negative divisor: order-flipping, must NOT derive
    man2 = dict(man, partition_exprs={"p_b": "floor(k / -100)"})
    assert _derived_partition_predicates(spark, man2, [("k", "=", 123)]) == []


def test_register_versioned_where_prunes_view(spark, tmp_path):
    """register_versioned(where=...) registers a MANIFEST-pruned view:
    the view's file list holds only surviving partitions — a filter
    on a plain view can't do that (its file list is already fixed)."""
    from tms_etl_spark.operators.versioned import register_versioned

    tdir = str(tmp_path / "regwhere")
    df = spark.range(0, 60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("seg"),
    )
    write_version(df, tdir, "append", partition_by=["seg"])
    register_versioned(spark, tdir, "vw_pruned", where="seg = '1' AND k < 31")
    got = spark.table("vw_pruned")
    assert sorted(r["k"] for r in got.collect()) == [
        k for k in range(31) if k % 3 == 1
    ]
    assert all("seg=1" in f for f in got.inputFiles())
    # plain view over the same snapshot lists every partition
    register_versioned(spark, tdir, "vw_plain")
    assert len(
        {f.rsplit("/", 2)[1] for f in spark.table("vw_plain").inputFiles()}
    ) == 3


def test_where_front_door_stacks_bloom_with_zonemaps(spark, tmp_path):
    """An equality conjunct consults the Bloom sidecar ON TOP of
    zonemap pruning: with a random (non-clustered) layout the
    zonemaps admit every file for a point read, but the bloom cut
    scans only the admitting file(s) — and values absent from the
    table scan nothing."""
    from tms_etl_spark.operators.bloomindex import build_bloom_index
    from tms_etl_spark.operators.versioned import read_version_where

    tdir = str(tmp_path / "bloomwhere")
    # 4 single-file commits with INTERLEAVED v ranges (zonemaps wide)
    # but disjoint id membership (bloom selective)
    for i in range(4):
        df = spark.range(0, 1000).select(
            (F.col("id") * 4 + i).alias("uid"),
            (F.col("id") % 7).alias("grp"),
        ).coalesce(1)
        write_version(df, tdir, "append")
    build_bloom_index(spark, tdir, "uid")

    got = read_version_where(spark, tdir, "uid = 402 AND grp >= 0")
    assert [r["uid"] for r in got.collect()] == [402]
    assert len(got.inputFiles()) < 4  # bloom skipped non-member files

    # absent value: bloom proves no file can match
    none = read_version_where(spark, tdir, "uid = 999983")
    assert none.count() == 0
    assert len(none.inputFiles()) == 0


def test_where_between_and_in_parse_and_prune(spark, tmp_path):
    """BETWEEN binds its own AND (splitter) and yields both bounds;
    IN yields a value-set predicate — both prune files and both also
    derive generated-partition predicates."""
    from tms_etl_spark.operators.versioned import (
        _where_pruning_groups,
        read_version_where,
    )

    assert _where_pruning_groups(
        spark, "a BETWEEN 1 AND 5 AND b = 'x'"
    ) == [[("a", ">=", 1), ("a", "<=", 5), ("b", "=", "x")]]
    assert _conjunct(spark, "a BETWEEN 1 AND 5") == [
        ("a", ">=", 1), ("a", "<=", 5),
    ]
    assert _conjunct(spark, "s IN ('x', 'y,z', 'it''s')") == [
        ("s", "in", ("x", "y,z", "it's")),
    ]
    assert _conjunct(spark, "k in (1,2,3)") == [("k", "in", (1, 2, 3))]
    assert _conjunct(spark, "k IN (1, other_col)") == []  # not literal

    tdir = str(tmp_path / "betweenin")
    rows = []
    for d in range(1, 5):
        for j in range(4):
            rows.append((d * 10 + j, f"2024-03-0{d} 0{j}:00:00", float(j)))
    write_version(
        _ts_df(spark, rows),
        tdir,
        partition_by=["p_day"],
        partition_exprs={"p_day": "date_format(ts, 'yyyy-MM-dd')"},
    )
    got = read_version_where(
        spark,
        tdir,
        "ts BETWEEN TIMESTAMP '2024-03-02 00:00:00' "
        "AND TIMESTAMP '2024-03-03 23:00:00'",
    )
    assert sorted(r["k"] for r in got.collect()) == [
        20, 21, 22, 23, 30, 31, 32, 33,
    ]
    days = {f.rsplit("/", 2)[1] for f in got.inputFiles()}
    assert days == {"p_day=2024-03-02", "p_day=2024-03-03"}

    got2 = read_version_where(
        spark, tdir, "p_day IN ('2024-03-01', '2024-03-04') AND val >= 2"
    )
    assert sorted(r["k"] for r in got2.collect()) == [12, 13, 42, 43]
    days2 = {f.rsplit("/", 2)[1] for f in got2.inputFiles()}
    assert days2 == {"p_day=2024-03-01", "p_day=2024-03-04"}

    # IN on the SOURCE column derives the partition images
    got3 = read_version_where(
        spark,
        tdir,
        "ts IN (TIMESTAMP '2024-03-01 01:00:00', "
        "TIMESTAMP '2024-03-03 02:00:00')",
    )
    assert sorted(r["k"] for r in got3.collect()) == [11, 32]
    days3 = {f.rsplit("/", 2)[1] for f in got3.inputFiles()}
    assert days3 == {"p_day=2024-03-01", "p_day=2024-03-03"}


def test_where_in_probes_bloom_per_value(spark, tmp_path):
    """A small IN list unions per-value Bloom admissions: files
    holding neither value are skipped even with wide zonemaps."""
    from tms_etl_spark.operators.bloomindex import build_bloom_index
    from tms_etl_spark.operators.versioned import read_version_where

    tdir = str(tmp_path / "bloomin")
    for i in range(4):
        df = spark.range(0, 500).select(
            (F.col("id") * 4 + i).alias("uid")
        ).coalesce(1)
        write_version(df, tdir, "append")
    build_bloom_index(spark, tdir, "uid")
    got = read_version_where(spark, tdir, "uid IN (402, 403)")
    assert sorted(r["uid"] for r in got.collect()) == [402, 403]
    assert len(got.inputFiles()) <= 2  # the two member files (+FP slack)


def test_dpp_composes_with_generated_partitions(spark, tmp_path):
    """DPP on the raw TIMESTAMP column prunes generated p_day dirs:
    the key set maps through the monotone expression in one job and
    the image set skips every non-matching day — timestamps
    themselves carry no zonemap, so without the composition nothing
    would prune."""
    import datetime

    from tms_etl_spark.operators.versioned import (
        read_version_pruned_semijoin,
    )

    tdir = str(tmp_path / "dppgen")
    rows = []
    for d in range(1, 5):
        for j in range(4):
            rows.append((d * 10 + j, f"2024-03-0{d} 0{j}:00:00", float(j)))
    write_version(
        _ts_df(spark, rows),
        tdir,
        partition_by=["p_day"],
        partition_exprs={"p_day": "date_format(ts, 'yyyy-MM-dd')"},
    )
    dim = spark.createDataFrame(
        [
            (datetime.datetime(2024, 3, 2, 1, 0),),
            (datetime.datetime(2024, 3, 4, 3, 0),),
        ],
        "ts timestamp",
    )
    got = read_version_pruned_semijoin(spark, tdir, "ts", dim)
    assert sorted(r["k"] for r in got.collect()) == [21, 43]
    days = {f.rsplit("/", 2)[1] for f in got.inputFiles()}
    assert days == {"p_day=2024-03-02", "p_day=2024-03-04"}


def test_where_front_door_never_misprunes_randomized(spark, tmp_path):
    """Seeded randomized safety net: for random predicate strings over
    a generated-partition table (mixed =, ranges, BETWEEN, IN, OR
    residuals), read_version_where must return exactly the rows of
    the full snapshot filtered by the same expression — pruning can
    only skip, never lose."""
    import random

    from tms_etl_spark.operators.versioned import (
        read_version,
        read_version_where,
    )

    rng = random.Random(1407)
    tdir = str(tmp_path / "fuzzwhere")
    rows = []
    for d in range(1, 6):
        for j in range(5):
            rows.append(
                (
                    d * 100 + j,
                    # NULL timestamps land in the default partition;
                    # NULL vals exercise the null-count pruning rules
                    None if (d + j) % 7 == 0 else f"2024-03-0{d} 0{j}:15:00",
                    None if (d * j) % 5 == 4 else float(d * j),
                )
            )
    write_version(
        _ts_df(spark, rows),
        tdir,
        partition_by=["p_day"],
        partition_exprs={"p_day": "date_format(ts, 'yyyy-MM-dd')"},
    )
    full = read_version(spark, tdir)
    preds = []
    for _ in range(12):
        d = rng.randint(1, 6)
        j = rng.randint(0, 5)
        choice = rng.randint(0, 9)
        if choice == 0:
            preds.append(f"k {rng.choice(['<', '<=', '>', '>=', '='])} {d * 100 + j}")
        elif choice == 1:
            preds.append(
                f"ts BETWEEN TIMESTAMP '2024-03-0{d} 00:00:00' "
                f"AND TIMESTAMP '2024-03-0{min(d + rng.randint(0, 2), 6)} 23:00:00'"
            )
        elif choice == 2:
            days = ", ".join(
                f"'2024-03-0{rng.randint(1, 6)}'" for _ in range(rng.randint(1, 3))
            )
            preds.append(f"p_day IN ({days})")
        elif choice == 3:
            preds.append(f"ts >= TIMESTAMP '2024-03-0{d} 0{j}:00:00'")
        elif choice == 4:
            preds.append(f"(val > {d} OR k = {d * 100})")
        elif choice == 5:
            col = rng.choice(["val", "ts", "p_day"])
            neg = rng.choice(["", "NOT "])
            preds.append(f"{col} IS {neg}NULL")
        elif choice == 6:
            # r9 anti-equality ops: prune only value-PURE files
            op = rng.choice(["!=", "<>"])
            preds.append(f"p_day {op} '2024-03-0{d}'")
        elif choice == 7:
            days = ", ".join(
                f"'2024-03-0{rng.randint(1, 6)}'"
                for _ in range(rng.randint(1, 3))
            )
            preds.append(f"p_day NOT IN ({days})")
        elif choice == 8:
            # r9 LIKE prefixes (and residual-only non-prefix shapes)
            pat = rng.choice(
                [f"2024-03-0{d}%", "2024-03%", f"%0{d}", f"2024[_]0{d}%"]
            )
            neg = rng.choice(["", "NOT "])
            preds.append(f"p_day {neg}LIKE '{pat}'")
        else:
            preds.append(f"val <= {float(d * j)}")
    # single conjuncts and random 2-3 way conjunctions
    cases = preds + [
        " AND ".join(rng.sample(preds, rng.randint(2, 3))) for _ in range(10)
    ]
    # the common parenthesized style: every conjunct wrapped
    cases += [
        " AND ".join(f"({p})" for p in rng.sample(preds, rng.randint(2, 3)))
        for _ in range(6)
    ]
    # TOP-LEVEL OR and AND-OR mixes: AND binds tighter, so no piece
    # may prune — these must all go residual-only (the ADVICE repro:
    # 'a = 1 AND b = 2 OR c = 3' once pruned on a = 1 alone)
    cases += [" OR ".join(rng.sample(preds, 2)) for _ in range(4)]
    cases += [
        f"{rng.choice(preds)} AND {rng.choice(preds)} OR {rng.choice(preds)}"
        for _ in range(6)
    ]
    for w in cases:
        want = sorted(
            (r["k"],) for r in full.where(w).select("k").collect()
        )
        got = sorted(
            (r["k"],)
            for r in read_version_where(spark, tdir, w).select("k").collect()
        )
        assert got == want, w


def test_split_conjuncts_top_level_or_refuses_pruning(spark):
    """SQL binds AND tighter than OR: 'a = 1 AND b = 2 OR c = 3' means
    (a=1 AND b=2) OR c=3 — no piece may prune alone, so a top-level
    OR gives one group per disjunct (a file is skipped only when
    every group proves it empty). An OR nested inside a conjunct
    contributes nothing; the rest of the conjunction still prunes."""
    from tms_etl_spark.operators.versioned import _where_pruning_groups

    def groups(w):
        return _where_pruning_groups(spark, w)

    assert groups("a = 1 AND b = 2 OR c = 3") == [
        [("a", "=", 1), ("b", "=", 2)], [("c", "=", 3)],
    ]
    assert groups("a BETWEEN 1 AND 5 OR b = 2") == [
        [("a", ">=", 1), ("a", "<=", 5)], [("b", "=", 2)],
    ]
    assert groups("a = 1 OR b = 2") == [[("a", "=", 1)], [("b", "=", 2)]]
    assert groups("x = 'a OR b' AND y = 2") == [
        [("x", "=", "a OR b"), ("y", "=", 2)],
    ]
    # identifiers containing 'or' are not the keyword
    assert groups("orders = 1 AND majors >= 2") == [
        [("orders", "=", 1), ("majors", ">=", 2)],
    ]
    assert groups("(a = 1 OR b = 2) AND c = 3") == [[("c", "=", 3)]]


def test_parse_conjunct_multi_paren_tolerant(spark):
    """Parentheses disappear in the parse — wrapped
    point/range/BETWEEN/IN conjuncts prune like the bare forms; a
    wrapped DISJUNCTION stays residual-only inside a conjunction, and
    a wrapped nested CONJUNCTION contributes every inner conjunct."""
    assert _conjunct(spark, "((a = 1))") == [("a", "=", 1)]
    # first paren closes mid-string: a disjunction, not a wrapper
    assert _conjunct(spark, "(a = 1) OR (b = 2)") == []
    assert _conjunct(spark, "(a = 1)") == [("a", "=", 1)]
    assert _conjunct(spark, "( a >= 2.5 )") == [("a", ">=", 2.5)]
    assert _conjunct(spark, "(a BETWEEN 1 AND 5)") == [
        ("a", ">=", 1), ("a", "<=", 5),
    ]
    assert _conjunct(spark, "(a IN (1, 2))") == [("a", "in", (1, 2))]
    assert _conjunct(spark, "(a = 1 AND b = 2)") == [
        ("a", "=", 1), ("b", "=", 2),
    ]
    # the misprune hazards: no bound may leak out of a disjunction
    assert _conjunct(spark, "(a BETWEEN 1 AND 5 OR b = 2)") == []
    assert _conjunct(spark, "(a = 1 OR b = 2)") == []


def test_where_top_level_or_is_exact_and_unpruned(spark, tmp_path):
    """End-to-end ADVICE repro: a file holding (a=7, c=3) must survive
    'a = 1 AND b = 2 OR c = 3' — before the OR refusal the splitter
    emitted a=1 as a pruning predicate and dropped the file."""
    from tms_etl_spark.operators.versioned import (
        read_version,
        read_version_where,
    )

    tdir = str(tmp_path / "orfix")
    df = spark.createDataFrame(
        [(1, 2, 0), (7, 0, 3), (5, 5, 5)], "a int, b int, c int"
    )
    # one file per row so zonemaps are per-row tight
    write_version(df.repartitionByRange(3, "a"), tdir)
    for w in (
        "a = 1 AND b = 2 OR c = 3",
        "a BETWEEN 1 AND 5 OR c = 3",
        "a = 1 OR c = 3",
    ):
        want = sorted(
            tuple(r) for r in read_version(spark, tdir).where(w).collect()
        )
        got = sorted(
            tuple(r)
            for r in read_version_where(spark, tdir, w).collect()
        )
        assert got == want, w
        assert (7, 0, 3) in got, w


def test_where_paren_conjuncts_prune_files(spark, tmp_path):
    """The common SQL style '(a >= x) AND (b = y)' prunes exactly like
    the unwrapped form — same surviving files, same rows."""
    from tms_etl_spark.operators.versioned import read_version_where

    tdir = str(tmp_path / "parenprune")
    for lo in (0, 100, 200):
        df = spark.range(lo, lo + 100).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("m")
        ).coalesce(1)
        write_version(df, tdir, "append")
    bare = read_version_where(spark, tdir, "k >= 200 AND m = 3")
    wrapped = read_version_where(spark, tdir, "(k >= 200) AND (m = 3)")
    assert sorted(r["k"] for r in wrapped.collect()) == sorted(
        r["k"] for r in bare.collect()
    )
    assert set(wrapped.inputFiles()) == set(bare.inputFiles())
    assert len(wrapped.inputFiles()) == 1  # only the k>=200 file


def test_dpp_over_cap_fallback_joins_unhinted(spark, tmp_path):
    """Past max_keys the residual semi-join must NOT carry a broadcast
    hint: with auto-broadcast disabled the over-cap plan is a
    shuffled/sort-merge semi-join (Spark's size-based choice), while
    the under-cap plan still broadcasts via the explicit hint — and
    both return exactly the plain-join rows."""
    from tms_etl_spark.operators.versioned import (
        read_version_pruned_semijoin,
    )

    tdir = str(tmp_path / "dppcap")
    fact = spark.range(0, 200).select(
        F.col("id").alias("fk"), (F.col("id") * 2).alias("v")
    )
    write_version(fact, tdir)
    dim = spark.range(0, 50).select((F.col("id") * 4).alias("fk"))
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe_thresh = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        over = read_version_pruned_semijoin(
            spark, tdir, "fk", dim, max_keys=10
        )
        over_plan = over._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in over_plan
        assert "BroadcastExchange" not in over_plan
        under = read_version_pruned_semijoin(
            spark, tdir, "fk", dim, max_keys=1000
        )
        under_plan = under._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in under_plan  # hint still applies
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe_thresh
        )
    want = sorted(r["fk"] for r in fact.join(dim, "fk", "left_semi").collect())
    assert sorted(r["fk"] for r in over.collect()) == want
    assert sorted(r["fk"] for r in under.collect()) == want


def test_version_asof_naive_datetime_matches_string(spark, tmp_path):
    """A naive datetime OBJECT and the same instant as an ISO string
    must resolve to the same version regardless of the host zone —
    both normalize to UTC before .timestamp()."""
    import datetime
    import os
    import time

    from tms_etl_spark.operators.versioned import version_asof

    tdir = str(tmp_path / "asofdt")
    write_version(spark.range(3).select(F.col("id")), tdir)
    time.sleep(0.05)
    # an instant BETWEEN the two commits, expressed as a naive UTC
    # wall time: on a UTC-4 host a local interpretation would inflate
    # the epoch by 4 h and resolve PAST the second commit
    mid = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    time.sleep(0.05)
    write_version(spark.range(3).select(F.col("id")), tdir, "append")
    old_tz = os.environ.get("TZ")
    try:
        os.environ["TZ"] = "America/New_York"
        time.tzset()
        via_str = version_asof(spark, tdir, mid.isoformat())
        via_dt = version_asof(spark, tdir, mid)
        assert via_str == via_dt == 1
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_null_count_stats_prune_files(spark, tmp_path):
    """Per-file null counts recorded at commit drive IS [NOT] NULL
    pruning: IS NOT NULL skips all-null files, IS NULL skips
    null-free files — file counts pinned, rows exact."""
    from tms_etl_spark.operators.versioned import (
        read_version,
        read_version_pruned,
        read_version_where,
    )

    tdir = str(tmp_path / "nullstats")
    # file A: no nulls; file B: all null; file C: mixed
    a = spark.createDataFrame([(i, float(i)) for i in range(5)],
                              "k int, v double").coalesce(1)
    b = spark.createDataFrame([(i, None) for i in range(10, 15)],
                              "k int, v double").coalesce(1)
    c = spark.createDataFrame(
        [(i, float(i) if i % 2 else None) for i in range(20, 25)],
        "k int, v double",
    ).coalesce(1)
    for df in (a, b, c):
        write_version(df, tdir, "append")
    full = read_version(spark, tdir)

    notnull = read_version_where(spark, tdir, "v IS NOT NULL")
    assert sorted(r["k"] for r in notnull.collect()) == sorted(
        r["k"] for r in full.where("v IS NOT NULL").collect()
    )
    assert len(notnull.inputFiles()) == 2  # the all-null file skipped

    isnull = read_version_where(spark, tdir, "v IS NULL")
    assert sorted(r["k"] for r in isnull.collect()) == sorted(
        r["k"] for r in full.where("v IS NULL").collect()
    )
    assert len(isnull.inputFiles()) == 2  # the null-free file skipped

    # Python-API face: same pruning through read_version_pruned
    api = read_version_pruned(spark, tdir, "v", "notnull", None)
    assert len(api.inputFiles()) == 2
    assert api.count() == 7


def test_schema_evolution_null_backfill_prunes(spark, tmp_path):
    """The evolution commit backfills the added column's null count
    on every carried entry by metadata alone — IS NOT NULL on the
    added column then skips every pre-evolution file at plan time."""
    import json

    from tms_etl_spark.operators.versioned import (
        read_version,
        read_version_where,
    )

    tdir = str(tmp_path / "evonulls")
    v1 = spark.createDataFrame(
        [(i, "x") for i in range(10)], "k int, s string"
    ).coalesce(1)
    write_version(v1, tdir)
    v2 = spark.createDataFrame(
        [(i, "y", float(i)) for i in range(10, 20)],
        "k int, s string, extra double",
    ).coalesce(1)
    write_version(v2, tdir, "append", merge_schema=True)

    man = json.load(open(f"{tdir}/_manifests/v000002.json"))
    v1_entries = [
        e for rel, e in man["stats"].items() if "/v000001-" in f"/{rel}"
    ]
    assert v1_entries and all(
        e["__nulls"]["extra"] == e["__rows"] for e in v1_entries
    )

    got = read_version_where(spark, tdir, "extra IS NOT NULL")
    want = read_version(spark, tdir).where("extra IS NOT NULL")
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in want.collect()
    )
    assert len(got.inputFiles()) == 1  # v1 file gone by metadata


def test_generated_partition_isnull_derivation(spark, tmp_path):
    """src IS NULL derives p IS NULL (gated exprs are null-intolerant)
    — the read plans only the __HIVE_DEFAULT_PARTITION__ dir; the
    unsound reverse (notnull) is NOT derived but still prunes
    per-file through the null counts."""
    from tms_etl_spark.operators.versioned import (
        _derived_partition_predicates,
        read_version_where,
    )

    tdir = str(tmp_path / "gennull")
    rows = [(1, "2024-03-01 10:00:00", 1.0), (2, None, 2.0),
            (3, "2024-03-02 11:00:00", 3.0), (4, None, 4.0)]
    write_version(
        _ts_df(spark, rows),
        tdir,
        partition_by=["p_day"],
        partition_exprs={"p_day": "date_format(ts, 'yyyy-MM-dd')"},
    )
    man = {"partition_exprs": {"p_day": "date_format(ts, 'yyyy-MM-dd')"}}
    assert _derived_partition_predicates(
        spark, man, [("ts", "isnull", None)]
    ) == [("p_day", "isnull", None)]
    assert _derived_partition_predicates(
        spark, man, [("ts", "notnull", None)]
    ) == []

    got = read_version_where(spark, tdir, "ts IS NULL")
    assert sorted(r["k"] for r in got.collect()) == [2, 4]
    assert all(
        "__HIVE_DEFAULT_PARTITION__" in f for f in got.inputFiles()
    )
    got2 = read_version_where(spark, tdir, "ts IS NOT NULL")
    assert sorted(r["k"] for r in got2.collect()) == [1, 3]
    assert not any(
        "__HIVE_DEFAULT_PARTITION__" in f for f in got2.inputFiles()
    )


def test_where_or_disjunction_pruning(spark, tmp_path):
    """Sound OR skipping: a file is pruned only when EVERY disjunct
    proves it empty — the time/key complement shape prunes the
    middle, and a disjunct the parser can't see disables pruning
    entirely (rows always exact)."""
    from tms_etl_spark.operators.versioned import (
        _where_pruning_groups,
        read_version,
        read_version_where,
    )

    assert _where_pruning_groups(spark, "k < 50 OR k >= 250") == [
        [("k", "<", 50)], [("k", ">=", 250)],
    ]
    assert _where_pruning_groups(spark, "a = 1 AND b = 2 OR c = 3") == [
        [("a", "=", 1), ("b", "=", 2)], [("c", "=", 3)],
    ]
    # unparseable disjunct -> its empty group disables pruning
    assert _where_pruning_groups(spark, "k < 50 OR abs(k - 299) = 0") == [
        [("k", "<", 50)], [],
    ]

    tdir = str(tmp_path / "ordnf")
    for lo in (0, 100, 200):
        write_version(
            spark.range(lo, lo + 100)
            .select(F.col("id").alias("k"))
            .coalesce(1),
            tdir,
            "append",
        )
    full = read_version(spark, tdir)
    for w, nfiles in (
        ("k < 50 OR k >= 250", 2),         # middle file skipped
        ("k < 50 AND k > 10 OR k = 150", 2),  # ADVICE misprune shape
        ("k < 50 OR abs(k - 299) = 0", 3),  # opaque disjunct: no prune
    ):
        got = read_version_where(spark, tdir, w)
        assert sorted(r["k"] for r in got.collect()) == sorted(
            r["k"] for r in full.where(w).collect()
        ), w
        assert len(got.inputFiles()) == nfiles, w


def test_where_or_prunes_middle_days(spark, tmp_path):
    """The lakehouse_scan_where_or shape: per-disjunct derived
    partition bounds skip every middle day dir of a generated
    layout."""
    from tms_etl_spark.operators.versioned import read_version_where

    tdir = str(tmp_path / "ordays")
    rows = []
    for d in range(1, 10):
        for j in range(3):
            rows.append((d * 10 + j, f"2024-03-0{d} 0{j}:00:00", float(j)))
    write_version(
        _ts_df(spark, rows),
        tdir,
        partition_by=["p_day"],
        partition_exprs={"p_day": "date_format(ts, 'yyyy-MM-dd')"},
    )
    got = read_version_where(
        spark,
        tdir,
        "(ts < TIMESTAMP '2024-03-02 00:00:00' AND val > 0) "
        "OR ts >= TIMESTAMP '2024-03-08 00:00:00'",
    )
    assert sorted(r["k"] for r in got.collect()) == [
        11, 12, 80, 81, 82, 90, 91, 92,
    ]
    days = {f.rsplit("/", 2)[1] for f in got.inputFiles()}
    # boundary-inclusive: day 02 scanned (derived < relaxes to <=),
    # days 03..07 never reach the plan
    assert days == {
        "p_day=2024-03-01", "p_day=2024-03-02",
        "p_day=2024-03-08", "p_day=2024-03-09",
    }


def test_where_or_bloom_admission_unions(spark, tmp_path):
    """Bloom admission under disjunctions: per-group admissions union
    across OR branches (uid = a OR uid = b touches ≤2 files on an
    interleaved layout), and a branch without a probeable equality
    disables the file constraint — rows exact in every case."""
    from tms_etl_spark.operators.bloomindex import build_bloom_index
    from tms_etl_spark.operators.versioned import (
        read_version,
        read_version_where,
    )

    tdir = str(tmp_path / "bloomor")
    for i in range(4):
        df = spark.range(0, 500).select(
            (F.col("id") * 4 + i).alias("uid")
        ).coalesce(1)
        write_version(df, tdir, "append")
    build_bloom_index(spark, tdir, "uid")
    full = read_version(spark, tdir)

    got = read_version_where(spark, tdir, "uid = 402 OR uid = 403")
    assert sorted(r["uid"] for r in got.collect()) == [402, 403]
    assert len(got.inputFiles()) <= 2  # two member files (+FP slack)

    # one branch not probeable (range) -> no file constraint, exact
    w = "uid = 402 OR uid > 1995"
    got2 = read_version_where(spark, tdir, w)
    assert sorted(r["uid"] for r in got2.collect()) == sorted(
        r["uid"] for r in full.where(w).collect()
    )


def test_optimize_where_scoped_compaction(spark, tmp_path):
    """OPTIMIZE ... WHERE: only the files proven wholly inside the
    predicate rewrite — the other partitions' files keep their exact
    paths; tombstoned rows purge physically inside the scope and keep
    reading through their vectors outside it; time travel to the
    pre-optimize version is intact."""
    from tms_etl_spark.operators.versioned import (
        delete_rows,
        describe_detail,
        optimize_where,
        read_version,
        read_version_pruned,
        write_version,
    )

    tdir = str(tmp_path / "optw")
    rows = [(i, ["A", "B"][i % 2], float(i)) for i in range(40)]
    for lo in (0, 20):  # two appends -> small files per partition
        write_version(
            _mkdf(spark, rows[lo : lo + 20]),
            tdir,
            "append",
            partition_by=["seg"],
        )
    # tombstone some rows in BOTH partitions
    doomed = spark.createDataFrame([(0,), (1,), (2,), (3,)], "k int")
    delete_rows(spark, tdir, doomed)
    before = sorted(tuple(r) for r in read_version(spark, tdir).collect())
    b_files_before = {
        f
        for f in read_version_pruned(
            spark, tdir, "seg", "=", "B"
        ).inputFiles()
    }

    v = optimize_where(spark, tdir, "seg", "=", "A")
    assert v == 4
    after = read_version(spark, tdir)
    assert sorted(tuple(r) for r in after.collect()) == before
    # A's rows consolidated into the new dir; B's files byte-identical
    a_files = set(
        read_version_pruned(spark, tdir, "seg", "=", "A").inputFiles()
    )
    b_files = set(
        read_version_pruned(spark, tdir, "seg", "=", "B").inputFiles()
    )
    assert all("-optw-" in f for f in a_files)
    assert b_files == b_files_before
    # scoped purge: the A-side tombstone subtraction became physical
    # (new dir uncovered), B still reads through its vector
    d = describe_detail(spark, tdir)
    assert d["n_delete_vectors"] == 1
    # time travel intact
    assert read_version(spark, tdir, version=2).count() == 40
    # idempotent-ish: nothing left to do in scope -> no empty commit
    assert optimize_where(spark, tdir, "seg", "=", "A") == 4


def test_partitioned_model_based_random_ops(spark, tmp_path):
    """Model-based randomized check of the PARTITIONED mutation
    surface: random append / merge / delete / scoped-OPTIMIZE steps
    against a hive table and a plain dict in lockstep — plus TAGS
    dropped at random steps, each verified at the END against the
    model as it was when tagged (time-travel exactness must survive
    every later mutation and scoped rewrite)."""
    import random

    from tms_etl_spark.operators.versioned import (
        current_version,
        delete_rows,
        merge_version,
        optimize_where,
        read_tag,
        read_version,
        tag_version,
        write_version,
    )

    rng = random.Random(808)
    tdir = str(tmp_path / "pmodel")
    model: dict[int, tuple[str, float]] = {}
    segs = ["A", "B", "C"]

    def df_of(rows):
        return spark.createDataFrame(rows, "k int, seg string, val double")

    def check():
        got = {
            r["k"]: (r["seg"], r["val"])
            for r in read_version(spark, tdir).collect()
        }
        assert got == model

    rows = [(i, segs[i % 3], float(i)) for i in range(15)]
    model.update({k: (s, v) for k, s, v in rows})
    write_version(df_of(rows), tdir, "append", partition_by=["seg"])
    check()

    tagged: dict[str, dict] = {}
    nextk = 100
    for step in range(10):
        op = rng.choice(["append", "merge", "delete", "optw", "tag"])
        if op == "append":
            rows = [
                (nextk + j, rng.choice(segs), float(rng.randrange(100)))
                for j in range(3)
            ]
            nextk += 10
            model.update({k: (s, v) for k, s, v in rows})
            write_version(df_of(rows), tdir, "append")
        elif op == "merge" and model:
            keys = rng.sample(sorted(model), min(3, len(model)))
            rows = [
                (k, rng.choice(segs), float(rng.randrange(100)))
                for k in keys
            ]
            model.update({k: (s, v) for k, s, v in rows})
            merge_version(spark, tdir, df_of(rows), "k", "update")
        elif op == "delete" and model:
            keys = rng.sample(sorted(model), min(2, len(model)))
            for k in keys:
                model.pop(k, None)
            delete_rows(
                spark,
                tdir,
                spark.createDataFrame([(k,) for k in keys], "k int"),
            )
        elif op == "optw":
            optimize_where(spark, tdir, "seg", "=", rng.choice(segs))
        elif op == "tag":
            name = f"step-{step}"
            tag_version(spark, tdir, name, current_version(spark, tdir))
            tagged[name] = dict(model)
        check()

    for name, snap in tagged.items():
        got = {
            r["k"]: (r["seg"], r["val"])
            for r in read_tag(spark, tdir, name).collect()
        }
        assert got == snap, name


def test_optimize_where_cluster_by(spark, tmp_path):
    """Scoped OPTIMIZE with clustering: the hot partition's rewrite
    comes out range-clustered — a point read on the cluster key
    inside the scope touches one file, and results stay exact."""
    from tms_etl_spark.operators.versioned import (
        optimize_where,
        read_version,
        read_version_pruned_multi,
        write_version,
    )

    tdir = str(tmp_path / "optwcl")
    for lo in (0, 30, 60):
        rows = [(i, "A" if i % 2 else "B", float(i)) for i in range(lo, lo + 30)]
        write_version(
            _mkdf(spark, rows), tdir, "append", partition_by=["seg"]
        )
    before = sorted(tuple(r) for r in read_version(spark, tdir).collect())
    optimize_where(
        spark, tdir, "seg", "=", "A",
        target_file_bytes=4096, cluster_by="k",
    )
    after = read_version(spark, tdir)
    assert sorted(tuple(r) for r in after.collect()) == before
    point = read_version_pruned_multi(
        spark, tdir, [("seg", "=", "A"), ("k", "=", 41)]
    )
    assert [r["k"] for r in point.collect()] == [41]
    assert len(point.inputFiles()) == 1  # tight zonemap after cluster


def test_where_bloom_dnf_never_misprunes_randomized(spark, tmp_path):
    """Seeded randomized net for the Bloom × disjunction composition:
    random =/IN/range/OR predicates over a Bloom-indexed multi-file
    table must return exactly the full snapshot filtered by the same
    expression — admission unions/intersections can only skip files,
    never rows."""
    import random

    from tms_etl_spark.operators.bloomindex import build_bloom_index
    from tms_etl_spark.operators.versioned import (
        read_version,
        read_version_where,
    )

    rng = random.Random(2026)
    tdir = str(tmp_path / "fuzzbloom")
    for i in range(4):
        df = spark.range(0, 200).select(
            (F.col("id") * 4 + i).alias("uid"),
            ((F.col("id") * 4 + i) % 7).alias("m"),
        ).coalesce(1)
        write_version(df, tdir, "append")
    build_bloom_index(spark, tdir, "uid")
    full = read_version(spark, tdir)

    atoms = []
    for _ in range(10):
        u = rng.randrange(0, 800)
        choice = rng.randint(0, 3)
        if choice == 0:
            atoms.append(f"uid = {u}")
        elif choice == 1:
            vals = ", ".join(
                str(rng.randrange(0, 800)) for _ in range(rng.randint(1, 4))
            )
            atoms.append(f"uid IN ({vals})")
        elif choice == 2:
            atoms.append(f"uid {rng.choice(['<', '>=', '<='])} {u}")
        else:
            atoms.append(f"m = {rng.randrange(0, 7)}")
    cases = atoms[:]
    for _ in range(8):
        k = rng.randint(2, 3)
        glue = rng.choice([" AND ", " OR "])
        cases.append(glue.join(rng.sample(atoms, k)))
    for _ in range(4):  # mixed AND/OR precedence shapes
        a, b, c = rng.sample(atoms, 3)
        cases.append(f"{a} AND {b} OR {c}")
    for w in cases:
        want = sorted(
            (r["uid"],) for r in full.where(w).select("uid").collect()
        )
        got = sorted(
            (r["uid"],)
            for r in read_version_where(spark, tdir, w)
            .select("uid")
            .collect()
        )
        assert got == want, w


def test_emptied_hive_table_stays_readable(spark, part_table):
    """Rewrites that leave a hive-partitioned table with zero rows
    commit a version referencing no dir (a partitioned write of zero
    rows lands no part file). That snapshot reads as an empty frame
    with the recorded columns — at the head and by time travel — and
    the table keeps taking writes: a delete-merge of every key, a
    compaction of the empty table, a deletion vector on it, a later
    append, then a delete of every row compacted away
    incrementally."""
    from tms_etl_spark.operators.versioned import (
        _snapshot,
        delete_where,
        optimize_incremental,
    )

    tdir, rows = part_table
    cols = ["k", "seg", "val"]
    keys = spark.createDataFrame([(r[0],) for r in rows], "k int")
    v2 = merge_version(spark, tdir, keys, "k", when_matched="delete")
    assert _snapshot(spark, tdir, v2)[1]["dirs"] == []
    head = read_version(spark, tdir)
    assert head.count() == 0 and head.columns == cols
    assert read_version(spark, tdir, v2).count() == 0
    assert read_version(spark, tdir, v2 - 1).count() == len(rows)
    v3 = optimize_version(spark, tdir)
    assert _snapshot(spark, tdir, v3)[1]["dirs"] == []
    assert read_version(spark, tdir).columns == cols
    delete_rows(spark, tdir, keys.limit(1))  # a vector covering no dir
    assert read_version(spark, tdir).count() == 0
    write_version(_mkdf(spark, rows[:4]), tdir, "append")
    got = sorted(tuple(r) for r in read_version(spark, tdir).collect())
    assert got == sorted(rows[:4])
    delete_where(spark, tdir, "k >= 0", "k")
    v7 = optimize_incremental(spark, tdir)
    assert _snapshot(spark, tdir, v7)[1]["dirs"] == []
    assert read_version(spark, tdir).count() == 0
