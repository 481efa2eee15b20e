"""Round-13 nets, part 2 — the predicate-UPDATE verb
(`update_where`, VERDICT r12 "What's missing" #2), the SQL-text DML
front door (`sql_dml`, item #4), and the CLI front doors
(`import-daily`, carried r11 #8, plus `table update` and
`sql --dml`). Delta's UPDATE/MERGE SQL surface is the public analog;
the reference's re-import overwrite branch
(/root/reference/src/main_01.py:255-269) is the semantic ancestor of
the UPDATE verb."""

from __future__ import annotations

import codecs
import json
import os

import pytest
from pyspark.sql import functions as F

from tms_etl_spark.__main__ import main
from tms_etl_spark.operators.sqldml import _parse_assignments, sql_dml
from tms_etl_spark.operators.versioned import (
    enable_change_feed,
    read_version,
    read_version_cdf,
    update_where,
    write_version,
)


def _mk(spark, rows, ddl):
    return spark.createDataFrame(rows, ddl)


# ------------------------------------------------------------ update_where


def _two_file_table(spark, tmp_path, name="t"):
    """v1: k 0..9 (one file), v2: k 100..109 (another) — disjoint
    zonemap ranges so pruning is observable."""
    tdir = str(tmp_path / name)
    write_version(
        _mk(
            spark, [(i, i * 10, "a") for i in range(10)],
            "k int, v int, s string",
        ).coalesce(1),
        tdir,
        "append",
    )
    write_version(
        _mk(
            spark, [(i, i * 10, "b") for i in range(100, 110)],
            "k int, v int, s string",
        ).coalesce(1),
        tdir,
        "append",
    )
    return tdir


def test_update_where_rewrites_touched_files_only(spark, tmp_path):
    """UPDATE with a predicate whose zonemap range hits ONE file:
    the other file survives untouched (same rel path in the new
    manifest, no dead entry for it) — O(matching files), not
    O(table)."""
    tdir = _two_file_table(spark, tmp_path)
    before = json.load(
        open(os.path.join(tdir, "_manifests", "v000002.json"))
    )
    v = update_where(spark, tdir, "k <= 3", {"v": "v + 1"})
    man = json.load(
        open(os.path.join(tdir, "_manifests", f"v{v:06d}.json"))
    )
    # the k>=100 dir is carried verbatim; the k<=9 dir is gone or dead
    assert before["dirs"][1] in man["dirs"]
    assert before["dirs"][0] not in man["dirs"]
    got = {r["k"]: r["v"] for r in read_version(spark, tdir).collect()}
    assert got[0] == 1 and got[3] == 31 and got[4] == 40
    assert got[100] == 1000  # untouched file byte-identical


def test_update_where_set_sees_pre_image(spark, tmp_path):
    """SET expressions evaluate against the PRE-image (SQL UPDATE
    semantics): swapping two columns through each other works."""
    tdir = str(tmp_path / "t")
    write_version(
        _mk(spark, [(1, 10, 20)], "k int, a int, b int"), tdir, "append"
    )
    update_where(spark, tdir, "k = 1", {"a": "b", "b": "a"})
    r = read_version(spark, tdir).head()
    assert (r["a"], r["b"]) == (20, 10)


def test_update_where_cdf_pairs_and_noop_suppression(spark, tmp_path):
    """With the change feed on, the UPDATE records
    update_pre/update_post pairs for VALUE-CHANGED rows; a SET that
    lands identical values classifies out (the MERGE feed's rule)."""
    tdir = str(tmp_path / "t")
    write_version(
        _mk(
            spark, [(1, 10), (2, 0), (3, 30)], "k int, v int"
        ).coalesce(1),
        tdir,
        "append",
    )
    enable_change_feed(spark, tdir)
    v = update_where(spark, tdir, "k <= 2", {"v": "v * 2"})
    # k=2: v=0 -> 0, a no-op SET — suppressed from the feed
    rows = sorted(
        (r["k"], r["v"], r["_change_type"])
        for r in read_version_cdf(spark, tdir, v - 1, v).collect()
    )
    assert rows == [(1, 10, "update_pre"), (1, 20, "update_post")]
    got = {r["k"]: r["v"] for r in read_version(spark, tdir).collect()}
    assert got == {1: 20, 2: 0, 3: 30}


def test_update_where_generated_partition_rederives(spark, tmp_path):
    """Updating the SOURCE column of a generated partition column
    re-derives it (rows move partitions); assigning the generated
    column directly refuses."""
    tdir = str(tmp_path / "t")
    write_version(
        _mk(spark, [(1, "2024-01-15"), (2, "2024-02-03")], "k int, d string")
        .withColumn("d", F.to_date("d")),
        tdir,
        "append",
        partition_by=["p_month"],
        partition_exprs={"p_month": "date_format(d, 'yyyy-MM')"},
    )
    with pytest.raises(ValueError, match="GENERATED"):
        update_where(spark, tdir, "k = 1", {"p_month": "'2030-01'"})
    update_where(spark, tdir, "k = 1", {"d": "date_add(d, 40)"})
    r = {r["k"]: (str(r["d"]), r["p_month"]) for r in read_version(spark, tdir).collect()}
    assert r[1] == ("2024-02-24", "2024-02")  # re-derived, re-placed
    assert r[2] == ("2024-02-03", "2024-02")


def test_update_where_commit_retry_disjoint_append(spark, tmp_path):
    """Optimistic concurrency: losing the race to a key-DISJOINT
    append retries and lands; losing to a predicate-MATCHING append
    raises ConcurrentAppendError (a re-run would update rows the
    snapshot run would not)."""
    import tms_etl_spark.operators.versioned as vt

    tdir = _two_file_table(spark, tmp_path)
    orig = vt._write_json_atomic
    state = {"n": 0}

    def racing_disjoint(spark_, path, payload):
        if path.endswith("v000003.json") and state["n"] == 0:
            state["n"] = 1
            write_version(
                _mk(spark, [(500, 1, "z")], "k int, v int, s string"),
                tdir,
                "append",
            )
        return orig(spark_, path, payload)

    vt._write_json_atomic = racing_disjoint
    try:
        v = vt.update_where(
            spark, tdir, "k <= 3", {"v": "v + 1"}, commit_retries=3
        )
    finally:
        vt._write_json_atomic = orig
    assert v == 4  # append won v3; the retry committed on top
    got = {r["k"]: r["v"] for r in read_version(spark, tdir).collect()}
    assert got[3] == 31 and got[500] == 1

    state2 = {"n": 0}

    def racing_matching(spark_, path, payload):
        if path.endswith("v000005.json") and state2["n"] == 0:
            state2["n"] = 1
            write_version(
                _mk(spark, [(2, 999, "z")], "k int, v int, s string"),
                tdir,
                "append",
            )
        return orig(spark_, path, payload)

    vt._write_json_atomic = racing_matching
    try:
        with pytest.raises(vt.ConcurrentAppendError):
            vt.update_where(
                spark, tdir, "k <= 3", {"v": "v + 1"}, commit_retries=3
            )
    finally:
        vt._write_json_atomic = orig


# ---------------------------------------------------------------- sql_dml


def test_rewrite_aliases_skips_quoted_literals(spark, tmp_path):
    """Alias resplicing (``t.`` → ``target.``, ``s.`` → ``source.``)
    touches only the columns the parser found qualified: literals
    holding ``t.`` — with a ``''`` escape too — reach the MERGE
    conditions verbatim, so the clauses select the right rows."""
    tdir = str(tmp_path / "t")
    srcp = str(tmp_path / "src")
    write_version(
        _mk(
            spark, [(1, 10, "keep t. here"), (2, 10, "b")],
            "k int, v int, s string",
        ).coalesce(1),
        tdir,
        "append",
    )
    _mk(
        spark,
        [(1, 99, "u"), (2, 99, "u"), (3, 5, "x"), (4, 5, "y")],
        "k int, v int, s string",
    ).write.parquet(srcp)
    sql_dml(
        spark,
        f"MERGE INTO '{tdir}' AS t USING '{srcp}' AS s ON t.k = s.k "
        "WHEN MATCHED AND t.s <> 'keep t. here' AND s.v > t.v "
        "THEN UPDATE SET * "
        "WHEN NOT MATCHED AND concat(s.s, 'it''s t.x') = 'xit''s t.x' "
        "THEN INSERT *",
    )
    got = {r["k"]: (r["v"], r["s"]) for r in read_version(spark, tdir).collect()}
    assert got == {1: (10, "keep t. here"), 2: (99, "u"), 3: (5, "x")}


def test_parse_assignments_depth_and_quotes(spark):
    got = _parse_assignments(
        spark, "a = coalesce(b, 'x=y'), c = if(d <= 2, 1, 0)"
    )
    assert got == {"a": "coalesce(b, 'x=y')", "c": "if(d <= 2, 1, 0)"}
    with pytest.raises(ValueError, match="bad SET"):
        _parse_assignments(spark, "a >= 2")


def test_sql_dml_merge_update_delete_roundtrip(spark, tmp_path):
    """The three statements drive the verbs end-to-end: MERGE upserts
    (conditional), UPDATE rewrites, DELETE tombstones — all against a
    real versioned table, with Delta semantics for a missing WHEN NOT
    MATCHED clause (no insert)."""
    tdir = str(tmp_path / "t")
    srcp = str(tmp_path / "src")
    write_version(
        _mk(
            spark, [(i, i * 10, "a") for i in range(5)],
            "k int, v int, s string",
        ).coalesce(1),
        tdir,
        "append",
    )
    _mk(
        spark,
        [(1, 5, "low"), (2, 999, "hi"), (30, 300, "new")],
        "k int, v int, s string",
    ).write.parquet(srcp)
    sql_dml(
        spark,
        f"MERGE INTO '{tdir}' AS t USING '{srcp}' AS s ON t.k = s.k "
        "WHEN MATCHED AND s.v > t.v THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    got = {r["k"]: r["v"] for r in read_version(spark, tdir).collect()}
    assert got == {0: 0, 1: 10, 2: 999, 3: 30, 4: 40, 30: 300}
    # no WHEN NOT MATCHED clause -> unmatched source rows do NOT insert
    srcp2 = str(tmp_path / "src2")
    _mk(spark, [(77, 7, "x")], "k int, v int, s string").write.parquet(srcp2)
    sql_dml(
        spark,
        f"MERGE INTO '{tdir}' AS t USING '{srcp2}' AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET *",
    )
    assert read_version(spark, tdir).where("k = 77").count() == 0
    sql_dml(spark, f"UPDATE '{tdir}' SET s = upper(s) WHERE k = 30")
    assert (
        read_version(spark, tdir).where("k = 30").head()["s"] == "NEW"
    )
    sql_dml(spark, f"DELETE FROM '{tdir}' WHERE k = 2 KEY (k)")
    assert read_version(spark, tdir).where("k = 2").count() == 0


def test_sql_dml_refusals(spark, tmp_path):
    tdir = str(tmp_path / "t")
    write_version(_mk(spark, [(1, 1)], "k int, v int"), tdir, "append")
    for bad, msg in [
        (f"DELETE FROM '{tdir}' WHERE k = 1", "KEY"),
        (f"MERGE INTO '{tdir}' AS t USING '{tdir}' AS s ON t.k = s.v "
         "WHEN MATCHED THEN DELETE", "same-named"),
        (f"MERGE INTO '{tdir}' AS t USING '{tdir}' AS s ON t.k = s.k "
         "WHEN MATCHED THEN UPDATE SET v = 1", "UPDATE SET \\*"),
        (f"UPDATE '{tdir}' SET v = 1", "WHERE"),
        (f"DROP TABLE '{tdir}'", "unsupported DML"),
        (f"UPDATE '{str(tmp_path)}' SET v = 1 WHERE k = 1", "versioned"),
        (f"UPDATE '{tdir}' SET v = = 1 WHERE k = 1", "unparseable"),
    ]:
        with pytest.raises(ValueError, match=msg):
            sql_dml(spark, bad)


def test_cli_sql_dml_and_table_update(spark, tmp_path, capsys):
    tdir = str(tmp_path / "t")
    write_version(
        _mk(spark, [(1, 10), (2, 20)], "k int, v int").coalesce(1),
        tdir,
        "append",
    )
    rc = main(
        [
            "table", "update", tdir,
            "--where", "k = 1",
            "--set", "v=v*10",
        ]
    )
    assert rc == 0 and "committed v2" in capsys.readouterr().out
    rc = main(
        ["sql", "--dml", f"DELETE FROM '{tdir}' WHERE k = 2 KEY (k)"]
    )
    assert rc == 0 and "committed v3" in capsys.readouterr().out
    got = {r["k"]: r["v"] for r in read_version(spark, tdir).collect()}
    assert got == {1: 100}
    rc = main(["sql", "--dml", f"UPDATE '{tdir}' SET v = 1"])
    assert rc == 2
    assert "refused:" in capsys.readouterr().err


# ------------------------------------------------------------ import-daily


def _row(data_turno, tear, ef="85.5", func="400", par="40"):
    head = [data_turno, tear, "ART-1", "", "GEN-1", "550", ef, func, par]
    return ",".join(head + ["0"] * 56)


def _mk_lake(tmp_path, name, rows):
    d = tmp_path / name / "2024-01" / "daily"
    d.mkdir(parents=True)
    (d / "2024-01-05.csv").write_text("\n".join(rows), encoding="utf-8")
    return str(tmp_path / name)


def test_cli_import_daily_versioned_replay(spark, tmp_path, capsys):
    """The carried r11 #8 front door: a two-batch versioned import
    through the CLI — batch 2 updates one shift and adds one; a
    txn-id replay of batch 2 is a commit-level no-op (same version,
    same rows)."""
    from tms_etl_spark.operators.versioned import current_version

    lake1 = _mk_lake(
        tmp_path, "lake1",
        [_row("2024-01-05.A", "00001"), _row("2024-01-05.B", "00002")],
    )
    lake2 = _mk_lake(
        tmp_path, "lake2",
        [_row("2024-01-05.A", "00001", ef="42.0"),
         _row("2024-01-05.C", "00003")],
    )
    tdir = str(tmp_path / "fact")
    rc = main(["import-daily", lake1, tdir, "--versioned"])
    assert rc == 0
    assert "imported 2 batch rows" in capsys.readouterr().out
    rc = main(
        ["import-daily", lake2, tdir, "--versioned", "--txn-id", "b2"]
    )
    assert rc == 0
    v2 = current_version(spark, tdir)
    rows = {
        (r["DataTurno"], r["Tear"]): r["Eficiencia"]
        for r in read_version(spark, tdir).collect()
    }
    assert rows[("2024-01-05.A", "00001")] == 42.0
    assert len(rows) == 3
    # replay: same txn-id short-circuits to the same version
    rc = main(
        ["import-daily", lake2, tdir, "--versioned", "--txn-id", "b2"]
    )
    assert rc == 0
    assert current_version(spark, tdir) == v2
    assert read_version(spark, tdir).count() == 3


def test_cli_import_daily_parquet_path(spark, tmp_path, capsys):
    """The plain-parquet front door: import, then replay — idempotent
    (T2), matching test_import_idempotent's semantics."""
    lake = _mk_lake(
        tmp_path, "lakep",
        [_row("2024-01-05.A", "00001"), _row("2024-01-05.B", "00002")],
    )
    target = str(tmp_path / "factp")
    assert main(["import-daily", lake, target]) == 0
    t1 = sorted(
        tuple(r) for r in spark.read.parquet(target).collect()
    )
    assert main(["import-daily", lake, target]) == 0
    t2 = sorted(
        tuple(r) for r in spark.read.parquet(target).collect()
    )
    assert t1 == t2 and len(t1) == 2


# ---------------------------------------------------------- monthly report


def test_tms_monthly_report_through_sinks(spark, sf_dir, tmp_path):
    """The report surface (VERDICT r12 next-round #8): the
    tms_monthly_report catalog entry drives the Excel sink
    (import-gated — returns False without openpyxl, round-trips when
    present) and an ungated CSV round-trip, so the S12 report path is
    exercised end-to-end with a driver-green query behind it."""
    from tms_etl_spark import catalog
    from tms_etl_spark.sources.sinks import export_excel

    catalog.load_all()
    rep = catalog.QUERIES["tms_monthly_report"](spark, sf_dir)
    rows = sorted(tuple(r) for r in rep.collect())
    assert rows  # top-2 per month: at least one month present
    assert all(r[2] in (1, 2) for r in rows)  # rk bounded

    ok = export_excel(rep, str(tmp_path / "report.xlsx"))
    if ok:  # container-dependent: openpyxl present
        import pandas as pd

        back = pd.read_excel(str(tmp_path / "report.xlsx"))
        assert len(back) == len(rows)
    csv_path = str(tmp_path / "report_csv")
    rep.coalesce(1).write.option("header", True).csv(csv_path)
    back = (
        spark.read.option("header", True)
        .schema(rep.schema)
        .csv(csv_path)
    )
    assert sorted(tuple(r) for r in back.collect()) == rows


# ------------------------------------------------- r13 review regressions


def test_sql_dml_delete_key_named_column(spark, tmp_path):
    """A predicate may reference a column literally named ``key`` —
    the KEY (…) suffix detection anchors at the END of the statement
    (r13 review: the first-occurrence scan refused these)."""
    tdir = str(tmp_path / "t")
    write_version(
        _mk(spark, [(1, 1), (3, 3)], "key int, v int").coalesce(1),
        tdir,
        "append",
    )
    sql_dml(spark, f"DELETE FROM '{tdir}' WHERE key = 3 KEY (key)")
    assert sorted(r["key"] for r in read_version(spark, tdir).collect()) == [1]
    # key= argument with the column in the predicate, no suffix
    sql_dml(spark, f"DELETE FROM '{tdir}' WHERE key = 1", key="key")
    assert read_version(spark, tdir).count() == 0


def test_sql_dml_takes_file_scheme_paths(spark, tmp_path):
    """A target or MERGE source spelled as a ``file:`` URI is found the
    way every verb finds it (`fs.path_exists`), not refused as "not a
    versioned table dir" by an OS-path probe."""
    tdir = str(tmp_path / "t")
    srcp = str(tmp_path / "src")
    write_version(
        _mk(spark, [(k, k) for k in range(10)], "k int, v int").coalesce(1),
        tdir,
        "append",
    )
    _mk(spark, [(3, 30)], "k int, v int").write.parquet(srcp)
    sql_dml(spark, f"DELETE FROM 'file:{tdir}' WHERE k = 7 KEY (k)")
    sql_dml(spark, f"UPDATE 'file://{tdir}' SET v = v + 1 WHERE k = 1")
    sql_dml(
        spark,
        f"MERGE INTO 'file:{tdir}' AS t USING 'file:{srcp}' AS s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET *",
    )
    got = {r["k"]: r["v"] for r in read_version(spark, tdir).collect()}
    assert got == {k: {1: 2, 3: 30}.get(k, k) for k in range(10) if k != 7}


def test_sql_dml_case_when_inside_conditions_and_set(spark, tmp_path):
    """CASE WHEN … THEN … END inside a MERGE condition or a
    NOT-MATCHED-BY-SOURCE SET expression must not split the WHEN
    clauses (r13 review: the keyword splitter broke on them)."""
    tdir = str(tmp_path / "t")
    srcp = str(tmp_path / "src")
    write_version(
        _mk(
            spark, [(1, 10, "a"), (2, 20, "a"), (3, 30, "a")],
            "k int, v int, s string",
        ).coalesce(1),
        tdir,
        "append",
    )
    _mk(spark, [(1, 100, "u")], "k int, v int, s string").write.parquet(srcp)
    sql_dml(
        spark,
        f"MERGE INTO '{tdir}' AS t USING '{srcp}' AS s ON t.k = s.k "
        "WHEN MATCHED AND (CASE WHEN s.v > t.v THEN true ELSE false END) "
        "THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET "
        "s = CASE WHEN t.v >= 30 THEN 'stale' ELSE t.s END",
    )
    got = {
        r["k"]: (r["v"], r["s"])
        for r in read_version(spark, tdir).collect()
    }
    assert got == {1: (100, "u"), 2: (20, "a"), 3: (30, "stale")}


def test_sql_dml_refuses_identical_aliases(spark, tmp_path):
    tdir = str(tmp_path / "t")
    write_version(_mk(spark, [(1, 1)], "k int, v int"), tdir, "append")
    with pytest.raises(ValueError, match="share the alias"):
        sql_dml(
            spark,
            f"MERGE INTO '{tdir}' AS t USING '{tdir}' AS t "
            "ON t.k = t.k WHEN MATCHED THEN DELETE",
        )


def test_cdf_stream_refuses_ambiguous_drop_readd(spark, tmp_path):
    """A same-name drop + re-add within retained history makes the
    declared-schema → physical resolution AMBIGUOUS (two matching
    manifests, different physical identities): the stream refuses
    loudly instead of adopting the newest mapping and null-filling
    pre-drop changes (r13 review)."""
    from tms_etl_spark.operators.versioned import (
        add_column,
        drop_column,
        merge_version,
        stream_read_version_changes,
    )

    tdir = str(tmp_path / "t")
    write_version(
        _mk(spark, [(1, 10, "a")], "k int, v int, s string").coalesce(1),
        tdir,
        "append",
    )
    enable_change_feed(spark, tdir)
    merge_version(
        spark, tdir,
        _mk(spark, [(2, 20, "b")], "k int, v int, s string"), "k",
    )  # v3 sidecar under the OLD physical s
    drop_column(spark, tdir, "s")  # v4
    add_column(spark, tdir, "s", "string")  # v5: same name, new physical
    q = (
        stream_read_version_changes(spark, tdir, starting_version=2)
        .writeStream.format("memory")
        .queryName("ambig_cdf")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="dropped and re-added"):
        q.awaitTermination(120)
        raise AssertionError("stream did not fail")


def test_cli_update_set_grammar_unified(spark, tmp_path, capsys):
    """`table update --set` parses through sqldml._parse_assignments:
    malformed assignments refuse with exit 2 BEFORE any Spark work,
    and quoted/nested expressions parse identically to sql_dml."""
    tdir = str(tmp_path / "t")
    write_version(
        _mk(spark, [(1, 10, "x")], "k int, v int, s string"),
        tdir,
        "append",
    )
    rc = main(["table", "update", tdir, "--where", "k = 1", "--set", "v >= 2"])
    assert rc == 2
    assert "bad --set" in capsys.readouterr().err
    rc = main(
        [
            "table", "update", tdir,
            "--where", "k = 1",
            "--set", "v=round(v + 0.6, 0), s=concat(s, ',y')",
        ]
    )
    assert rc == 0
    r = read_version(spark, tdir).head()
    assert (r["v"], r["s"]) == (11, "x,y")


def test_update_where_flows_through_cdc_apply(spark, tmp_path):
    """An UPDATE commit's change sidecar is legal stream content:
    bronze runs update_where, a silver replica built with
    stream_apply_changes converges to exact row parity (the
    update_post net-event upserts)."""
    from tms_etl_spark.operators.versioned import (
        stream_apply_changes,
        stream_read_version_changes,
    )

    bronze = str(tmp_path / "bronze")
    write_version(
        _mk(
            spark, [(i, i * 10, "a") for i in range(8)],
            "k int, v int, s string",
        ).coalesce(1),
        bronze,
        "append",
    )
    enable_change_feed(spark, bronze)
    update_where(spark, bronze, "k % 3 = 0", {"v": "v + 1", "s": "'u'"})
    silver = str(tmp_path / "silver")
    q = stream_apply_changes(
        stream_read_version_changes(spark, bronze),
        silver,
        str(tmp_path / "cp"),
        key="k",
    )
    q.awaitTermination(180)
    want = sorted(tuple(r) for r in read_version(spark, bronze).collect())
    got = sorted(tuple(r) for r in read_version(spark, silver).collect())
    assert got == want


def test_update_where_cluster_by_preserves_layout(spark, tmp_path):
    """cluster_by: the UPDATE's CoW output keeps DISJOINT cluster-key
    ranges (the merge_version recipe) — zonemap pruning stays tight
    under update churn instead of degrading until the next OPTIMIZE."""
    tdir = str(tmp_path / "t")
    write_version(
        _mk(
            spark, [(i, i, "a") for i in range(4000)],
            "k int, v int, s string",
        ).repartitionByRange(4, "k"),
        tdir,
        "append",
    )
    update_where(
        spark, tdir, "v >= 0", {"s": "'u'"},
        cluster_by="k", cluster_partitions=4,
    )
    man = json.load(
        open(sorted(
            (os.path.join(tdir, "_manifests", f) for f in
             os.listdir(os.path.join(tdir, "_manifests"))
             if f.endswith(".json"))
        )[-1])
    )
    ranges = sorted(
        tuple(ent["k"])
        for rel, ent in man["stats"].items()
        if "-update-" in rel and isinstance(ent, dict) and "k" in ent
    )
    assert len(ranges) >= 3  # cluster_partitions pinned the split
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint cluster-key ranges
    got = read_version(spark, tdir)
    assert got.count() == 4000
    assert got.where("s <> 'u'").count() == 0
    with pytest.raises(ValueError, match="unknown cluster_by"):
        update_where(
            spark, tdir, "v = 1", {"s": "'x'"}, cluster_by="nope"
        )
