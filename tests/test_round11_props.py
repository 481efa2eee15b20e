"""Round-11 nets, part 1 — the r10 ADVICE name-safety holes on the
versioned layer: MERGE/commit_existing_dir schema evolution now run
the same dropped-column resurrection + physical-name-clash guard as
the append path (`_guard_revived_names`), delete_where refuses
NULL-keyed matches (an invisible UNDER-delete otherwise), and
rename_column's sidecar move routes by generation suffix so renaming
a column literally named ``text_x`` cannot detach column x's token
family.

Reference parity anchors cited per test; everything here exercises
the Spark-native versioned layer (`operators/versioned.py`), not a
translation of the reference's per-row SQL loop
(/root/reference/src/main_01.py:255-305).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tms_etl_spark.operators.versioned import (
    add_column,
    drop_column,
    merge_version,
    read_version,
    rename_column,
    write_version,
)


def _mk(spark, rows, ddl):
    return spark.createDataFrame(rows, ddl)


def test_merge_evolution_refuses_resurrection(spark, tmp_path):
    """merge_version(merge_schema=True) with a source still carrying
    a previously DROPPED column refuses (r10 ADVICE high): without
    the guard the drifting source evolves the name back in and the
    untouched old files' orphaned physical bytes reappear on every
    read. add_column remains the sanctioned re-add (fresh physical
    name)."""
    tdir = str(tmp_path / "mergeres")
    write_version(
        _mk(spark, [(1, "a", 10), (2, "b", 20)], "k int, s string, v int"),
        tdir,
        "append",
    )
    drop_column(spark, tdir, "s")
    src = _mk(spark, [(1, "GHOST", 11)], "k int, s string, v int")
    with pytest.raises(ValueError, match="DROPPED.*resurrect"):
        merge_version(spark, tdir, src, key="k", merge_schema=True)
    # dropping the drifted column from the source merges fine
    merge_version(
        spark, tdir, src.drop("s"), key="k", merge_schema=True
    )
    got = read_version(spark, tdir).orderBy("k").collect()
    assert [tuple(r) for r in got] == [(1, 11), (2, 20)]
    # and add_column's fresh physical name keeps history NULL
    add_column(spark, tdir, "s", "string")
    got = read_version(spark, tdir).orderBy("k").collect()
    assert [tuple(r) for r in got] == [(1, 11, None), (2, 20, None)]


def test_merge_evolution_refuses_physical_name_clash(spark, tmp_path):
    """merge_schema=True may not evolve in a column whose name equals
    a RENAMED column's physical name (r10 ADVICE high): two logical
    columns cannot share one on-disk name, and the append path
    already refuses this loudly — MERGE now matches instead of dying
    inside the parquet writer."""
    tdir = str(tmp_path / "mergeclash")
    write_version(
        _mk(spark, [(1, 10), (2, 20)], "k int, a int"), tdir, "append"
    )
    rename_column(spark, tdir, "a", "b")  # physical name 'a' is taken
    src = _mk(spark, [(1, 11, 99)], "k int, b int, a int")
    with pytest.raises(ValueError, match="PHYSICAL"):
        merge_version(spark, tdir, src, key="k", merge_schema=True)


def test_commit_existing_dir_refuses_resurrection(spark, tmp_path):
    """commit_existing_dir's guard covers drop-ONLY tables (r10
    ADVICE medium): a table that only dropped a column has an EMPTY
    column_map but non-empty dropped_physicals, and an external dir
    re-introducing the dropped name under merge_schema=True used to
    evolve it back in."""
    from tms_etl_spark.operators.versioned import commit_existing_dir

    tdir = str(tmp_path / "cedres")
    write_version(
        _mk(spark, [(1, "x", 1.0)], "k int, s string, v double"),
        tdir,
        "append",
    )
    drop_column(spark, tdir, "s")
    ext = _mk(spark, [(2, "GHOST", 2.0)], "k int, s string, v double")
    ext.write.parquet(f"{tdir}/ext-0001")
    with pytest.raises(ValueError, match="DROPPED.*resurrect"):
        commit_existing_dir(
            spark, tdir, "ext-0001", "append", merge_schema=True
        )
    # a clean dir (no drifted column) still commits
    _mk(spark, [(3, 3.0)], "k int, v double").write.parquet(
        f"{tdir}/ext-0002"
    )
    commit_existing_dir(spark, tdir, "ext-0002", "append")
    got = read_version(spark, tdir).orderBy("k").collect()
    assert [tuple(r) for r in got] == [(1, 1.0), (3, 3.0)]


def test_delete_where_refuses_null_keys(spark, tmp_path):
    """delete_where with NULL-keyed matched rows refuses — with and
    without allow_key_scope (r10 ADVICE medium): a NULL key never
    equals, so the tombstone anti-join silently KEEPS those rows — an
    under-delete in the GDPR verb that previously surfaced only as a
    negative 'over-delete' count. Non-matching NULL rows stay
    deletable by other keys."""
    from tms_etl_spark.operators.versioned import delete_where

    tdir = str(tmp_path / "delnull")
    write_version(
        _mk(
            spark,
            [(1, "err", 1.0), (None, "err", 2.0), (3, "ok", 3.0)],
            "k int, status string, v double",
        ),
        tdir,
        "append",
    )
    with pytest.raises(ValueError, match="NULL"):
        delete_where(spark, tdir, "status = 'err'", "k")
    with pytest.raises(ValueError, match="NULL"):
        delete_where(
            spark, tdir, "status = 'err'", "k", allow_key_scope=True
        )
    # a predicate whose matches are all non-NULL-keyed still works
    delete_where(spark, tdir, "status = 'err' AND k IS NOT NULL", "k")
    got = read_version(spark, tdir).orderBy(F.col("v")).collect()
    assert [r["v"] for r in got] == [2.0, 3.0]


def test_rename_moves_only_matching_index_generations(spark, tmp_path):
    """rename_column routes the sidecar move by generation suffix
    (r10 ADVICE low): with a Bloom family on a column literally named
    ``text_x`` AND a token family on column ``x`` — both living in
    ``_indexes/text_x`` — renaming ``text_x`` moves only the
    ``-bloom`` generations; x's ``-tokens`` stay attached and
    search_token keeps pruning."""
    import os

    from tms_etl_spark.operators.bloomindex import (
        build_bloom_index,
        read_version_point,
    )
    from tms_etl_spark.operators.textindex import (
        build_text_index,
        search_token,
    )

    tdir = str(tmp_path / "rensidecar")
    write_version(
        _mk(
            spark,
            [(i, f"alpha{i} beta{i % 3}") for i in range(20)],
            "text_x int, x string",
        ).coalesce(2),
        tdir,
        "append",
    )
    build_bloom_index(spark, tdir, "text_x")  # _indexes/text_x/v*-bloom
    build_text_index(spark, tdir, "x")  # _indexes/text_x/v*-tokens
    fam = os.path.join(tdir, "_indexes", "text_x")
    kinds = {g.split("-")[-1] for g in os.listdir(fam)}
    assert kinds == {"bloom", "tokens"}  # the mixed-family premise

    rename_column(spark, tdir, "text_x", "y")
    # token gens stayed; bloom gens moved to the new family dir
    assert {g.split("-")[-1] for g in os.listdir(fam)} == {"tokens"}
    newfam = os.path.join(tdir, "_indexes", "y")
    assert {g.split("-")[-1] for g in os.listdir(newfam)} == {"bloom"}
    got = search_token(spark, tdir, "x", "beta1")
    assert {r["y"] for r in got.collect()} == {1, 4, 7, 10, 13, 16, 19}
    got = read_version_point(spark, tdir, "y", 7)
    assert [r["x"] for r in got.collect()] == ["alpha7 beta1"]


def test_rename_token_family_moves_tokens_only(spark, tmp_path):
    """The inverse routing: renaming text column ``x`` (token family
    in ``_indexes/text_x``) moves the ``-tokens`` gens to
    ``_indexes/text_y`` and leaves a Bloom family on literal column
    ``text_x`` untouched."""
    import os

    from tms_etl_spark.operators.bloomindex import (
        build_bloom_index,
        read_version_point,
    )
    from tms_etl_spark.operators.textindex import (
        build_text_index,
        search_token,
    )

    tdir = str(tmp_path / "rentokens")
    write_version(
        _mk(
            spark,
            [(i, f"w{i} common") for i in range(10)],
            "text_x int, x string",
        ).coalesce(2),
        tdir,
        "append",
    )
    build_bloom_index(spark, tdir, "text_x")
    build_text_index(spark, tdir, "x")
    rename_column(spark, tdir, "x", "y")
    fam = os.path.join(tdir, "_indexes", "text_x")
    assert {g.split("-")[-1] for g in os.listdir(fam)} == {"bloom"}
    newfam = os.path.join(tdir, "_indexes", "text_y")
    assert {g.split("-")[-1] for g in os.listdir(newfam)} == {"tokens"}
    got = search_token(spark, tdir, "y", "w3")
    assert [r["text_x"] for r in got.collect()] == [3]
    got = read_version_point(spark, tdir, "text_x", 5)
    assert [r["y"] for r in got.collect()] == ["w5 common"]


# ---------------------------------------------------------------------------
# Round-11 part 2: composite MERGE keys, conditional MERGE clauses,
# full-sync replication (VERDICT r10 "Next round" #3 and #5).
# ---------------------------------------------------------------------------


def test_merge_composite_key_semantics(spark, tmp_path):
    """merge_version on a 2-column key: updates replace exactly the
    matching (k1, k2) tuples, inserts land, other rows survive — the
    reference's canonical upsert key is composite
    ((dataTurno, tear), /root/reference/src/main_01.py:243)."""
    tdir = str(tmp_path / "ck")
    t = _mk(
        spark,
        [("d1", 1, 10.0), ("d1", 2, 20.0), ("d2", 1, 30.0), ("d2", 2, 40.0)],
        "dt string, tear int, eff double",
    )
    # two files with disjoint dt ranges — the per-column zonemap cut
    # has something to skip
    write_version(t.repartitionByRange(2, "dt"), tdir, "append")
    src = _mk(
        spark,
        [("d1", 2, 99.0), ("d3", 7, 70.0)],
        "dt string, tear int, eff double",
    )
    merge_version(spark, tdir, src, key=["dt", "tear"])
    got = sorted(tuple(r) for r in read_version(spark, tdir).collect())
    assert got == [
        ("d1", 1, 10.0),
        ("d1", 2, 99.0),
        ("d2", 1, 30.0),
        ("d2", 2, 40.0),
        ("d3", 7, 70.0),
    ]
    # delete-merge on the tuple
    merge_version(
        spark,
        tdir,
        _mk(spark, [("d2", 2)], "dt string, tear int"),
        key=["dt", "tear"],
        when_matched="delete",
    )
    got = sorted(tuple(r) for r in read_version(spark, tdir).collect())
    assert ("d2", 2, 40.0) not in got and len(got) == 4


def test_merge_composite_refusals(spark, tmp_path):
    """Tuple-wise uniqueness and NULL checks: a source duplicated on
    the FULL tuple refuses; duplicated on only one component is fine;
    NULL in ANY component refuses; missing key columns refuse."""
    tdir = str(tmp_path / "ckref")
    write_version(
        _mk(spark, [("a", 1, 1.0)], "k1 string, k2 int, v double"),
        tdir,
        "append",
    )
    ok_src = _mk(
        spark,
        [("a", 1, 2.0), ("a", 2, 3.0)],  # same k1, different k2
        "k1 string, k2 int, v double",
    )
    merge_version(spark, tdir, ok_src, key=["k1", "k2"])
    dup_src = _mk(
        spark,
        [("a", 1, 2.0), ("a", 1, 3.0)],
        "k1 string, k2 int, v double",
    )
    with pytest.raises(ValueError, match="duplicate key"):
        merge_version(spark, tdir, dup_src, key=["k1", "k2"])
    null_src = _mk(
        spark,
        [("a", None, 2.0)],
        "k1 string, k2 int, v double",
    )
    with pytest.raises(ValueError, match="NULL-keyed"):
        merge_version(spark, tdir, null_src, key=["k1", "k2"])
    with pytest.raises(ValueError, match="no key column"):
        merge_version(spark, tdir, ok_src, key=["k1", "nope"])
    with pytest.raises(ValueError, match="duplicate key columns"):
        merge_version(spark, tdir, ok_src, key=["k1", "k1"])


def test_delete_where_composite_key(spark, tmp_path):
    """delete_where on a composite key: the deletion vector stores
    the tuple (manifest ``keys`` list), the uniqueness guard counts
    tuple-covered rows, reads anti-join on the tuple, and optimize
    physically purges — sharing one component value must NOT drag
    other rows (the whole point of not concat-keying)."""
    from tms_etl_spark.operators.versioned import (
        current_version,
        delete_where,
        optimize_version,
    )

    tdir = str(tmp_path / "delck")
    write_version(
        _mk(
            spark,
            [
                ("d1", 1, "err", 1.0),
                ("d1", 2, "ok", 2.0),
                ("d2", 1, "err", 3.0),
                ("d2", 2, "err", 4.0),
            ],
            "dt string, tear int, status string, v double",
        ),
        tdir,
        "append",
    )
    v = delete_where(
        spark, tdir, "status = 'err' AND v < 3.5", ["dt", "tear"]
    )
    assert v == 2
    man_deletes = None
    import json as _json
    import os as _os

    with open(_os.path.join(tdir, "_manifests", "v000002.json")) as fh:
        man_deletes = _json.load(fh)["deletes"]
    assert man_deletes[0]["keys"] == ["dt", "tear"]
    got = sorted(tuple(r) for r in read_version(spark, tdir).collect())
    assert got == [("d1", 2, "ok", 2.0), ("d2", 2, "err", 4.0)]
    # mixed keys (a single-key vector while a tuple vector is ACTIVE)
    # refuse; after physical purge the table is free to re-key
    from tms_etl_spark.operators.versioned import delete_rows

    with pytest.raises(ValueError, match="mixed delete keys"):
        delete_rows(spark, tdir, _mk(spark, [("d2",)], "dt string"))
    # physical purge keeps the same rows
    optimize_version(spark, tdir)
    got2 = sorted(tuple(r) for r in read_version(spark, tdir).collect())
    assert got2 == got


def test_merge_guarded_first_write_wins_versioned(spark, tmp_path):
    """The reference's first-write-wins desligado guard on the
    VERSIONED layer (SURVEY §4 custom item 2; P4 semantics,
    /root/reference/src/main_01.py:460-473): a desligado source row
    may only INSERT — an existing shift record survives — while
    non-desligado rows upsert normally. Composite (DataTurno, Tear)
    key, `when_matched_condition` grammar over source columns."""
    tdir = str(tmp_path / "fww")
    write_version(
        _mk(
            spark,
            [
                ("2024-01-05.C", "00002", 87.5, 400.0, 40.0),
                ("2024-01-05.A", "00001", 55.0, 410.0, 30.0),
            ],
            "DataTurno string, Tear string, Eficiencia double, "
            "Funcionando double, Parado double",
        ),
        tdir,
        "append",
    )
    batch = _mk(
        spark,
        [
            # desligado row for an EXISTING key: blocked (first write wins)
            ("2024-01-05.C", "00002", 0.0, 0.0, 440.0),
            # desligado row for a NEW key: inserts
            ("2024-01-05.C", "00009", 0.0, 0.0, 440.0),
            # real update for an existing key: lands
            ("2024-01-05.A", "00001", 42.0, 420.0, 20.0),
        ],
        "DataTurno string, Tear string, Eficiencia double, "
        "Funcionando double, Parado double",
    )
    guard = (
        "NOT (source.DataTurno LIKE '%.C' AND source.Funcionando = 0.0 "
        "AND source.Parado >= 400.0)"
    )
    merge_version(
        spark,
        tdir,
        batch,
        key=["DataTurno", "Tear"],
        when_matched_condition=guard,
    )
    rows = {
        (r["DataTurno"], r["Tear"]): r["Eficiencia"]
        for r in read_version(spark, tdir).collect()
    }
    assert rows == {
        ("2024-01-05.C", "00002"): 87.5,  # first write kept
        ("2024-01-05.C", "00009"): 0.0,  # desligado insert allowed
        ("2024-01-05.A", "00001"): 42.0,  # real update landed
    }
    # non-deterministic guards refuse
    with pytest.raises(ValueError, match="[Nn]on-deterministic"):
        merge_version(
            spark,
            tdir,
            batch,
            key=["DataTurno", "Tear"],
            when_matched_condition="rand() < 0.5",
        )


def test_merge_full_sync_replication(spark, tmp_path):
    """when_not_matched_by_source='delete' (Delta's WHEN NOT MATCHED
    BY SOURCE): after the merge the table mirrors the source — target
    rows with no source key are gone, matched rows updated, new rows
    inserted. Composable with the matched-condition guard."""
    tdir = str(tmp_path / "sync")
    write_version(
        _mk(
            spark,
            [(1, "a", False), (2, "b", False), (3, "c", True)],
            "k int, v string, protected boolean",
        ),
        tdir,
        "append",
    )
    src = _mk(
        spark,
        [(2, "B", False), (3, "C", False), (4, "d", False)],
        "k int, v string, protected boolean",
    )
    merge_version(
        spark,
        tdir,
        src,
        key="k",
        when_not_matched_by_source="delete",
        when_matched_condition="NOT target.protected",
    )
    got = sorted(tuple(r) for r in read_version(spark, tdir).collect())
    # k=1 unmatched-by-source: deleted; k=2 updated; k=3 matched but
    # protected: target kept; k=4 inserted
    assert got == [
        (2, "B", False),
        (3, "c", True),
        (4, "d", False),
    ]
    with pytest.raises(ValueError, match="when_not_matched_by_source"):
        merge_version(
            spark, tdir, src, key="k", when_not_matched_by_source="keep"
        )


def test_stream_merge_composite_guarded(spark, tmp_path):
    """stream_merge_versioned with a composite key and a pass-through
    matched-condition guard: per-batch MERGE keyed on the tuple,
    exactly-once under replay, guard blocks overwrites."""
    import os

    from tms_etl_spark.operators.versioned import (
        current_version,
        stream_merge_versioned,
    )

    src_dir = str(tmp_path / "in")
    tdir = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)
    _mk(
        spark,
        [("d1", 1, 10.0, False), ("d1", 2, 20.0, False)],
        "dt string, tear int, eff double, off boolean",
    ).write.json(f"{src_dir}/b0")
    sdf = (
        spark.readStream.schema(
            "dt string, tear int, eff double, off boolean"
        )
        .option("maxFilesPerTrigger", "1000")
        .json(f"{src_dir}/*")
    )
    q = stream_merge_versioned(
        sdf,
        tdir,
        ckpt,
        key=["dt", "tear"],
        when_matched_condition="NOT source.off",
    )
    q.awaitTermination(120)
    _mk(
        spark,
        [("d1", 1, 0.0, True), ("d2", 5, 50.0, False)],
        "dt string, tear int, eff double, off boolean",
    ).write.json(f"{src_dir}/b1")
    q2 = stream_merge_versioned(
        sdf,
        tdir,
        ckpt,
        key=["dt", "tear"],
        when_matched_condition="NOT source.off",
    )
    q2.awaitTermination(120)
    rows = {
        (r["dt"], r["tear"]): r["eff"]
        for r in read_version(spark, tdir).collect()
    }
    assert rows == {
        ("d1", 1): 10.0,  # off-row blocked by the guard
        ("d1", 2): 20.0,
        ("d2", 5): 50.0,  # new key inserted
    }


def test_bronze_silver_stream_chain(spark, tmp_path):
    """stream_write_versioned → stream_read_versioned →
    stream_write_versioned (VERDICT r10 #4): a file stream lands in
    bronze, a second streaming query tails bronze's COMMITS and
    writes a transformed silver table; after each drain, silver
    equals the batch-computed transform of bronze (batch
    equivalence), and a restart consumes only the new versions."""
    import os

    from tms_etl_spark.operators.versioned import (
        read_version,
        stream_read_versioned,
        stream_write_versioned,
    )

    src = str(tmp_path / "in")
    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    cp1, cp2 = str(tmp_path / "cp1"), str(tmp_path / "cp2")
    os.makedirs(src)

    def land(lo, hi, tag):
        _mk(
            spark,
            [(i, float(i) * 2) for i in range(lo, hi)],
            "id int, v double",
        ).write.json(f"{src}/{tag}")

    def drain():
        q1 = stream_write_versioned(
            spark.readStream.schema("id int, v double").json(f"{src}/*"),
            bronze,
            cp1,
        )
        q1.awaitTermination(120)
        q2 = stream_write_versioned(
            stream_read_versioned(spark, bronze)
            .where(F.col("id") % 2 == 0)
            .withColumn("v", F.col("v") + 1),
            silver,
            cp2,
        )
        q2.awaitTermination(120)

    land(0, 6, "b0")
    drain()
    expect = sorted(
        tuple(r)
        for r in read_version(spark, bronze)
        .where(F.col("id") % 2 == 0)
        .withColumn("v", F.col("v") + 1)
        .collect()
    )
    got = sorted(tuple(r) for r in read_version(spark, silver).collect())
    assert got == expect == [(0, 1.0), (2, 5.0), (4, 9.0)]
    # second wave: the silver stream consumes ONLY bronze's new
    # versions (no duplicates from re-reading old files)
    land(6, 10, "b1")
    drain()
    got = sorted(tuple(r) for r in read_version(spark, silver).collect())
    expect = sorted(
        tuple(r)
        for r in read_version(spark, bronze)
        .where(F.col("id") % 2 == 0)
        .withColumn("v", F.col("v") + 1)
        .collect()
    )
    assert got == expect and len(got) == 5
    # idempotent drain: nothing new, nothing duplicated
    drain()
    assert sorted(
        tuple(r) for r in read_version(spark, silver).collect()
    ) == got


def test_stream_read_versioned_refuses_merge_commit(spark, tmp_path):
    """The front door inherits the insert-only contract: a MERGE
    commit between offsets fails the stream loud (no file-level
    delta), like Delta without ignoreChanges."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from tms_etl_spark.operators.versioned import (
        stream_read_versioned,
        write_version,
    )

    tdir = str(tmp_path / "tbl")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    write_version(
        _mk(spark, [(1, 1.0), (2, 2.0)], "id int, v double"),
        tdir,
        "append",
    )

    def drain():
        q = (
            stream_read_versioned(spark, tdir)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    merge_version(
        spark,
        tdir,
        _mk(spark, [(2, 99.0)], "id int, v double"),
        key="id",
    )
    with pytest.raises(StreamingQueryException, match="MERGE|delta"):
        drain()


def test_cli_composite_and_guarded_merge(spark, tmp_path, capsys):
    """CLI: `table merge --key a,b` (composite),
    `--when-matched-condition` (guarded), `--sync-delete-unmatched`
    (full-sync), and `table delete --where --key a,b`; refusals exit
    2 with the operator's message."""
    from tms_etl_spark.__main__ import main

    tdir = str(tmp_path / "click")
    write_version(
        _mk(
            spark,
            [("d1", 1, 10.0), ("d1", 2, 20.0), ("d2", 1, 30.0)],
            "dt string, tear int, eff double",
        ),
        tdir,
        "append",
    )
    srcp = str(tmp_path / "src.parquet")
    _mk(
        spark,
        [("d1", 2, 0.0), ("d3", 9, 90.0)],
        "dt string, tear int, eff double",
    ).write.parquet(srcp)
    # guarded composite merge: eff=0 rows may only insert
    assert main(
        [
            "table", "merge", tdir, "--source", srcp,
            "--key", "dt,tear",
            "--when-matched-condition", "source.eff > 0",
        ]
    ) == 0
    assert "committed v2" in capsys.readouterr().out
    rows = {
        (r["dt"], r["tear"]): r["eff"]
        for r in read_version(spark, tdir).collect()
    }
    assert rows == {
        ("d1", 1): 10.0,
        ("d1", 2): 20.0,  # guard kept the first write
        ("d2", 1): 30.0,
        ("d3", 9): 90.0,  # insert landed
    }
    # composite delete --where
    assert main(
        [
            "table", "delete", tdir, "--key", "dt,tear",
            "--where", "eff >= 30",
        ]
    ) == 0
    assert {
        (r["dt"], r["tear"])
        for r in read_version(spark, tdir).collect()
    } == {("d1", 1), ("d1", 2)}
    # --values with a composite key refuses
    assert main(
        ["table", "delete", tdir, "--key", "dt,tear", "--values", "d1"]
    ) == 2
    # full-sync flag wires through
    _mk(spark, [("d1", 1, 11.0)], "dt string, tear int, eff double").write.parquet(
        str(tmp_path / "src2.parquet")
    )
    assert main(
        [
            "table", "merge", tdir, "--source",
            str(tmp_path / "src2.parquet"),
            "--key", "dt,tear", "--sync-delete-unmatched",
        ]
    ) == 0
    assert {
        tuple(r) for r in read_version(spark, tdir).collect()
    } == {("d1", 1, 11.0)}
    # operator refusal (duplicate source keys) surfaces as exit 2
    _mk(
        spark,
        [("x", 1, 1.0), ("x", 1, 2.0)],
        "dt string, tear int, eff double",
    ).write.parquet(str(tmp_path / "dup.parquet"))
    assert main(
        [
            "table", "merge", tdir, "--source",
            str(tmp_path / "dup.parquet"), "--key", "dt,tear",
        ]
    ) == 2
    assert "duplicate" in capsys.readouterr().err


# ---------------------------------------------------------------------------
# Round-11 part 3: Hypothesis model-based net for the composite-key /
# conditional MERGE surface — random DML programs against a dict
# model keyed by the (k1, k2) tuple.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_MERGE_OPS = st.lists(
    st.sampled_from(
        [
            "append",
            "merge",
            "guarded_merge",
            "delete_merge",
            "full_sync",
            "delete_rows",
            "compact",
        ]
    ),
    min_size=1,
    max_size=6,
)

_K1 = ["a", "b"]
_K2 = [1, 2, 3]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_MERGE_OPS, data=st.data())
def test_composite_merge_program_matches_model(
    spark, tmp_path_factory, ops, data
):
    """Property net (r11): ANY interleaving of appends, plain /
    guarded / delete / full-sync MERGEs, composite-tuple deletes and
    compactions on a (k1, k2)-keyed table reads back exactly what a
    driver-side dict model predicts. The guard (``source.v < 50``
    blocks the update — first-write-wins for big incumbent values)
    and the full-sync drop of unmatched keys are modeled
    independently of the engine, so any divergence in tuple matching,
    guard evaluation order, or sync semantics surfaces as a value
    diff."""
    from tms_etl_spark.operators.versioned import delete_rows

    tdir = str(tmp_path_factory.mktemp("mergeprog") / "t")
    model: dict[tuple, float] = {("a", 1): 10.0}
    write_version(
        _mk(spark, [("a", 1, 10.0)], "k1 string, k2 int, v double"),
        tdir,
        "append",
    )

    def draw_batch():
        tuples = data.draw(
            st.lists(
                st.tuples(st.sampled_from(_K1), st.sampled_from(_K2)),
                min_size=1,
                max_size=4,
                unique=True,
            )
        )
        return {
            t: float(data.draw(st.integers(0, 100))) for t in tuples
        }

    def to_df(batch):
        return _mk(
            spark,
            [(k1, k2, v) for (k1, k2), v in batch.items()],
            "k1 string, k2 int, v double",
        )

    for op in ops:
        if op == "append":
            # appends must not duplicate a live key (the model is a
            # dict) — only new tuples append
            batch = {
                t: v for t, v in draw_batch().items() if t not in model
            }
            if not batch:
                continue
            write_version(to_df(batch), tdir, "append")
            model.update(batch)
        elif op == "merge":
            batch = draw_batch()
            merge_version(spark, tdir, to_df(batch), key=["k1", "k2"])
            model.update(batch)
        elif op == "guarded_merge":
            batch = draw_batch()
            merge_version(
                spark,
                tdir,
                to_df(batch),
                key=["k1", "k2"],
                when_matched_condition="source.v < 50",
            )
            for t, v in batch.items():
                if t not in model or v < 50:
                    model[t] = v  # insert, or guard passed
                # else: matched and guard failed -> target kept
        elif op == "delete_merge":
            batch = draw_batch()
            merge_version(
                spark,
                tdir,
                to_df(batch).select("k1", "k2"),
                key=["k1", "k2"],
                when_matched="delete",
            )
            for t in batch:
                model.pop(t, None)
        elif op == "full_sync":
            batch = draw_batch()
            merge_version(
                spark,
                tdir,
                to_df(batch),
                key=["k1", "k2"],
                when_not_matched_by_source="delete",
            )
            model = dict(batch)
        elif op == "delete_rows" and model:
            doomed = data.draw(st.sampled_from(sorted(model)))
            delete_rows(
                spark,
                tdir,
                _mk(spark, [doomed], "k1 string, k2 int"),
            )
            model.pop(doomed)
        elif op == "compact":
            from tms_etl_spark.operators.versioned import (
                optimize_incremental,
            )

            optimize_incremental(spark, tdir, min_file_bytes=10**9)
    got = {
        (r["k1"], r["k2"]): r["v"]
        for r in read_version(spark, tdir).collect()
    }
    assert got == model


def test_import_daily_versioned_matches_parquet_path(spark, tmp_path):
    """The TMS import fixture re-run through `merge_version` on a
    versioned table (VERDICT r10 #3 'Done' clause): same lake, same
    semantics as `import_daily` — replay-idempotent, desligado rows
    only insert, real updates land — PLUS time travel back to the
    pre-import snapshot. The two pipelines must read back identical
    fact rows."""
    import codecs
    import pathlib

    from tms_etl_spark.operators.versioned import (
        current_version,
        read_version,
    )
    from tms_etl_spark.tms.pipeline import (
        import_daily,
        import_daily_versioned,
    )

    def _row(
        data_turno, tear, artigo="ART-1", rpm="550", ef="85.5",
        func="400", par="40", extra_cols=56,
    ):
        head = [data_turno, tear, artigo, "", "GEN-1", rpm, ef, func, par]
        return ",".join(head + ["0"] * extra_cols)

    lake = tmp_path / "lake" / "2024-01" / "daily"
    pathlib.Path(lake).mkdir(parents=True)
    (lake / "2024-01-05.csv").write_text(
        "\n".join(
            [
                _row("2024-01-05.A", "00001"),
                _row("2024-01-05.C", "00002", func="0", par="440"),
                _row("2024-01-05.B", "00005", rpm=""),
            ]
        ),
        encoding="utf-8",
    )
    (lake / "2024-01-06.csv").write_bytes(
        codecs.BOM_UTF8 + _row("2024-01-06.A", "00001").encode("utf-8")
    )
    lake_root = str(tmp_path / "lake")
    pq_target = str(tmp_path / "fact_pq")
    v_target = str(tmp_path / "fact_v")

    s_pq = import_daily(spark, lake_root, pq_target)
    s_v = import_daily_versioned(spark, lake_root, v_target)
    assert (s_pq.batch_rows, s_pq.table_rows) == (
        s_v.batch_rows,
        s_v.table_rows,
    )

    def rows(df):
        return sorted(
            tuple(r)
            for r in df.select(
                "DataTurno", "Tear", "Eficiencia", "Funcionando", "Parado"
            ).collect()
        )

    assert rows(read_version(spark, v_target)) == rows(
        spark.read.parquet(pq_target)
    )
    # replay: value-idempotent on both paths
    import_daily(spark, lake_root, pq_target)
    import_daily_versioned(spark, lake_root, v_target)
    assert rows(read_version(spark, v_target)) == rows(
        spark.read.parquet(pq_target)
    )
    # a later desligado delivery for an existing key must NOT
    # overwrite on either path; a real update must
    lake2 = tmp_path / "lake2" / "2024-01" / "daily"
    pathlib.Path(lake2).mkdir(parents=True)
    (lake2 / "2024-01-05.csv").write_text(
        "\n".join(
            [
                _row("2024-01-05.A", "00001", ef="42.0"),  # real update
                _row(
                    "2024-01-05.C", "00002", ef="0", func="0", par="440"
                ),  # desligado vs existing: blocked
                _row(
                    "2024-01-05.C", "00007", ef="0", func="0", par="440"
                ),  # desligado new key: inserts
            ]
        ),
        encoding="utf-8",
    )
    import_daily(spark, str(tmp_path / "lake2"), pq_target)
    import_daily_versioned(spark, str(tmp_path / "lake2"), v_target)
    got = rows(read_version(spark, v_target))
    assert got == rows(spark.read.parquet(pq_target))
    by_key = {(r[0], r[1]): r[2] for r in got}
    assert by_key[("2024-01-05.A", "00001")] == 42.0  # updated
    assert by_key[("2024-01-05.C", "00002")] == 85.5  # first write kept
    assert by_key[("2024-01-05.C", "00007")] == 0.0  # insert allowed
    # versioned extra: time travel to the pre-second-import snapshot
    assert current_version(spark, v_target) >= 3
    old = read_version(spark, v_target, version=2)
    old_by_key = {
        (r["DataTurno"], r["Tear"]): r["Eficiencia"] for r in old.collect()
    }
    assert old_by_key[("2024-01-05.A", "00001")] == 85.5


def test_merge_when_not_matched_condition(spark, tmp_path):
    """WHEN NOT MATCHED AND <cond> THEN INSERT: unmatched source rows
    failing the condition are silently NOT inserted; matched rows
    update regardless; composes with the matched-condition guard and
    with the zero-touched-files path; delete-merges refuse the
    option; rand() refuses."""
    tdir = str(tmp_path / "nmc")
    write_version(
        _mk(spark, [(1, 10.0), (2, 20.0)], "k int, v double"),
        tdir,
        "append",
    )
    src = _mk(
        spark,
        [(2, 99.0), (3, 5.0), (4, 80.0)],
        "k int, v double",
    )
    merge_version(
        spark, tdir, src, key="k",
        when_not_matched_condition="source.v >= 50",
    )
    got = sorted(tuple(r) for r in read_version(spark, tdir).collect())
    # k=2 matched: updated; k=3 unmatched, v<50: NOT inserted;
    # k=4 unmatched, v>=50: inserted
    assert got == [(1, 10.0), (2, 99.0), (4, 80.0)]
    # composes with the matched guard
    merge_version(
        spark, tdir,
        _mk(spark, [(1, 0.0), (9, 90.0), (10, 1.0)], "k int, v double"),
        key="k",
        when_matched_condition="source.v > 0",
        when_not_matched_condition="v >= 50",  # bare column resolves
    )
    got = sorted(tuple(r) for r in read_version(spark, tdir).collect())
    assert got == [(1, 10.0), (2, 99.0), (4, 80.0), (9, 90.0)]
    # zero-touched-files path (no key overlap): still filtered
    merge_version(
        spark, tdir,
        _mk(spark, [(100, 1.0), (101, 70.0)], "k int, v double"),
        key="k",
        when_not_matched_condition="source.v >= 50",
    )
    got = {r["k"] for r in read_version(spark, tdir).collect()}
    assert 101 in got and 100 not in got
    with pytest.raises(ValueError, match="never inserts"):
        merge_version(
            spark, tdir, src.select("k"), key="k",
            when_matched="delete",
            when_not_matched_condition="true",
        )
    with pytest.raises(ValueError, match="[Nn]on-deterministic"):
        merge_version(
            spark, tdir,
            _mk(spark, [(200, 1.0)], "k int, v double"),
            key="k",
            when_not_matched_condition="rand() < 0.5",
        )


def test_conditional_merge_row_fates(spark, tmp_path):
    """Explicit expected rows for every fate the conditional MERGE's
    one-join projection decides: per-pair guards on duplicate-keyed
    targets, a NULL guard, the insert condition true/false/NULL, the
    SQL insert-only form, a schema-evolving source and a renamed
    (column-mapped) target."""

    def table(name, rows, ddl="k int, v double"):
        tdir = str(tmp_path / name)
        for r in rows:  # one append per row: duplicate keys allowed
            write_version(_mk(spark, [r], ddl), tdir, "append")
        return tdir

    def rows(tdir):
        return sorted(
            tuple(r) for r in read_version(spark, tdir).collect()
        )

    # duplicate target keys: the guard sees each (target, source) pair
    # and every pair emits one row; a false guard keeps the target row
    dup = table("dup", [(1, 10.0), (1, 11.0), (2, 20.0)])
    merge_version(
        spark, dup,
        _mk(spark, [(1, 99.0), (2, 0.0), (3, 5.0)], "k int, v double"),
        key="k",
        when_matched_condition="source.v > 0 AND target.v < 11",
    )
    assert rows(dup) == [(1, 11.0), (1, 99.0), (2, 20.0), (3, 5.0)]
    # the insert condition alone makes the merge conditional too: each
    # matched pair updates (the unconditional merge collapses them)
    merge_version(
        spark, dup,
        _mk(spark, [(1, 50.0), (4, 1.0)], "k int, v double"),
        key="k",
        when_not_matched_condition="source.v >= 50",
    )
    assert rows(dup) == [(1, 50.0), (1, 50.0), (2, 20.0), (3, 5.0)]

    # a NULL guard keeps the target; the insert condition admits only
    # TRUE rows (false and NULL are not inserted)
    fates = table("fates", [(1, 10.0), (2, 20.0)])
    merge_version(
        spark, fates,
        _mk(
            spark,
            [(1, None), (2, 30.0), (7, 80.0), (8, 5.0), (9, None)],
            "k int, v double",
        ),
        key="k",
        when_matched_condition="source.v > 0",
        when_not_matched_condition="source.v >= 50",
    )
    assert rows(fates) == [(1, 10.0), (2, 30.0), (7, 80.0)]

    # the insert condition alone: matched rows update unconditionally
    merge_version(
        spark, fates,
        _mk(spark, [(1, 1.0), (20, None), (21, 60.0)], "k int, v double"),
        key="k",
        when_not_matched_condition="v >= 50",  # bare column resolves
    )
    assert rows(fates) == [(1, 1.0), (2, 30.0), (7, 80.0), (21, 60.0)]

    # the SQL `WHEN NOT MATCHED THEN INSERT *`-only form
    ins_only = table("ins", [(1, 10.0)])
    merge_version(
        spark, ins_only,
        _mk(spark, [(1, 99.0), (2, 20.0)], "k int, v double"),
        key="k",
        when_matched_condition="false",
    )
    assert rows(ins_only) == [(1, 10.0), (2, 20.0)]

    # merge_schema: kept targets null-fill the added column; a
    # narrower source type lands as the recorded (wider) type
    evo = table("evo", [(1, 10.0, 100), (2, 20.0, 200)], "k int, v double, n long")
    merge_version(
        spark, evo,
        _mk(
            spark,
            [(1, 0.0, 1, "a"), (2, 99.0, 2, "b"), (3, 70.0, 3, "c"),
             (4, 1.0, 4, "d")],
            "k int, v double, n int, tag string",
        ),
        key="k",
        when_matched_condition="source.v > 0",
        when_not_matched_condition="source.v >= 50",
        merge_schema=True,
    )
    evolved = read_version(spark, evo)
    assert dict(evolved.dtypes)["n"] == "bigint"
    assert sorted(tuple(r) for r in evolved.collect()) == [
        (1, 10.0, 100, None),
        (2, 99.0, 2, "b"),
        (3, 70.0, 3, "c"),
    ]

    # renamed key column: the join reads logical names, the CoW
    # output writes physical ones
    ren = table("ren", [("d1", 1, 10.0), ("d2", 2, 20.0)],
                "dt string, tear int, eff double")
    rename_column(spark, ren, "dt", "shift_day")
    merge_version(
        spark, ren,
        _mk(
            spark,
            [("d1", 1, 0.0), ("d2", 2, 99.0), ("d9", 9, 90.0)],
            "shift_day string, tear int, eff double",
        ),
        key=["shift_day", "tear"],
        when_matched_condition="source.eff > 0",
    )
    assert rows(ren) == [("d1", 1, 10.0), ("d2", 2, 99.0), ("d9", 9, 90.0)]


def test_stream_read_versioned_starting_version(spark, tmp_path):
    """startingVersion: the stream begins AT that commit — earlier
    history is never emitted; 'latest' emits nothing until a new
    commit lands."""
    from tms_etl_spark.operators.versioned import stream_read_versioned

    tdir = str(tmp_path / "tbl")
    write_version(_mk(spark, [(1,)], "id int"), tdir, "append")  # v1
    write_version(_mk(spark, [(2,)], "id int"), tdir, "append")  # v2
    write_version(_mk(spark, [(3,)], "id int"), tdir, "append")  # v3

    def drain(tag, **kw):
        out = str(tmp_path / f"out{tag}")
        q = (
            stream_read_versioned(spark, tdir, **kw)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"cp{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        try:
            return {r["id"] for r in spark.read.parquet(out).collect()}
        except Exception:
            return set()

    assert drain("a", starting_version=2) == {2, 3}
    assert drain("b", starting_version="latest") == set()
    # a new commit after 'latest' start IS emitted on the next drain
    write_version(_mk(spark, [(4,)], "id int"), tdir, "append")  # v4
    assert drain("b", starting_version="latest") == {4}


def test_stream_read_versioned_max_files_per_trigger(spark, tmp_path):
    """maxFilesPerTrigger: once the version cursor is armed, each
    trigger consumes at most N files' worth of whole commits. The
    FIRST batch of a run is uncapped — the Python DataSource API
    exposes no checkpointed start to latestOffset, so a capped walk
    from startingVersion could land BELOW a restarted checkpoint and
    re-emit delivered versions; returning one uncapped advance keeps
    the offset log monotone (documented slack). Commits written
    while the query runs ARE capped: one commit per micro-batch."""
    import os
    import time

    from tms_etl_spark.operators.versioned import stream_read_versioned

    tdir = str(tmp_path / "tbl")
    write_version(_mk(spark, [(0,)], "id int").coalesce(1), tdir, "append")
    out = str(tmp_path / "out")
    q = (
        stream_read_versioned(spark, tdir, max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )

    def poll(target):
        got: set = set()
        deadline = time.time() + 120
        while got != target and time.time() < deadline:
            time.sleep(1)
            try:
                got = {
                    r["id"] for r in spark.read.parquet(out).collect()
                }
            except Exception:
                got = set()
        return got

    try:
        assert poll({0}) == {0}  # batch 0 (uncapped slack): backlog=v1
        for i in (1, 2, 3):  # backlog lands while the cursor is armed
            write_version(
                _mk(spark, [(i,)], "id int").coalesce(1), tdir, "append"
            )
        got = poll({0, 1, 2, 3})
    finally:
        q.stop()
    assert got == {0, 1, 2, 3}
    # capped granularity: v2..v4 arrived with the cursor armed, so the
    # three single-file commits take three separate micro-batches
    commits = [
        f
        for f in os.listdir(str(tmp_path / "cp") + "/commits")
        if not f.startswith(".")
    ]
    assert len(commits) >= 4


def test_stream_read_versioned_capped_restart_no_duplicates(
    spark, tmp_path
):
    """Regression: a capped query restarted AFTER its last batch was
    committed must not re-emit delivered versions. The old capped
    walk re-armed from startingVersion on restart, returning an
    offset BELOW the checkpoint — Spark plans a batch whenever the
    offset JSON differs and chains each batch from the previous end,
    so the offset log moved backwards and already-delivered versions
    re-emitted as the walk caught up. Now a cold latestOffset returns
    one uncapped advance (monotone), so a caught-up checkpoint plans
    no batch and new commits resume capped."""
    import time

    from tms_etl_spark.operators.versioned import stream_read_versioned

    tdir = str(tmp_path / "tbl")
    for i in range(4):
        write_version(
            _mk(spark, [(i,)], "id int").coalesce(1), tdir, "append"
        )
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")

    def run(target):
        q = (
            stream_read_versioned(spark, tdir, max_files_per_trigger=1)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            rows: list = []
            deadline = time.time() + 120
            while time.time() < deadline:
                time.sleep(1)
                try:
                    rows = [
                        r["id"] for r in spark.read.parquet(out).collect()
                    ]
                except Exception:
                    rows = []
                if set(rows) == target:
                    # linger a few triggers: duplicates from a
                    # backwards offset log surface AFTER catch-up
                    time.sleep(3)
                    rows = [
                        r["id"] for r in spark.read.parquet(out).collect()
                    ]
                    break
            return rows
        finally:
            q.stop()

    first = run({0, 1, 2, 3})
    assert sorted(first) == [0, 1, 2, 3]
    write_version(_mk(spark, [(9,)], "id int").coalesce(1), tdir, "append")
    second = run({0, 1, 2, 3, 9})
    # exactly-once across the restart: no version re-emitted
    assert sorted(second) == [0, 1, 2, 3, 9]


# ---------------------------------------------------------------------------
# Round-11 part 4: cross-feature interactions — the new MERGE clauses
# against schema evolution, column mapping, and hive partitioning.
# ---------------------------------------------------------------------------


def test_guarded_merge_with_schema_evolution(spark, tmp_path):
    """when_matched_condition × merge_schema: the source carries an
    ADDED column; guarded-kept target rows null-fill it, updated and
    inserted rows carry it, and the recorded schema evolves in the
    same commit."""
    tdir = str(tmp_path / "ge")
    write_version(
        _mk(spark, [(1, 10.0), (2, 20.0)], "k int, v double"),
        tdir,
        "append",
    )
    src = _mk(
        spark,
        [(1, 0.0, "a"), (2, 99.0, "b"), (3, 30.0, "c")],
        "k int, v double, tag string",
    )
    merge_version(
        spark, tdir, src, key="k",
        when_matched_condition="source.v > 0",
        merge_schema=True,
    )
    got = sorted(tuple(r) for r in read_version(spark, tdir).collect())
    # k=1 guarded (source v=0): target kept, tag null-fills;
    # k=2 updated wide; k=3 inserted wide
    assert got == [(1, 10.0, None), (2, 99.0, "b"), (3, 30.0, "c")]


def test_composite_merge_on_renamed_table(spark, tmp_path):
    """Composite MERGE through a column map: one key column was
    RENAMED (physical name differs), the tuple probe reads physical
    names and the CoW writes through the map."""
    tdir = str(tmp_path / "ren")
    write_version(
        _mk(
            spark,
            [("d1", 1, 10.0), ("d2", 2, 20.0)],
            "dt string, tear int, eff double",
        ),
        tdir,
        "append",
    )
    rename_column(spark, tdir, "dt", "shift_day")
    src = _mk(
        spark,
        [("d1", 1, 99.0), ("d9", 9, 90.0)],
        "shift_day string, tear int, eff double",
    )
    merge_version(spark, tdir, src, key=["shift_day", "tear"])
    got = sorted(tuple(r) for r in read_version(spark, tdir).collect())
    assert got == [("d1", 1, 99.0), ("d2", 2, 20.0), ("d9", 9, 90.0)]
    # time travel still shows the pre-merge values under the new name
    old = read_version(spark, tdir, version=2)
    assert sorted(tuple(r) for r in old.collect()) == [
        ("d1", 1, 10.0),
        ("d2", 2, 20.0),
    ]


def test_full_sync_on_partitioned_table(spark, tmp_path):
    """Full-sync MERGE on a hive-partitioned table: every file
    rewrites but the layout is preserved (partition pruning stays
    directory-exact) and generated partition columns derive for the
    source."""
    import os

    tdir = str(tmp_path / "part")
    write_version(
        _mk(
            spark,
            [(1, "2024-01", 1.0), (2, "2024-02", 2.0), (3, "2024-02", 3.0)],
            "k int, month string, v double",
        ),
        tdir,
        "append",
        partition_by=["month"],
    )
    src = _mk(
        spark,
        [(2, "2024-02", 22.0), (4, "2024-03", 4.0)],
        "k int, month string, v double",
    )
    merge_version(
        spark, tdir, src, key="k", when_not_matched_by_source="delete"
    )
    got = sorted(tuple(r) for r in read_version(spark, tdir).collect())
    assert got == [(2, "2024-02", 22.0), (4, "2024-03", 4.0)]
    # the rewrite kept the hive layout
    from tms_etl_spark.operators.versioned import _read_json, _manifest_path

    man = _read_json(spark, _manifest_path(tdir, 2))
    assert man.get("hive_dirs"), "full-sync rewrite lost the hive layout"
    new_dir = man["hive_dirs"][-1]
    assert any(
        seg.startswith("month=")
        for seg in os.listdir(os.path.join(tdir, new_dir))
    )


def test_guarded_merge_on_generated_partitions(spark, tmp_path):
    """Guarded MERGE on a generated-partition table: the source lacks
    the partition column (derived from the recorded expression) and
    the guard still evaluates per pair."""
    tdir = str(tmp_path / "gen")
    write_version(
        _mk(spark, [(10, 1.0), (20, 2.0)], "id int, v double"),
        tdir,
        "append",
        partition_by=["bucket"],
        partition_exprs={"bucket": "pmod(id, 4)"},
    )
    src = _mk(spark, [(10, 0.0), (20, 99.0), (30, 3.0)], "id int, v double")
    merge_version(
        spark, tdir, src, key="id",
        when_matched_condition="source.v > 0",
    )
    got = sorted(
        (r["id"], r["v"]) for r in read_version(spark, tdir).collect()
    )
    assert got == [(10, 1.0), (20, 99.0), (30, 3.0)]


def test_composite_delete_survives_optimize_and_cdc(spark, tmp_path):
    """A composite deletion vector composes with compaction purge and
    the version-changes refusal: CDC across the delete refuses (no
    file-level delta), and optimize physically purges the tuple."""
    from tms_etl_spark.operators.versioned import (
        delete_rows,
        optimize_version,
        read_version_changes,
    )

    tdir = str(tmp_path / "cdc")
    write_version(
        _mk(
            spark,
            [("a", 1, 1.0), ("a", 2, 2.0), ("b", 1, 3.0)],
            "k1 string, k2 int, v double",
        ),
        tdir,
        "append",
    )
    delete_rows(spark, tdir, _mk(spark, [("a", 2)], "k1 string, k2 int"))
    with pytest.raises(ValueError, match="delete"):
        read_version_changes(spark, tdir, 1, 2)
    optimize_version(spark, tdir)
    got = sorted(tuple(r) for r in read_version(spark, tdir).collect())
    assert got == [("a", 1, 1.0), ("b", 1, 3.0)]


def test_stream_source_starting_version_validation(spark, tmp_path):
    """startingVersion=0 / garbage refuse with a clear message
    (versions are 1-based; Delta's 0 would alias the full snapshot,
    which is the DEFAULT here) — not a FileNotFoundError on
    'v-00001.json'."""
    from tms_etl_spark.sources.pyds import VersionedTableStreamReader

    tdir = str(tmp_path / "tbl")
    write_version(_mk(spark, [(1,)], "id int"), tdir, "append")
    r = VersionedTableStreamReader(
        {"path": tdir, "startingversion": "0"}
    )
    with pytest.raises(ValueError, match="1-based"):
        r.initialOffset()
    r2 = VersionedTableStreamReader(
        {"path": tdir, "startingversion": "soon"}
    )
    with pytest.raises(ValueError, match="startingVersion"):
        r2.initialOffset()


def test_stream_source_rate_limit_survives_expired_manifests(
    spark, tmp_path
):
    """The capped latestOffset walk falls back to an UNCAPPED advance
    when a manifest in its range was expired by retention — the
    stream keeps working (same behavior as without the option)
    instead of dying on a FileNotFoundError."""
    from tms_etl_spark.operators.versioned import expire_versions
    from tms_etl_spark.sources.pyds import VersionedTableStreamReader

    tdir = str(tmp_path / "tbl")
    for i in range(5):
        write_version(_mk(spark, [(i,)], "id int"), tdir, "append")
    expire_versions(spark, tdir, keep_last=2, orphan_grace_hours=0)
    r = VersionedTableStreamReader(
        {"path": tdir, "maxfilespertrigger": "1"}
    )
    # cursor arms at 0; manifests v1..v3 are gone — the walk must
    # fall back, not crash
    off = r.latestOffset()
    assert off == {"version": 5}


def test_stream_ignore_changes_and_deletes(spark, tmp_path):
    """ignoreDeletes / ignoreChanges (Delta parity): a tombstone
    commit stops failing the stream under ignoreDeletes (empty delta
    — deleted rows never retracted); a MERGE rewrite streams under
    ignoreChanges as live(end) − live(start), re-emitting the
    rewritten files' survivor rows (at-least-once)."""
    from tms_etl_spark.operators.versioned import (
        delete_rows,
        stream_read_versioned,
        write_version,
    )

    tdir = str(tmp_path / "tbl")
    write_version(
        _mk(spark, [(1, "a"), (2, "b")], "id int, v string").coalesce(1),
        tdir,
        "append",
    )

    def drain(tag, **kw):
        out = str(tmp_path / f"out{tag}")
        q = (
            stream_read_versioned(spark, tdir, **kw)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"cp{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        try:
            return sorted(
                tuple(r) for r in spark.read.parquet(out).collect()
            )
        except Exception:
            return []

    # baseline consumed
    assert drain("d", ignore_deletes=True) == [(1, "a"), (2, "b")]
    delete_rows(spark, tdir, _mk(spark, [(2,)], "id int"))
    # tombstone commit: empty delta, no failure, no retraction
    assert drain("d", ignore_deletes=True) == [(1, "a"), (2, "b")]
    # and an append after the delete still tails
    write_version(_mk(spark, [(3, "c")], "id int, v string"), tdir, "append")
    assert drain("d", ignore_deletes=True) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]

    # ignoreChanges across a MERGE rewrite: start a fresh consumer at
    # the CURRENT snapshot... (the initial snapshot refuses active
    # tombstones under both flags), then merge
    from tms_etl_spark.operators.versioned import (
        current_version,
        merge_version,
        optimize_version,
    )

    optimize_version(spark, tdir)  # purge tombstones for a clean base
    base_v = current_version(spark, tdir)
    assert drain(
        "c", ignore_changes=True, starting_version=base_v
    ) == sorted([(1, "a"), (3, "c")])
    merge_version(
        spark, tdir,
        _mk(spark, [(1, "A"), (9, "z")], "id int, v string"),
        key="id",
    )
    got = drain("c", ignore_changes=True, starting_version=base_v)
    # the rewrite re-emits the touched file's survivor row (3, "c")
    # alongside the update and the insert — at-least-once
    assert (1, "A") in got and (9, "z") in got
    assert got.count((3, "c")) >= 2  # original + re-emit
    # without the flag the same seam refuses
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="MERGE|delta"):
        drain("p", starting_version=base_v)
