"""Reference-semantics tests (SURVEY.md §5.2): TMS-shaped fixtures
with hand-computed goldens — positional parsing, BOM/encoding, empty
string coercion, desligado predicate incl. borderlines, merge
idempotence, first-write-wins, newest-file-wins precedence.
"""

from __future__ import annotations

import codecs
import gc
import threading

import pytest
from pyspark.sql import functions as F

from tms_etl_spark.operators.merge import upsert_partitioned
from tms_etl_spark.tms.pipeline import (
    import_daily,
    import_daily_versioned,
    prepare_batch,
)
from tms_etl_spark.tms.quality import is_tear_desligado
from tms_etl_spark.tms.schema import DAILY_COLUMNS, with_types
from tms_etl_spark.tms.source import read_daily


def _row(data_turno, tear, artigo="ART-1", rpm="550", ef="85.5", func="400",
         par="40", extra_cols=56):
    head = [data_turno, tear, artigo, "", "GEN-1", rpm, ef, func, par]
    return ",".join(head + ["0"] * extra_cols)


@pytest.fixture(scope="module")
def lake(tmp_path_factory):
    root = tmp_path_factory.mktemp("tmslake")
    d = root / "2024-01" / "daily"
    d.mkdir(parents=True)
    rows = [
        _row("2024-01-05.A", "00001"),                       # normal
        _row("2024-01-05.C", "00002", func="0", par="440"),  # desligado
        _row("2024-01-05.C", "00003", func="0", par="399"),  # borderline: NOT flagged
        _row("2024-01-05.C", "00004", func="0.1", par="440"),  # borderline: NOT flagged
        _row("2024-01-05.B", "00005", rpm=""),               # empty-string numeric → 0
        "short,row",                                          # arity<3 → dropped
        _row("2024-01-05.A", "00006")[: len(_row('x', 'y')) - 80],  # truncated tail → nulls → 0
    ]
    (d / "2024-01-05.csv").write_text("\n".join(rows), encoding="utf-8")
    # BOM file (utf-8-sig)
    (d / "2024-01-06.csv").write_bytes(
        codecs.BOM_UTF8 + _row("2024-01-06.A", "00001").encode("utf-8")
    )
    return str(root)


def test_positional_schema():
    assert len(DAILY_COLUMNS) == 71
    assert DAILY_COLUMNS[0] == "DataTurno"
    assert DAILY_COLUMNS[15] == "QtdParadasUrdume"
    assert DAILY_COLUMNS[34] == "MinParadasOutras"
    assert DAILY_COLUMNS[35] == "Wf11"
    assert DAILY_COLUMNS[70] == "MinGen16"


def test_read_daily_parses_and_coerces(spark, lake):
    df = read_daily(spark, lake)
    rows = {r["Tear"]: r for r in df.collect()}
    # BOM stripped: first column parsed cleanly
    assert "00001" in rows
    assert rows["00001"]["DataTurno"] in ("2024-01-05.A", "2024-01-06.A")
    # empty string numeric coerced to 0
    assert rows["00005"]["Rpm"] == 0.0
    assert rows["00005"]["Eficiencia"] == 85.5
    # derived columns
    assert rows["00002"]["turno"] == "C"
    assert rows["00002"]["month"] == "2024-01"
    assert str(rows["00002"]["data"]) == "2024-01-05"


def test_desligado_predicate(spark, lake):
    df = read_daily(spark, lake)
    flagged = {
        r["Tear"]
        for r in df.where(is_tear_desligado()).select("Tear").collect()
    }
    assert flagged == {"00002"}  # borderlines 00003/00004 excluded


def test_arity_filter_drops_short_rows(spark, lake):
    batch = prepare_batch(read_daily(spark, lake))
    tears = {r["Tear"] for r in batch.select("Tear").collect()}
    assert "short" not in tears and "row" not in tears


def test_truncated_row_trailing_nulls_coerced(spark, lake):
    df = read_daily(spark, lake)
    r = df.where(F.col("Tear") == "00006").collect()
    if r:  # truncated row keeps first fields, trailing → 0.0
        assert r[0]["MinGen16"] == 0.0


def test_import_idempotent(spark, lake, tmp_path):
    target = str(tmp_path / "fact")
    s1 = import_daily(spark, lake, target)
    t1 = spark.read.parquet(target).orderBy("DataTurno", "Tear").collect()
    s2 = import_daily(spark, lake, target)  # replay the same files
    t2 = spark.read.parquet(target).orderBy("DataTurno", "Tear").collect()
    assert s1.table_rows == s2.table_rows
    assert t1 == t2  # T2: exactly-once effective under replay


def test_first_write_wins_for_desligado(spark, lake, tmp_path):
    target = str(tmp_path / "fact")
    import_daily(spark, lake, target)
    # A real record for 00002's shift lands first; a later desligado
    # import must NOT overwrite it.
    real = spark.read.parquet(target).where(
        (F.col("Tear") == "00002") & (F.col("DataTurno") == "2024-01-05.C")
    )
    assert real.count() == 1
    before = real.collect()[0]["Eficiencia"]

    # new lake delivering a desligado row for the same key
    import pathlib

    lake2 = tmp_path / "lake2" / "2024-01" / "daily"
    pathlib.Path(lake2).mkdir(parents=True)
    (lake2 / "2024-01-05.csv").write_text(
        _row("2024-01-05.C", "00002", ef="0", func="0", par="440"), encoding="utf-8"
    )
    import_daily(spark, str(tmp_path / "lake2"), target)
    after_df = spark.read.parquet(target).where(
        (F.col("Tear") == "00002") & (F.col("DataTurno") == "2024-01-05.C")
    )
    assert after_df.count() == 1
    assert after_df.collect()[0]["Eficiencia"] == before  # unchanged

    # but a NON-desligado update for another key DOES overwrite
    lake3 = tmp_path / "lake3" / "2024-01" / "daily"
    pathlib.Path(lake3).mkdir(parents=True)
    (lake3 / "2024-01-05.csv").write_text(
        _row("2024-01-05.A", "00001", ef="42.0"), encoding="utf-8"
    )
    import_daily(spark, str(tmp_path / "lake3"), target)
    updated = spark.read.parquet(target).where(
        (F.col("Tear") == "00001") & (F.col("DataTurno") == "2024-01-05.A")
    )
    assert updated.collect()[0]["Eficiencia"] == 42.0


def test_newest_file_wins_within_batch(spark, tmp_path):
    import time

    d = tmp_path / "lk" / "2024-02" / "daily"
    d.mkdir(parents=True)
    (d / "2024-02-01.csv").write_text(
        _row("2024-02-01.A", "00009", ef="10.0"), encoding="utf-8"
    )
    time.sleep(1.1)  # distinct mtimes
    (d / "2024-02-02.csv").write_text(
        _row("2024-02-01.A", "00009", ef="99.0"), encoding="utf-8"
    )
    batch = prepare_batch(read_daily(spark, str(tmp_path / "lk")))
    rows = batch.where(F.col("Tear") == "00009").collect()
    assert len(rows) == 1
    assert rows[0]["Eficiencia"] == 99.0


def test_latin1_encoding_root(spark, tmp_path):
    d = tmp_path / "l1" / "2024-03" / "daily"
    d.mkdir(parents=True)
    (d / "2024-03-01.csv").write_bytes(
        _row("2024-03-01.A", "00007", artigo="TECIDO-AÇO").encode("latin-1")
    )
    df = read_daily(spark, str(tmp_path / "l1"), encoding="ISO-8859-1")
    assert df.collect()[0]["Artigo"] == "TECIDO-AÇO"


def test_month_pruning(spark, tmp_path):
    for m in ("2024-01", "2024-02"):
        d = tmp_path / "pr" / m / "daily"
        d.mkdir(parents=True)
        (d / "f.csv").write_text(_row(f"{m}-01.A", "00001"), encoding="utf-8")
    df = read_daily(spark, str(tmp_path / "pr"), months=["2024-02"])
    assert {r["month"] for r in df.select("month").collect()} == {"2024-02"}


def test_shift_minutes_invariant(spark, lake):
    from tms_etl_spark.tms.quality import shift_minutes_violations
    from tms_etl_spark.tms.source import read_daily
    from tms_etl_spark.tms.pipeline import prepare_batch

    batch = prepare_batch(read_daily(spark, lake))
    bad = shift_minutes_violations(batch)
    # fixture rows are built with Funcionando+Parado == 440 except the
    # truncated row (0+0); the validator must flag exactly those
    tears = {r["Tear"] for r in bad.select("Tear").collect()}
    assert "00001" not in tears
    for r in bad.collect():
        assert r["__shift_total"] < 400 or r["__shift_total"] > 480


def test_snapshot_diff_classifies_all_change_types(spark):
    from tms_etl_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 20.0), (3, "c", 33.0), (5, "e", 50.0)],
        "k long, s string, v double",
    )
    got = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(old, new, keys=["k"]).collect()
    }
    # 1 unchanged (absent), 2 updated (s), 3 updated (NULL->value),
    # 4 deleted, 5 inserted
    assert got == {2: "update", 3: "update", 4: "delete", 5: "insert"}


_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def test_writes_leave_session_overwrite_mode_alone(spark, lake, tmp_path):
    """Dynamic partition overwrite is a per-write option: the merge
    writers must not flip the session's mode, or an unrelated
    ``overwrite`` + ``partitionBy`` later in the session silently keeps
    stale partitions."""
    spark.conf.set(_OVERWRITE_MODE, "static")
    try:
        target = str(tmp_path / "up")
        first = spark.createDataFrame(
            [(1, "a", "2024-01"), (2, "b", "2024-02")],
            "k int, v string, month string",
        )
        upsert_partitioned(target, first, keys=["k"], partition_col="month")
        batch = spark.createDataFrame(
            [(1, "A", "2024-01")], "k int, v string, month string"
        )
        upsert_partitioned(target, batch, keys=["k"], partition_col="month")
        # the untouched month survived: the write itself was dynamic
        got = sorted(tuple(r) for r in spark.read.parquet(target).collect())
        assert got == [(1, "A", "2024-01"), (2, "b", "2024-02")]
        assert spark.conf.get(_OVERWRITE_MODE) == "static"
        fact = str(tmp_path / "fact")
        import_daily(spark, lake, fact)
        import_daily(spark, lake, fact)  # the merge + overwrite path
        assert spark.conf.get(_OVERWRITE_MODE) == "static"
    finally:
        spark.conf.unset(_OVERWRITE_MODE)


def _py4j_sends(spark, fn) -> int:
    """py4j commands ``fn()`` sends to the JVM, counted on the gateway
    client for this thread only (streams and listeners left running by
    other tests send from their own threads); gc is off so
    finalizer-driven object releases stay out."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    n = 0

    def counted(*args, **kwargs):
        nonlocal n
        if threading.get_ident() == me:
            n += 1
        return send(*args, **kwargs)

    gc.collect()
    gc.disable()
    client.send_command = counted
    try:
        fn()
    finally:
        client.send_command = send
        gc.enable()
    return n


def test_plan_building_py4j_budget(spark, lake, tmp_path):
    """Building the import's plans is py4j-bound on wide frames: the
    71-column projections are single ``selectExpr`` calls, not a
    Column-API node chain per column. Bounds are 1.5x the measured
    92 and 503 sends; the per-column form measured 1,896 sends for
    ``read_version`` and 7,404 for ``prepare_batch(read_daily(...))``
    on this fixture. Manifest metadata on a local table never touches
    the JVM: the Hadoop listing and read made 26 and 17 sends here
    (38 and 32 on a cold 3-version table), and ``read_version`` 144.
    Nor does a local listing or probe: through Hadoop ``path_exists``
    made 9 sends, ``list_files`` 63-65 and ``_dir_has_parquet`` (run
    by every commit) 65."""
    from tms_etl_spark.operators.versioned import (
        _dir_has_parquet,
        _manifest_path,
        _read_json,
        current_version,
        read_version,
    )
    from tms_etl_spark.sources.fs import list_dirs, list_files, path_exists

    tdir = str(tmp_path / "vt")
    import_daily_versioned(spark, lake, tdir)
    read_version(spark, tdir)  # warm: first-use JVM handles
    assert len(read_version(spark, tdir).columns) == 73
    assert _py4j_sends(spark, lambda: current_version(spark, tdir)) == 0
    assert (
        _py4j_sends(spark, lambda: _read_json(spark, _manifest_path(tdir, 1)))
        == 0
    )
    assert _py4j_sends(spark, lambda: read_version(spark, tdir)) <= 138
    (data_dir, *_) = list_dirs(spark, f"{tdir}/data")
    for probe in (
        lambda: path_exists(spark, data_dir.path),
        lambda: list_files(spark, data_dir.path),
        lambda: list_dirs(spark, f"{tdir}/data"),
        lambda: _dir_has_parquet(spark, data_dir.path),
    ):
        assert _py4j_sends(spark, probe) == 0
    prepare_batch(read_daily(spark, lake))
    assert (
        _py4j_sends(spark, lambda: prepare_batch(read_daily(spark, lake)))
        <= 755
    )


def test_write_verb_py4j_budget(spark, tmp_path):
    """The rewrite verbs' commit tails add no driver round trips: on a
    small local table with the change feed on, one warm call each of
    ``merge_version``, ``update_where`` and ``optimize_version`` stays
    within 1.5x the sends measured when each verb carried its own
    copy of the commit: 819, 392 and 27 (the same counts through the
    shared commit helper)."""
    from tms_etl_spark.operators.versioned import (
        enable_change_feed,
        merge_version,
        optimize_version,
        update_where,
        write_version,
    )

    tdir = str(tmp_path / "wv")
    rows = [(k, k * 10, "a") for k in range(20)]
    write_version(
        spark.createDataFrame(rows, "k int, v int, s string").coalesce(2),
        tdir,
        "append",
    )
    enable_change_feed(spark, tdir)
    src = spark.createDataFrame(
        [(1, 11, "b"), (30, 300, "c")], "k int, v int, s string"
    )
    verbs = {
        "merge": lambda: merge_version(spark, tdir, src, "k"),
        "update": lambda: update_where(spark, tdir, "k = 2", {"s": "'u'"}),
        "optimize": lambda: optimize_version(spark, tdir),
    }
    for fn in verbs.values():
        fn()  # warm: first-use JVM handles
    sends = {name: _py4j_sends(spark, fn) for name, fn in verbs.items()}
    assert sends["merge"] <= 1228
    assert sends["update"] <= 588
    assert sends["optimize"] <= 40


def test_import_daily_versioned_releases_batch_pin(
    spark, lake, tmp_path, monkeypatch
):
    """The pinned batch is released on success AND when the merge
    raises — a long-lived session must not accumulate one pinned
    batch per failed import."""
    from tms_etl_spark.operators import versioned as vt

    sc = spark.sparkContext
    start = len(sc._jsc.getPersistentRDDs())
    tdir = str(tmp_path / "vt")
    import_daily_versioned(spark, lake, tdir)
    assert len(sc._jsc.getPersistentRDDs()) == start

    def boom(*args, **kwargs):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(vt, "merge_version", boom)
    with pytest.raises(RuntimeError, match="merge failed"):
        import_daily_versioned(spark, lake, tdir)
    assert len(sc._jsc.getPersistentRDDs()) == start


def test_import_table_rows_falls_back_on_month_spanning_files(
    spark, lake, tmp_path
):
    """A target first written WITHOUT month partitioning has files
    spanning months: the manifest cannot prove the touched-month
    count, so ``table_rows`` comes from the scan — and still equals
    it."""
    from tms_etl_spark.operators.versioned import read_version, write_version

    tdir = str(tmp_path / "flat")
    batch = prepare_batch(read_daily(spark, lake))
    old_shift = batch.limit(1).withColumn(
        "DataTurno", F.lit("2023-12-31.A")
    ).withColumn("month", F.lit("2023-12"))
    # one file holding two months
    write_version(batch.unionByName(old_shift).coalesce(1), tdir, "append")
    st = import_daily_versioned(spark, lake, tdir)
    table = read_version(spark, tdir)
    assert st.table_rows == table.where(F.col("month") == "2024-01").count()
    assert table.count() == st.table_rows + 1


def test_import_table_rows_counts_the_committed_version(
    spark, lake, tmp_path, monkeypatch
):
    """``table_rows`` describes the version THIS import committed: a
    writer that appends into a touched month right after the merge
    commits is not counted, on the manifest path or the scan path."""
    from tms_etl_spark.operators import versioned as vt

    tdir = str(tmp_path / "vt")
    import_daily_versioned(spark, lake, tdir)
    real_merge = vt.merge_version
    committed = []

    def merge_then_later_writer(*args, **kwargs):
        v = real_merge(*args, **kwargs)
        committed.append(v)
        later = vt.read_version(spark, tdir, v).limit(2).localCheckpoint()
        vt.write_version(later, tdir, "append")
        return v

    monkeypatch.setattr(vt, "merge_version", merge_then_later_writer)
    st = import_daily_versioned(spark, lake, tdir)
    jan = F.col("month") == "2024-01"
    at_commit = vt.read_version(spark, tdir, committed[0]).where(jan).count()
    assert vt.current_version(spark, tdir) == committed[0] + 1
    assert st.table_rows == at_commit
    assert vt.read_version(spark, tdir).where(jan).count() == at_commit + 2


def test_read_daily_reads_only_month_dirs(spark, tmp_path):
    """Without ``months`` every ``<YYYY-MM>/daily/`` dir of the root
    is read, and nothing else: a stray ``backup/daily/`` beside it is
    not imported."""
    root = tmp_path / "lk"
    for sub, shift in (("2024-01", "2024-01-05.A"), ("backup", "2023-12-01.A")):
        d = root / sub / "daily"
        d.mkdir(parents=True)
        (d / "f.csv").write_text(_row(shift, "00001"), encoding="utf-8")
    df = read_daily(spark, str(root))
    assert {r["month"] for r in df.select("month").collect()} == {"2024-01"}
