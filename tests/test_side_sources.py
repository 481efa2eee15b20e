"""§1.3 side-dataset readers + analytics (stop_history sessions,
operator productivity, forecast coverage)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tms_etl_spark.tms.side_sources import (
    forecast_coverage,
    operator_productivity,
    read_forecast,
    read_operator,
    read_stop_history,
    stop_sessions,
)


@pytest.fixture(scope="module")
def side_lake(tmp_path_factory):
    root = tmp_path_factory.mktemp("sidelake")
    sh = root / "2024-01" / "stop_history"
    sh.mkdir(parents=True)
    sh.joinpath("stops.csv").write_text(
        "ts_inicio,ts_fim,tear,motivo,duracao_min\n"
        # burst of 3 stops within 30min gaps → one session
        "2024-01-05 08:00:00,2024-01-05 08:05:00,00001,ParadasTrama,5\n"
        "2024-01-05 08:20:00,2024-01-05 08:22:00,00001,ParadasTrama,2\n"
        "2024-01-05 08:45:00,2024-01-05 08:50:00,00001,TrocaDeRolo,5\n"
        # isolated stop 3h later → its own session
        "2024-01-05 12:00:00,2024-01-05 12:30:00,00001,EnergiaDesligada,30\n"
        # other loom
        "2024-01-05 08:10:00,2024-01-05 08:15:00,00002,CorteTecido,5\n",
        encoding="utf-8",
    )
    op = root / "2024-01" / "operator"
    op.mkdir(parents=True)
    op.joinpath("op.csv").write_text(
        "data,operador,tear,turno,eficiencia,metros,paradas\n"
        "2024-01-05,OP1,00001,A,90,100,2\n"
        "2024-01-05,OP1,00002,A,80,300,1\n"
        "2024-01-05,OP2,00003,A,95,50,0\n",
        encoding="utf-8",
    )
    root.joinpath("forecast.csv").write_text(
        "artigo,fio,estoque_kg,previsao_kg,mes\n"
        "ART-1,FIO-10,500,400,2024.02\n"
        "ART-2,FIO-20,100,400,2024.02\n",
        encoding="utf-8",
    )
    return str(root)


def test_stop_sessions(spark, side_lake):
    stops = read_stop_history(spark, side_lake)
    assert stops.count() == 5
    sess = stop_sessions(stops).collect()
    by_loom = {}
    for r in sess:
        by_loom.setdefault(r["tear"], []).append(r)
    assert len(by_loom["00001"]) == 2  # burst collapsed + isolated
    burst = max(by_loom["00001"], key=lambda r: r["n_stops"])
    assert burst["n_stops"] == 3 and burst["min_total"] == 12.0
    assert len(by_loom["00002"]) == 1


def test_operator_productivity(spark, side_lake):
    op = read_operator(spark, side_lake)
    rank = {
        r["operador"]: r for r in operator_productivity(op).collect()
    }
    # OP1 weighted ef: (90*100 + 80*300)/400 = 82.5
    assert abs(rank["OP1"]["ef_ponderada"] - 82.5) < 1e-9
    assert rank["OP1"]["rank_no_turno"] == 1  # 400m > 50m
    assert rank["OP2"]["rank_no_turno"] == 2


def test_forecast_coverage(spark, side_lake):
    fc = forecast_coverage(read_forecast(spark, side_lake))
    rows = {r["artigo"]: r for r in fc.collect()}
    assert rows["ART-1"]["month"] == "2024-02"  # YYYY.MM normalized
    assert rows["ART-1"]["compra_necessaria"] is False
    assert rows["ART-2"]["compra_necessaria"] is True
    assert abs(rows["ART-2"]["cobertura"] - 0.25) < 1e-12


def test_python_datasource_status_logs(spark, tmp_path):
    """Spark-4 Python Data Source front door: one partition per log
    file, executor-side parsing, latin-1 fallback, unknown lines
    skipped."""
    from tms_etl_spark.sources.pyds import StatusLogDataSource

    d = tmp_path / "logs" / "2024-01"
    d.mkdir(parents=True)
    (d / "a.log").write_text(
        "Tear 001 ---> Com Sucesso\nnoise line\nTear 002 ---> Desligada\n"
    )
    (d / "b.txt").write_bytes(
        "Tear Ã§ ---> Com Sucesso\n".encode("latin-1")
    )
    (d / "ignored.csv").write_text("Tear 009 ---> Com Sucesso\n")

    spark.dataSource.register(StatusLogDataSource)
    df = (
        spark.read.format("tms_status")
        .option("path", str(tmp_path / "logs"))
        .load()
    )
    rows = {(r["loom"], r["status"]) for r in df.collect()}
    assert ("Tear 001", "Com Sucesso") in rows
    assert ("Tear 002", "Desligada") in rows
    assert len(rows) == 3  # csv ignored, noise skipped, latin-1 read
    assert df.rdd.getNumPartitions() == 2  # one per log file
    # empty dir: zero rows, schema intact
    empty = tmp_path / "none"
    empty.mkdir()
    e = (
        spark.read.format("tms_status")
        .option("path", str(empty))
        .load()
    )
    assert e.count() == 0 and e.columns == ["loom", "status", "src_file"]


def test_corrupt_parquet_file_tolerance(spark, tmp_path):
    """Operational posture: a fleet-scale lake always contains a few
    torn/corrupt files (killed writers, partial uploads). With
    ignoreCorruptFiles the scan yields every healthy row instead of
    failing the job; default strict mode still raises."""
    import pytest
    from pyspark.sql import functions as F

    d = tmp_path / "lake"
    spark.range(10).select(F.col("id")).write.parquet(str(d))
    (d / "part-corrupt.parquet").write_bytes(b"PAR1 this is not a parquet file")
    with pytest.raises(Exception):
        spark.read.parquet(str(d)).count()
    ok = (
        spark.read.option("ignoreCorruptFiles", "true")
        .parquet(str(d))
        .count()
    )
    assert ok == 10


def test_python_datasource_streaming_tail(spark, tmp_path):
    """spark.readStream.format('tms_status'): the directory tails as
    an append-only stream; a second batch picks up only NEW files."""
    from tms_etl_spark.sources.pyds import StatusLogDataSource

    d = tmp_path / "slogs"
    d.mkdir()
    (d / "2024-01-01.log").write_text("Tear 001 ---> Com Sucesso\n")
    spark.dataSource.register(StatusLogDataSource)
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("tms_status")
            .option("path", str(d))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(out).count() == 1
    (d / "2024-01-02.log").write_text(
        "Tear 002 ---> Desligada\nTear 003 ---> Com Sucesso\n"
    )
    run_once()
    t = spark.read.parquet(out)
    assert t.count() == 3  # old file NOT re-read, new file's 2 rows added
    assert {r["loom"] for r in t.collect()} == {
        "Tear 001", "Tear 002", "Tear 003"
    }


def test_python_datasource_versioned_writer(spark, tmp_path):
    """df.write.format('tms_versioned'): pyarrow per-partition files
    committed as a table version; appends accumulate; the committed
    table reads back through the versioned layer (time travel etc.)."""
    from pyspark.sql import functions as F

    from tms_etl_spark.operators.versioned import (
        current_version,
        read_version,
    )
    from tms_etl_spark.sources.pyds import VersionedTableDataSource

    spark.dataSource.register(VersionedTableDataSource)
    t = str(tmp_path / "vt")
    df = spark.range(0, 10).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).repartition(3)
    df.write.format("tms_versioned").option("path", t).mode("append").save()
    assert current_version(spark, t) == 1
    got = read_version(spark, t)
    assert got.count() == 10
    assert {r["v"] for r in got.collect()} == {i * 2 for i in range(10)}
    # second append becomes v2 and accumulates
    spark.range(10, 12).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).write.format("tms_versioned").option("path", t).mode("append").save()
    assert current_version(spark, t) == 2
    assert read_version(spark, t).count() == 12
    assert read_version(spark, t, 1).count() == 10  # time travel intact
    # the pyarrow-metadata zonemaps feed the same pruned-read path
    from tms_etl_spark.operators.versioned import read_version_pruned

    point = read_version_pruned(spark, t, "id", "=", 11)
    assert point.count() == 1
    assert len(point.inputFiles()) < len(read_version(spark, t).inputFiles())


def test_python_datasource_writer_overwrite_mode(spark, tmp_path):
    """mode('overwrite') commits a version referencing only the new
    dir; history stays time-travelable."""
    from pyspark.sql import functions as F

    from tms_etl_spark.operators.versioned import read_version
    from tms_etl_spark.sources.pyds import VersionedTableDataSource

    spark.dataSource.register(VersionedTableDataSource)
    t = str(tmp_path / "vt2")
    spark.range(5).select(F.col("id")).write.format(
        "tms_versioned"
    ).option("path", t).mode("append").save()
    spark.range(100, 103).select(F.col("id")).write.format(
        "tms_versioned"
    ).option("path", t).mode("overwrite").save()
    assert read_version(spark, t).count() == 3
    assert {r["id"] for r in read_version(spark, t).collect()} == {100, 101, 102}
    assert read_version(spark, t, 1).count() == 5


def test_versioned_stream_source_tails_versions(spark, tmp_path):
    """readStream over a versioned table: offset = version number;
    each restart consumes exactly the versions committed since the
    checkpoint (exactly-once file-level tail)."""
    from pyspark.sql import functions as F

    from tms_etl_spark.sources.pyds import VersionedTableDataSource
    from tms_etl_spark.operators.versioned import write_version

    tdir = str(tmp_path / "vtab")
    cp = str(tmp_path / "cp")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        "id", (F.col("id") * 2).alias("v")
    )
    write_version(mk(0, 5), tdir, "append")
    spark.dataSource.register(VersionedTableDataSource)

    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("tms_versioned")
            .option("path", tdir)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["id"], r["v"]) for r in spark.read.parquet(out).collect()
        }

    assert drain() == {(i, 2 * i) for i in range(5)}
    # two more commits; the restarted stream appends ONLY the delta
    write_version(mk(5, 8), tdir, "append")
    write_version(mk(8, 10), tdir, "append")
    assert drain() == {(i, 2 * i) for i in range(10)}
    # idempotent restart with nothing new: no duplicates
    assert drain() == {(i, 2 * i) for i in range(10)}


def test_versioned_stream_source_refuses_merge_delta(spark, tmp_path):
    """A MERGE between offsets has no file-level delta — the stream
    must fail loud, not emit wrong rows."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from tms_etl_spark.sources.pyds import VersionedTableDataSource
    from tms_etl_spark.operators.versioned import (
        merge_version,
        write_version,
    )

    tdir = str(tmp_path / "vtabm")
    cp = str(tmp_path / "cpm")
    write_version(
        spark.range(0, 5).select("id", (F.col("id") * 2).alias("v")),
        tdir,
        "append",
    )
    spark.dataSource.register(VersionedTableDataSource)

    out = str(tmp_path / "outm")

    def drain():
        q = (
            spark.readStream.format("tms_versioned")
            .option("path", tdir)
            .load()
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
        spark.createDataFrame([(1, 99)], "id long, v long"),
        "id",
        "update",
    )
    with pytest.raises(StreamingQueryException, match="MERGE|delta"):
        drain()


def test_python_writer_append_keeps_tombstones(spark, tmp_path):
    """The pure-python manifest commit must carry deletes/dead_files
    forward on append — dropping them would resurrect deleted rows."""
    from pyspark.sql import functions as F

    from tms_etl_spark.sources.pyds import VersionedTableDataSource
    from tms_etl_spark.operators.versioned import (
        delete_rows,
        read_version,
        write_version,
    )

    tdir = str(tmp_path / "vkeep")
    write_version(
        spark.range(0, 6).select("id", (F.col("id") * 2).alias("v")),
        tdir,
        "append",
    )
    delete_rows(spark, tdir, spark.createDataFrame([(2,)], "id long"))
    spark.dataSource.register(VersionedTableDataSource)
    spark.createDataFrame([(100, 200)], "id long, v long").write.format(
        "tms_versioned"
    ).option("path", tdir).mode("append").save()
    ids = {r["id"] for r in read_version(spark, tdir).collect()}
    assert ids == {0, 1, 3, 4, 5, 100}  # 2 stays deleted


def test_versioned_stream_source_partitioned_table(spark, tmp_path):
    """The pure-Python streaming source on a HIVE-PARTITIONED table:
    the declared schema comes from the manifest's recorded schema,
    partition values are recovered from the file paths, and appends
    tail with the partition column populated."""
    from pyspark.sql import functions as F

    from tms_etl_spark.operators.versioned import write_version
    from tms_etl_spark.sources.pyds import VersionedTableDataSource

    tdir = str(tmp_path / "ptab")
    cp = str(tmp_path / "cp")
    out = str(tmp_path / "out")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        "id",
        F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias("seg"),
        (F.col("id") * 2.0).alias("v"),
    )
    write_version(mk(0, 6), tdir, "append", partition_by=["seg"])
    spark.dataSource.register(VersionedTableDataSource)

    def drain():
        q = (
            spark.readStream.format("tms_versioned")
            .option("path", tdir)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["id"], r["seg"], r["v"])
            for r in spark.read.parquet(out).collect()
        }

    want = {(i, f"s{i % 2}", 2.0 * i) for i in range(6)}
    assert drain() == want
    write_version(mk(6, 9), tdir, "append")  # spec inherited
    want |= {(i, f"s{i % 2}", 2.0 * i) for i in range(6, 9)}
    assert drain() == want


def test_python_writer_append_keeps_partition_spec(spark, tmp_path):
    """A pure-Python-writer append to a JVM-partitioned table lands a
    PLAIN dir but must carry the table properties — dropping them
    would silently unpartition the table."""
    from pyspark.sql import functions as F

    from tms_etl_spark.operators.versioned import (
        describe_detail,
        read_version,
        read_version_pruned,
        write_version,
    )
    from tms_etl_spark.sources.pyds import VersionedTableDataSource

    tdir = str(tmp_path / "ptab")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        "id",
        F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias("seg"),
    )
    write_version(mk(0, 6), tdir, "append", partition_by=["seg"])
    spark.dataSource.register(VersionedTableDataSource)
    mk(6, 8).write.format("tms_versioned").option("path", tdir).mode(
        "append"
    ).save()
    assert describe_detail(spark, tdir)["partition_by"] == ["seg"]
    assert read_version(spark, tdir).count() == 8
    # a JVM append after the python one still partitions (spec lives)
    write_version(mk(8, 10), tdir, "append")
    pruned = read_version_pruned(spark, tdir, "seg", "=", "s1")
    assert pruned.count() == 5


def test_python_writer_rowcounts_feed_metadata_count(spark, tmp_path):
    """Mixed JVM + pure-Python appends: metadata-only COUNT(*) stays
    exact because both writers record per-file row counts."""
    from tms_etl_spark.operators.versioned import (
        count_rows,
        count_rows_metadata,
        _manifest_path,
        _read_json,
        write_version,
    )
    from tms_etl_spark.sources.pyds import VersionedTableDataSource

    tdir = str(tmp_path / "vtab")
    write_version(spark.range(0, 7).toDF("id"), tdir, "append")
    spark.dataSource.register(VersionedTableDataSource)
    spark.range(7, 12).toDF("id").write.format("tms_versioned").option(
        "path", tdir
    ).mode("append").save()
    man = _read_json(spark, _manifest_path(tdir, 2))
    assert count_rows_metadata(man) == 12  # metadata path, no scan
    assert count_rows(spark, tdir) == 12


def test_python_writer_rejects_missing_partition_column(spark, tmp_path):
    """The pure-Python writer cannot derive generated partition
    columns; appending a batch that lacks a carried partition column
    must FAIL the commit (not land rows that schema-applied reads
    would silently null-fill), and a batch that materializes the
    column commits normally."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from py4j.protocol import Py4JJavaError

    from tms_etl_spark.operators.versioned import (
        current_version,
        read_version,
        write_version,
    )
    from tms_etl_spark.sources.pyds import VersionedTableDataSource

    spark.dataSource.register(VersionedTableDataSource)
    t = str(tmp_path / "vtp")
    base = spark.range(0, 6).select(
        F.col("id"),
        F.to_date(
            F.concat(F.lit("2024-0"), (F.col("id") % 2 + 1).cast("string"), F.lit("-01"))
        ).alias("ts"),
    )
    write_version(
        base.withColumn("p_month", F.date_format("ts", "yyyy-MM")),
        t,
        "append",
        partition_by=["p_month"],
        partition_exprs={"p_month": "date_format(ts, 'yyyy-MM')"},
    )
    assert current_version(spark, t) == 1

    bad = spark.range(6, 8).select(
        F.col("id"), F.to_date(F.lit("2024-03-01")).alias("ts")
    )
    with _pytest.raises(Exception) as ei:
        bad.write.format("tms_versioned").option("path", t).mode(
            "append"
        ).save()
    assert "partition column" in str(ei.value)
    assert current_version(spark, t) == 1  # nothing committed

    good = bad.withColumn("p_month", F.date_format("ts", "yyyy-MM"))
    good.write.format("tms_versioned").option("path", t).mode(
        "append"
    ).save()
    assert current_version(spark, t) == 2
    got = read_version(spark, t)
    assert got.count() == 8
    assert (
        got.where(F.col("p_month").isNull()).count() == 0
    )  # no silent NULL partition values


def test_python_writer_refuses_constrained_tables(spark, tmp_path):
    """The pure-Python writer has no expression engine — committing
    onto a table with CHECK constraints would either land unvalidated
    rows or drop the property, so it must refuse outright; the JVM
    path remains the constrained write front door."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from tms_etl_spark.operators.versioned import (
        current_version,
        write_version,
    )
    from tms_etl_spark.sources.pyds import VersionedTableDataSource

    spark.dataSource.register(VersionedTableDataSource)
    t = str(tmp_path / "vtc")
    write_version(
        spark.range(0, 4).select(F.col("id")),
        t,
        constraints={"id_nonneg": "id >= 0"},
    )
    batch = spark.range(4, 6).select(F.col("id"))
    with _pytest.raises(Exception) as ei:
        batch.write.format("tms_versioned").option("path", t).mode(
            "append"
        ).save()
    assert "CHECK constraints" in str(ei.value)
    assert current_version(spark, t) == 1  # nothing committed


def test_python_writer_refuses_column_mapped_tables(spark, tmp_path):
    """The Data Source writes LOGICAL names; a renamed column's files
    carry its PHYSICAL name, so an append onto a column-mapped table
    would land rows every read null-fills. The commit refuses and the
    table stays at its version."""
    import pytest as _pytest

    from tms_etl_spark.operators.versioned import (
        current_version,
        read_version,
        rename_column,
        write_version,
    )
    from tms_etl_spark.sources.pyds import VersionedTableDataSource

    spark.dataSource.register(VersionedTableDataSource)
    t = str(tmp_path / "vtr")
    write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), t
    )
    rename_column(spark, t, "v", "w")
    with _pytest.raises(Exception) as ei:
        spark.createDataFrame([(3, "c")], "k long, w string").write.format(
            "tms_versioned"
        ).option("path", t).mode("append").save()
    assert "column-mapped" in str(ei.value)
    assert current_version(spark, t) == 2
    assert sorted(tuple(r) for r in read_version(spark, t).collect()) == [
        (1, "a"),
        (2, "b"),
    ]


def test_python_writer_append_keeps_change_feed(spark, tmp_path):
    """A Data Source append onto a change-feed table keeps the feed
    on: the appended rows serve as inserts, and a later DELETE still
    records its sidecar."""
    from tms_etl_spark.operators.versioned import (
        _manifest_path,
        _read_json,
        delete_rows,
        enable_change_feed,
        read_version_cdf,
        write_version,
    )
    from tms_etl_spark.sources.pyds import VersionedTableDataSource

    spark.dataSource.register(VersionedTableDataSource)
    t = str(tmp_path / "vtcdf")
    write_version(spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"), t)
    v_on = enable_change_feed(spark, t)
    spark.createDataFrame([(3, 30)], "id long, v long").write.format(
        "tms_versioned"
    ).option("path", t).mode("append").save()
    assert _read_json(spark, _manifest_path(t, v_on + 1)).get("change_feed")
    delete_rows(spark, t, spark.createDataFrame([(1,)], "id long"))
    got = sorted(
        (r["id"], r["v"], r["_change_type"], r["_commit_version"])
        for r in read_version_cdf(spark, t, v_on).collect()
    )
    assert got == [(1, 10, "delete", v_on + 2), (3, 30, "insert", v_on + 1)]


def test_python_writer_stamps_commit_time(spark, tmp_path):
    """Data Source commits carry ``committed_at`` like every other
    commit, so timestamp time travel resolves them."""
    import time

    from tms_etl_spark.operators.versioned import (
        _manifest_path,
        _read_json,
        version_asof,
    )
    from tms_etl_spark.sources.pyds import VersionedTableDataSource

    spark.dataSource.register(VersionedTableDataSource)
    t = str(tmp_path / "vtts")
    before = time.time()
    spark.range(3).write.format("tms_versioned").option("path", t).mode(
        "append"
    ).save()
    at = _read_json(spark, _manifest_path(t, 1)).get("committed_at")
    assert at is not None and before <= at <= time.time()
    assert version_asof(spark, t, at) == 1


def test_python_writer_lost_race_raises_concurrent_write_error(
    spark, tmp_path, monkeypatch
):
    """A writer that planned against v1 while another committed v2
    loses the race with the shared ConcurrentWriteError — never a
    bare error, never a clobbered manifest."""
    import pytest as _pytest
    from pyspark.sql import Row

    from tms_etl_spark.operators import versioned as vt
    from tms_etl_spark.sources.pyds import VersionedTableWriter

    t = str(tmp_path / "vtrace")
    vt.write_version(spark.range(3), t)
    w = VersionedTableWriter(spark.range(1).schema, {"path": t}, False)
    msg = w.write(iter([Row(id=7)]))
    vt.write_version(spark.range(3, 5), t, "append")  # the winner: v2
    won = vt._read_json(spark, vt._manifest_path(t, 2))
    monkeypatch.setattr(vt, "current_version", lambda spark, table_dir: 1)
    with _pytest.raises(vt.ConcurrentWriteError):
        w.commit([msg])
    monkeypatch.undo()
    assert vt.current_version(spark, t) == 2
    assert vt._read_json(spark, vt._manifest_path(t, 2)) == won
