"""CLI front door: subcommand routing, exit codes, and the
streaming-commit integration with the versioned-table layer."""

from __future__ import annotations

import pytest

from tms_etl_spark.__main__ import main


def test_list_filters(capsys):
    assert main(["list", "dedup_"]) == 0
    out = capsys.readouterr().out
    assert "dedup_exact\toracle" in out
    assert "q1_pricing_summary" not in out


def test_unknown_query_exit_code(spark):
    assert main(["run", "no_such_query"]) == 2


def test_run_and_explain(spark, sf_dir, capsys):
    assert main(["run", "agg_mode_per_key", "--sf-dir", sf_dir, "--limit", "3"]) == 0
    out = capsys.readouterr().out
    assert "modal_type" in out
    assert main(["explain", "sort_limit_topk", "--sf-dir", sf_dir]) == 0
    out = capsys.readouterr().out
    assert "TakeOrderedAndProject" in out


def test_sql_subcommand(spark, sf_dir, capsys):
    assert (
        main(
            [
                "sql",
                "SELECT COUNT(*) AS n FROM region",
                "--sf-dir",
                sf_dir,
            ]
        )
        == 0
    )
    assert "n" in capsys.readouterr().out


def test_stream_commits_versions(spark, tmp_path):
    """foreachBatch + write_version: every micro-batch becomes one
    atomic table version — streaming ingestion gets time travel and
    rollback for free."""
    from pyspark.sql import functions as F

    from tms_etl_spark.operators.versioned import (
        history,
        read_version,
        write_version,
    )

    src = str(tmp_path / "in")
    tdir = str(tmp_path / "vtable")
    ck = str(tmp_path / "ck")
    spark.range(0, 4).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).write.json(f"{src}/batch1")

    stream = (
        spark.readStream.schema("id long, v long")
        .json(f"{src}/*")
        .writeStream.foreachBatch(
            # txn_id = batch id: a micro-batch retried after its
            # version committed but before the checkpoint advanced
            # becomes a no-op instead of a duplicate append
            lambda bdf, bid: write_version(
                bdf, tdir, "append", txn_id=f"batch-{bid}"
            )
        )
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
    )
    q = stream.start()
    q.awaitTermination(120)
    assert read_version(spark, tdir).count() == 4

    spark.range(10, 13).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).write.json(f"{src}/batch2")
    q = stream.start()
    q.awaitTermination(120)
    assert read_version(spark, tdir).count() == 7
    assert [h.op for h in history(spark, tdir)] == ["append", "append"]
    # time travel to the first micro-batch commit
    assert read_version(spark, tdir, 1).count() == 4


def test_cli_table_subcommands(spark, tmp_path, capsys):
    """table history/show/rollback/optimize/expire/changes drive the
    versioned layer end-to-end from the CLI."""
    from pyspark.sql import functions as F

    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import write_version

    tdir = str(tmp_path / "t")
    for lo in (0, 5):
        write_version(
            spark.range(lo, lo + 5).select(
                F.col("id"), (F.col("id") * 2).alias("v")
            ),
            tdir,
            "append",
        )
    assert main(["table", "history", tdir]) == 0
    out = capsys.readouterr().out
    assert "v000001" in out and "v000002" in out
    assert main(["table", "show", tdir, "--version", "1", "--limit", "3"]) == 0
    assert main(["table", "changes", tdir, "--from", "1"]) == 0
    out = capsys.readouterr().out
    assert "5" in out  # delta rows shown
    assert main(["table", "rollback", tdir, "--to", "1"]) == 0
    assert "committed v3" in capsys.readouterr().out
    assert main(["table", "optimize", tdir, "--cluster-by", "id"]) == 0
    assert main(["table", "expire", tdir, "--keep-last", "1"]) == 0


def test_cli_table_delete(spark, tmp_path):
    """`table delete` commits a deletion vector from the CLI."""
    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import (
        read_version,
        write_version,
    )
    from pyspark.sql import functions as F

    tdir = str(tmp_path / "clidel")
    write_version(
        spark.range(0, 6).select("id", (F.col("id") * 2).alias("v")),
        tdir,
        "append",
    )
    rc = main(["table", "delete", tdir, "--key", "id", "--values", "1,4"])
    assert rc == 0
    assert {r["id"] for r in read_version(spark, tdir).collect()} == {
        0, 2, 3, 5,
    }


def test_cli_table_merge_and_compact(spark, tmp_path, capsys):
    """`table merge` upserts a parquet source; `table compact` packs
    the debt and purges the dead files."""
    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import (
        read_version,
        write_version,
    )
    from pyspark.sql import functions as F

    tdir = str(tmp_path / "climerge")
    write_version(
        spark.range(0, 6).select("id", (F.col("id") * 2).alias("v")),
        tdir,
        "append",
    )
    src = str(tmp_path / "src")
    spark.createDataFrame([(2, 99), (10, 100)], "id long, v long").write.parquet(src)
    rc = main(["table", "merge", tdir, "--source", src, "--key", "id"])
    assert rc == 0
    assert "committed v2" in capsys.readouterr().out
    rows = {r["id"]: r["v"] for r in read_version(spark, tdir).collect()}
    assert rows[2] == 99 and rows[10] == 100 and len(rows) == 7
    rc = main(["table", "compact", tdir, "--min-file-mb", "64"])
    assert rc == 0
    assert "committed v3" in capsys.readouterr().out
    assert read_version(spark, tdir).count() == 7


def test_cli_mv_refresh(spark, tmp_path, capsys):
    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import (
        read_version,
        write_version,
    )
    from pyspark.sql import functions as F

    tdir = str(tmp_path / "base")
    mv = str(tmp_path / "view")
    write_version(
        spark.range(0, 40).select(
            (F.col("id") % 4).alias("g"), (F.col("id") * 1.0).alias("x")
        ),
        tdir,
        "append",
    )
    rc = main(
        ["table", "mv-refresh", tdir, "--view", mv,
         "--group-by", "g", "--sum", "x"]
    )
    assert rc == 0
    assert "reflects base v1" in capsys.readouterr().out
    assert read_version(spark, mv).count() == 4


def test_cli_index_and_point(spark, tmp_path, capsys):
    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import write_version
    from pyspark.sql import functions as F

    tdir = str(tmp_path / "bidx")
    write_version(
        spark.range(0, 500).select("id", (F.col("id") * 7).alias("v"))
        .repartition(4, "id"),
        tdir,
        "append",
    )
    assert main(["table", "index", tdir, "--col", "id"]) == 0
    assert "wrote" in capsys.readouterr().out
    assert main(["table", "point", tdir, "--col", "id", "--value", "42"]) == 0
    assert "294" in capsys.readouterr().out


def test_cli_table_create(spark, tmp_path, capsys):
    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import read_version

    src = str(tmp_path / "src")
    spark.range(0, 25).write.parquet(src)
    tdir = str(tmp_path / "created")
    assert main(["table", "create", tdir, "--from", src]) == 0
    assert "committed v1" in capsys.readouterr().out
    assert read_version(spark, tdir).count() == 25


def test_cli_table_create_partitioned_and_evolve(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import (
        read_version,
        read_version_pruned,
    )

    src = str(tmp_path / "src")
    spark.range(0, 20).withColumn(
        "seg", F.when(F.col("id") % 2 == 0, "even").otherwise("odd")
    ).write.parquet(src)
    tdir = str(tmp_path / "ptab")
    assert (
        main(
            ["table", "create", tdir, "--from", src,
             "--partition-by", "seg"]
        )
        == 0
    )
    pruned = read_version_pruned(spark, tdir, "seg", "=", "even")
    assert pruned.count() == 10
    assert all("seg=even" in f for f in pruned.inputFiles())
    # append with an extra column: refused plain, allowed with
    # --merge-schema (schema evolution), spec inherited
    src2 = str(tmp_path / "src2")
    spark.range(100, 105).withColumn("seg", F.lit("odd")).withColumn(
        "score", F.col("id") * 1.0
    ).write.parquet(src2)
    assert main(["table", "create", tdir, "--from", src2]) == 1
    assert (
        main(["table", "create", tdir, "--from", src2, "--merge-schema"])
        == 0
    )
    got = read_version(spark, tdir)
    assert got.columns == ["id", "seg", "score"]
    assert got.where(F.col("score").isNull()).count() == 20


def test_pipeline_demo_end_to_end(spark, tmp_path, capsys):
    """The medallion demo (bronze -> checked silver -> dedup gold ->
    MV -> bloom point read) must run clean end to end."""
    import json
    import sys

    sys.path.insert(0, "scripts")
    import pipeline_demo

    old_argv = sys.argv
    sys.argv = ["pipeline_demo.py", str(tmp_path / "lake")]
    try:
        assert pipeline_demo.main() == 0
    finally:
        sys.argv = old_argv
    stages = [
        json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
        if line.startswith("{")
    ]
    by = {s["stage"]: s for s in stages}
    assert by["silver"]["quarantined"] > 0
    assert by["gold"]["rows"] < by["silver"]["rows"]  # dedup dropped
    assert by["index"]["files_scanned"] <= by["index"]["files_total"]
    assert by["search"]["hits"] > 0
    assert by["search"]["files_scanned"] <= by["search"]["files_total"]
    assert by["replica"]["converged"] is True
    assert by["audit"]["asof_now_rows"] == by["gold"]["post_merge"]
    assert "done" in by


def test_cli_text_index_and_search(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import write_version

    tdir = str(tmp_path / "tidx")
    write_version(
        spark.range(0, 30).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("word"), (F.col("id") % 3).cast("string"))
            .alias("text"),
        ).repartition(3),
        tdir,
        "append",
    )
    assert main(["table", "text-index", tdir, "--col", "text"]) == 0
    assert "wrote" in capsys.readouterr().out
    assert main(
        ["table", "search", tdir, "--col", "text", "--token", "word2",
         "--limit", "30"]
    ) == 0
    out = capsys.readouterr().out
    assert out.count("word2") == 10
    # incremental extension after an append
    write_version(
        spark.range(30, 35).select(
            F.col("id").alias("doc_id"), F.lit("fresh token").alias("text")
        ),
        tdir,
        "append",
    )
    assert main(
        ["table", "text-index", tdir, "--col", "text", "--extend"]
    ) == 0
    assert main(["table", "index", tdir, "--col", "doc_id", "--extend"]) == 0


def test_cli_show_asof_and_repair(spark, tmp_path, capsys):
    import pathlib
    import time

    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import write_version

    tdir = str(tmp_path / "asof")
    write_version(spark.range(0, 3).selectExpr("id"), tdir, "append")
    t1 = time.time()
    time.sleep(0.05)
    write_version(spark.range(3, 9).selectExpr("id"), tdir, "append")
    assert main(
        ["table", "show", tdir, "--asof", str(t1), "--limit", "20"]
    ) == 0
    out = capsys.readouterr().out
    assert "resolved to v1" in out
    (pathlib.Path(tdir) / "_manifests" / "v000009.json.lock").touch()
    assert main(
        ["table", "repair", tdir, "--stale-lock-seconds", "0"]
    ) == 0
    assert "removed 1 stale locks" in capsys.readouterr().out


def test_cli_sql_vtable(spark, tmp_path, capsys):
    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import write_version

    tdir = str(tmp_path / "vsql")
    write_version(spark.range(0, 7).selectExpr("id"), tdir, "append")
    assert main(
        ["sql", "SELECT COUNT(*) AS n FROM myt", "--vtable", f"myt={tdir}"]
    ) == 0
    assert "7" in capsys.readouterr().out


def test_cli_table_detail(spark, tmp_path, capsys):
    import json

    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.bloomindex import build_bloom_index
    from tms_etl_spark.operators.versioned import (
        delete_rows,
        write_version,
    )

    tdir = str(tmp_path / "det")
    write_version(
        spark.range(0, 50).selectExpr("id", "id * 2 AS v"), tdir, "append"
    )
    delete_rows(spark, tdir, spark.createDataFrame([(3,)], "id long"))
    build_bloom_index(spark, tdir, "id")
    assert main(["table", "detail", tdir]) == 0
    d = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert d["version"] == 2 and d["n_live_files"] >= 1
    assert d["live_bytes"] > 0 and d["committed_at"] is not None
    assert d["n_delete_vectors"] == 1
    assert d["zonemap_columns"] == ["id", "v"]
    assert d["indexes"] == ["id"]


def test_cli_mv_multi_agg_and_vacuum(spark, tmp_path, capsys):
    import json

    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.textindex import (
        build_text_index,
        extend_text_index,
    )
    from tms_etl_spark.operators.versioned import (
        read_version,
        write_version,
    )
    from pyspark.sql import functions as F

    tdir = str(tmp_path / "base")
    mv = str(tmp_path / "view")
    write_version(
        spark.range(0, 60).select(
            (F.col("id") % 3).alias("g"),
            (F.col("id") * 1.5).alias("x"),
            (F.col("id") % 7).alias("u"),
            F.concat(F.lit("w"), (F.col("id") % 4).cast("string"))
            .alias("text"),
        ),
        tdir,
        "append",
    )
    rc = main(
        ["table", "mv-refresh", tdir, "--view", mv, "--group-by", "g",
         "--sum", "x", "--minmax", "x", "--ndv", "u"]
    )
    assert rc == 0 and "reflects base v1" in capsys.readouterr().out
    row = (
        read_version(spark, mv)
        .where(F.col("g") == 0)
        .select(
            "n_rows", "sum_x", "min_x", "max_x",
            F.hll_sketch_estimate("hll_u").alias("ndv"),
        )
        .head()
    )
    assert row["n_rows"] == 20 and row["min_x"] == 0.0
    assert abs(row["ndv"] - 7) <= 1
    # sidecar GC from the CLI
    build_text_index(spark, tdir, "text")
    write_version(
        spark.range(60, 70).select(
            (F.col("id") % 3).alias("g"), (F.col("id") * 1.5).alias("x"),
            (F.col("id") % 7).alias("u"),
            F.concat(F.lit("w"), (F.col("id") % 4).cast("string"))
            .alias("text"),
        ),
        tdir,
        "append",
    )
    extend_text_index(spark, tdir, "text")
    rc = main(["table", "vacuum-indexes", tdir, "--keep-last", "1"])
    assert rc == 0
    assert "removed 1 index sidecar versions" in capsys.readouterr().out


def test_cli_table_analyze_and_maintain(spark, tmp_path, capsys):
    import json

    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import write_version

    tdir = str(tmp_path / "t")
    for i in range(3):  # small-file debt
        write_version(
            spark.range(i * 10, i * 10 + 10).toDF("id"), tdir, "append"
        )
    assert main(["table", "analyze", tdir, "--cols", "id"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_rows"] == 30
    assert stats["columns"]["id"]["min"] == 0
    assert main(["table", "maintain", tdir, "--min-file-mb", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["compacted"] is True and out["version"] == 4


def test_cli_table_scan_where(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import write_version

    tdir = str(tmp_path / "scanw")
    write_version(
        spark.range(0, 100).select(
            "id",
            (F.col("id") % 5).cast("string").alias("band"),
            (F.col("id") * 3).alias("v"),
        ),
        tdir,
        "append",
        partition_by=["band"],
    )
    assert main(
        ["table", "scan", tdir, "--where",
         "band = '2' AND v >= 200 AND (id < 80 OR id > 90)", "--limit", "50"]
    ) == 0
    out = capsys.readouterr().out
    # band 2, v>=200 (id>=67 -> 67..79 step 5 plus id>90: 97), id<80 or >90
    assert "67" in out and "72" in out and "77" in out and "97" in out
    assert "82" not in out.split()  # filtered by the OR residual


def test_cli_table_scan_asof(spark, tmp_path, capsys):
    import time

    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import write_version

    tdir = str(tmp_path / "scanasof")
    write_version(spark.range(0, 5).select("id"), tdir, "append")
    t1 = time.time()
    write_version(spark.range(100, 105).select("id"), tdir, "append")
    assert main(
        ["table", "scan", tdir, "--where", "id >= 0", "--asof", str(t1)]
    ) == 0
    out = capsys.readouterr().out
    assert "4" in out and "103" not in out  # v1 snapshot only
    assert main(
        ["table", "scan", tdir, "--where", "id >= 0",
         "--version", "1", "--asof", str(t1)]
    ) == 2  # mutually exclusive


def test_cli_table_scan_asof_compact_iso_date(spark, tmp_path, capsys):
    """ADVICE repro: '20990101' is a compact ISO date (year 2099 —
    resolves the current snapshot), not ~epoch-1970 seconds (which
    would error with 'no version committed at or before'). ISO parses
    first; a non-ISO numeric still works as epoch seconds."""
    import time

    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import write_version

    tdir = str(tmp_path / "scanasofiso")
    write_version(spark.range(0, 3).select("id"), tdir, "append")
    t1 = time.time()
    write_version(spark.range(100, 103).select("id"), tdir, "append")
    assert main(
        ["table", "scan", tdir, "--where", "id >= 0",
         "--asof", "20990101"]
    ) == 0
    out = capsys.readouterr().out
    assert "101" in out  # resolved to the CURRENT (2099 ≥ now) snapshot
    # ten-digit epoch strings are not ISO and still parse as seconds
    assert main(
        ["table", "scan", tdir, "--where", "id >= 0",
         "--asof", f"{t1:.3f}"]
    ) == 0
    out = capsys.readouterr().out
    assert "2" in out and "101" not in out  # v1 snapshot only


def test_cli_optimize_where(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    from tms_etl_spark.__main__ import main
    from tms_etl_spark.operators.versioned import read_version, write_version

    tdir = str(tmp_path / "cliow")
    for lo in (0, 30):
        df = spark.range(lo, lo + 30).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("string").alias("seg"),
        )
        write_version(df, tdir, "append", partition_by=["seg"])
    assert main(
        ["table", "optimize-where", tdir, "--col", "seg", "--value", "1"]
    ) == 0
    assert "version 3" in capsys.readouterr().out
    assert read_version(spark, tdir).count() == 60


def test_cli_change_feed_and_sync_where(spark, tmp_path, capsys):
    """r12 CLI surface: `table set-change-feed`, `table cdf`,
    `table merge --sync-where` (partial sync), `--sync-update-set`
    (soft delete), and `--commit-retries` passthrough."""
    from tms_etl_spark.operators.versioned import (
        read_version,
        write_version,
    )

    tdir = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "k int, v int"
        ).coalesce(1),
        tdir,
        "append",
    )
    assert main(["table", "set-change-feed", tdir]) == 0
    assert "change feed on" in capsys.readouterr().out

    src = str(tmp_path / "src")
    spark.createDataFrame([(1, 111)], "k int, v int").write.parquet(src)
    assert (
        main(
            [
                "table", "merge", tdir, "--source", src, "--key", "k",
                "--sync-where", "target.v >= 30",
                "--commit-retries", "2",
            ]
        )
        == 0
    )
    got = {r["k"]: r["v"] for r in read_version(spark, tdir).collect()}
    assert got == {1: 111, 2: 20}  # k=3 stale-deleted, k=2 kept

    assert main(["table", "cdf", tdir, "--from", "2"]) == 0
    out = capsys.readouterr().out
    assert "update_post" in out and "delete" in out

    # soft delete: unmatched rows get marked instead of removed
    assert (
        main(
            [
                "table", "merge", tdir, "--source", src, "--key", "k",
                "--sync-update-set", "v=-1",
            ]
        )
        == 0
    )
    got = {r["k"]: r["v"] for r in read_version(spark, tdir).collect()}
    assert got == {1: 111, 2: -1}

    # feed off: later DML ranges refuse through the CLI too
    assert main(["table", "set-change-feed", tdir, "--off"]) == 0
    assert (
        main(
            ["table", "merge", tdir, "--source", src, "--key", "k"]
        )
        == 0
    )
    assert main(["table", "cdf", tdir, "--from", "4"]) == 2
    assert "feed was OFF" in capsys.readouterr().err


def test_cli_sync_update_set_top_level_split(spark, tmp_path):
    """Review regression (r12): --sync-update-set splits on TOP-LEVEL
    commas only — an expression like round(v,0)+length(',') is one
    entry, not three."""
    from tms_etl_spark.operators.sqldml import _parse_assignments
    from tms_etl_spark.operators.versioned import (
        read_version,
        write_version,
    )

    assert _parse_assignments(spark, "a=round(v,2),b='x,y'") == {
        "a": "round(v,2)",
        "b": "'x,y'",
    }
    tdir = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0)], "k int, v double"
        ).coalesce(1),
        tdir,
        "append",
    )
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, 11.5)], "k int, v double").write.parquet(src)
    assert (
        main(
            [
                "table", "merge", tdir, "--source", src, "--key", "k",
                "--sync-update-set", "v=round(v + 0.4, 0)",
            ]
        )
        == 0
    )
    got = {r["k"]: r["v"] for r in read_version(spark, tdir).collect()}
    assert got == {1: 11.5, 2: 20.0}
