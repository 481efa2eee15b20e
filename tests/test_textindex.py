"""Inverted token index on versioned tables: exactness vs the plain
scan, file skipping, unindexed-file fallback, delete-vector policy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tms_etl_spark.operators.textindex import (
    build_text_index,
    search_token,
    tokens_of,
)
from tms_etl_spark.operators.versioned import write_version


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "docs")


def _docs(spark, lo, hi, word):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(f"Alpha {word} beta-"), F.col("id").cast("string")
        ).alias("text"),
    )


def test_search_matches_plain_scan_and_skips_files(spark, tdir):
    # three single-file batches; only one contains 'needle'
    write_version(_docs(spark, 0, 50, "straw").repartition(1), tdir, "append")
    write_version(_docs(spark, 50, 60, "needle").repartition(1), tdir, "append")
    write_version(_docs(spark, 60, 90, "hay").repartition(1), tdir, "append")
    build_text_index(spark, tdir, "text")

    got = search_token(spark, tdir, "text", "needle")
    assert len(got.inputFiles()) == 1  # two token-free files skipped
    assert {r["doc_id"] for r in got.collect()} == set(range(50, 60))
    # tokenizer contract: case-insensitive, punctuation-delimited
    up = search_token(spark, tdir, "text", "ALPHA")
    assert up.count() == 90
    assert search_token(spark, tdir, "text", "beta").count() == 90
    assert search_token(spark, tdir, "text", "bet").count() == 0


def test_unindexed_late_files_scan_conservatively(spark, tdir):
    write_version(_docs(spark, 0, 10, "old").repartition(1), tdir, "append")
    build_text_index(spark, tdir, "text")
    # commit AFTER the build: not in the sidecar, must still be found
    write_version(_docs(spark, 10, 15, "fresh").repartition(1), tdir, "append")
    got = search_token(spark, tdir, "text", "fresh")
    assert {r["doc_id"] for r in got.collect()} == {10, 11, 12, 13, 14}


def test_unpublished_sidecar_is_not_trusted(spark, tdir):
    """A sidecar without its _SUCCESS marker — a build still writing,
    or one torn by a crash — is not trusted: the search scans with the
    residual predicate and stays exact even though the part files
    present lack the token's postings."""
    import glob
    import os

    write_version(_docs(spark, 0, 50, "straw").repartition(1), tdir, "append")
    write_version(_docs(spark, 50, 60, "needle").repartition(1), tdir, "append")
    idx = build_text_index(spark, tdir, "text")
    os.remove(os.path.join(idx, "_SUCCESS"))
    for part in glob.glob(os.path.join(idx, "part-*.parquet")):
        if spark.read.parquet(part).where(F.col("token") == "needle").count():
            os.remove(part)
    got = search_token(spark, tdir, "text", "needle")
    assert {r["doc_id"] for r in got.collect()} == set(range(50, 60))


def test_failed_sidecar_write_releases_pins(spark, tdir, monkeypatch):
    """build/extend pin the postings for the range-partitioned write;
    a write that throws must still release that checkpoint."""
    from pyspark.sql.readwriter import DataFrameWriter

    from tms_etl_spark.operators.textindex import extend_text_index

    write_version(_docs(spark, 0, 20, "a").repartition(1), tdir, "append")
    build_text_index(spark, tdir, "text")
    write_version(_docs(spark, 20, 30, "b").repartition(1), tdir, "append")
    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())

    def boom(self, *a, **k):
        raise OSError("sidecar write failed")

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    for fn in (build_text_index, extend_text_index):
        with pytest.raises(OSError, match="sidecar write failed"):
            fn(spark, tdir, "text")
        assert len(sc._jsc.getPersistentRDDs()) == before


def test_no_index_falls_back_to_plain_scan(spark, tdir):
    write_version(_docs(spark, 0, 10, "solo"), tdir, "append")
    assert search_token(spark, tdir, "text", "solo").count() == 10


def test_deletes_fall_back_to_subtracted_scan(spark, tdir):
    from tms_etl_spark.operators.versioned import delete_rows

    write_version(_docs(spark, 0, 20, "word").repartition(2), tdir, "append")
    build_text_index(spark, tdir, "text")
    delete_rows(
        spark, tdir, spark.range(0, 20, 2).select(F.col("id").alias("doc_id"))
    )
    got = search_token(spark, tdir, "text", "word")
    assert {r["doc_id"] for r in got.collect()} == set(range(1, 20, 2))


def test_tokens_of_matches_duckdb_split(spark):
    """The tokenizer contract both engines must share (the SQL-oracle
    side uses string_split_regex(lower(x), '[^a-z0-9]+'))."""
    import duckdb

    vals = ["A b-c", "x2,y;Z", "", "--", "Tail9 "]
    sp = (
        spark.createDataFrame([(v,) for v in vals], "s string")
        .select(tokens_of("s").alias("t"))
        .collect()
    )
    dk = duckdb.sql(
        "SELECT string_split_regex(lower(s), '[^a-z0-9]+') FROM "
        "(SELECT unnest(?::VARCHAR[]) AS s)",
        params=[vals],
    ).fetchall()
    assert [r["t"] for r in sp] == [list(r[0]) for r in dk]


def test_extend_index_incremental_matches_rebuild(spark, tdir):
    """extend_text_index carries still-live files' postings forward
    and scans only the unindexed batches; the result must be
    row-identical to a from-scratch rebuild, and searches at the new
    version must be index-routed (no conservative scan)."""
    from tms_etl_spark.operators.textindex import extend_text_index

    write_version(_docs(spark, 0, 40, "old").repartition(2), tdir, "append")
    build_text_index(spark, tdir, "text")
    write_version(_docs(spark, 40, 50, "shiny").repartition(1), tdir, "append")
    out = extend_text_index(spark, tdir, "text")

    got = search_token(spark, tdir, "text", "shiny")
    assert len(got.inputFiles()) == 1  # routed, not conservative
    assert {r["doc_id"] for r in got.collect()} == set(range(40, 50))

    rebuilt = build_text_index(spark, tdir, "text")
    a = {
        (r["file"], r["token"])
        for r in spark.read.parquet(out).collect()
    }
    b = {
        (r["file"], r["token"])
        for r in spark.read.parquet(rebuilt).collect()
    }
    assert a == b


def test_extend_without_prior_builds_full(spark, tdir):
    from tms_etl_spark.operators.textindex import extend_text_index

    write_version(_docs(spark, 0, 10, "solo").repartition(1), tdir, "append")
    extend_text_index(spark, tdir, "text")
    assert search_token(spark, tdir, "text", "solo").count() == 10


def test_extend_after_compaction_drops_dead_postings(spark, tdir):
    from tms_etl_spark.operators.textindex import extend_text_index
    from tms_etl_spark.operators.versioned import optimize_version

    write_version(_docs(spark, 0, 10, "aa").repartition(1), tdir, "append")
    write_version(_docs(spark, 10, 20, "bb").repartition(1), tdir, "append")
    build_text_index(spark, tdir, "text")
    optimize_version(spark, tdir)
    out = extend_text_index(spark, tdir, "text")
    files = {
        r["file"]
        for r in spark.read.parquet(out).select("file").distinct().collect()
    }
    # postings' file set == the version's live files: the compacted
    # output is indexed, the dead batches' postings dropped
    from tms_etl_spark.operators.versioned import (
        _live_rel_files,
        _manifest_path,
        _read_json,
        current_version,
    )

    man = _read_json(
        spark, _manifest_path(tdir, current_version(spark, tdir))
    )
    live = {
        rel
        for rels in _live_rel_files(spark, tdir, man).values()
        for rel in rels
    }
    assert files == live
    got = search_token(spark, tdir, "text", "aa")
    assert {r["doc_id"] for r in got.collect()} == set(range(0, 10))


def test_extend_model_based_matches_rebuild_across_ops(spark, tdir):
    """Seeded random mixed mutations (append / merge / delete /
    compact); after every step `extend_text_index` must produce
    postings row-identical to a from-scratch rebuild, and a routed
    search must equal the plain filtered scan."""
    import random

    from pyspark.sql import functions as F

    from tms_etl_spark.operators.textindex import (
        build_text_index,
        extend_text_index,
    )
    from tms_etl_spark.operators.versioned import (
        delete_rows,
        merge_version,
        optimize_version,
        read_version,
        write_version,
    )

    rng = random.Random(99)
    words = ["alpha", "beta", "gamma", "delta"]

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("w"), (F.col("id") % 4).cast("string"),
                F.lit(" "), F.lit(rng.choice(words)),
            ).alias("text"),
        )

    write_version(mk(0, 30).repartition(2), tdir, "append")
    build_text_index(spark, tdir, "text")
    next_id = 1000
    for step in range(6):
        op = rng.choice(["append", "merge", "delete", "compact"])
        if op == "append":
            write_version(mk(next_id, next_id + 10), tdir, "append")
            next_id += 10
        elif op == "merge":
            live = [r["doc_id"] for r in read_version(spark, tdir).collect()]
            picks = rng.sample(live, min(3, len(live)))
            src = spark.createDataFrame(
                [(i, f"merged {rng.choice(words)}") for i in picks],
                "doc_id long, text string",
            )
            merge_version(spark, tdir, src, "doc_id", "update")
        elif op == "delete":
            live = [r["doc_id"] for r in read_version(spark, tdir).collect()]
            picks = rng.sample(live, min(2, len(live)))
            delete_rows(
                spark,
                tdir,
                spark.createDataFrame([(i,) for i in picks], "doc_id long"),
            )
        else:
            optimize_version(spark, tdir)
        out = extend_text_index(spark, tdir, "text")
        rebuilt_rows = {
            (r["file"], r["token"])
            for r in spark.read.parquet(
                build_text_index(spark, tdir, "text")
            ).collect()
        }
        # NOTE: build overwrote the same sidecar path — re-extend to
        # restore the incremental artifact before comparing searches
        ext_rows = {
            (r["file"], r["token"])
            for r in spark.read.parquet(out).collect()
        }
        assert ext_rows == rebuilt_rows, (step, op)
        w = rng.choice(words)
        routed = {
            r["doc_id"]
            for r in search_token(spark, tdir, "text", w).collect()
        }
        plain = {
            r["doc_id"]
            for r in read_version(spark, tdir)
            .where(F.array_contains(tokens_of("text"), w))
            .collect()
        }
        assert routed == plain, (step, op, w)


def _fed_rows(monkeypatch, module, facts_name):
    """Spy on an index kind's per-file facts function: the list it
    returns collects, per call, the ``(file, value)`` rows the facts
    were computed from."""
    facts = getattr(module, facts_name)
    fed = []

    def _spy(values):
        fed.append(values.select("file", "value").collect())
        return facts(values)

    monkeypatch.setattr(module, facts_name, _spy)
    return fed


def test_extend_is_incremental_not_full_rebuild(spark, tdir, monkeypatch):
    """Pin the INCREMENTAL contract itself, not just output equality:
    with a prior sidecar on disk, extend_text_index must find it and
    tokenize ONLY the appended file, carrying the rest. A regression
    in the prior-generation detection (e.g. matching r'-tokens$'
    against file paths, which never ends a path) silently turns every
    extend into an O(table) rebuild with the same output rows."""
    import tms_etl_spark.operators.textindex as ti

    write_version(_docs(spark, 0, 30, "old").repartition(1), tdir, "append")
    build_text_index(spark, tdir, "text")
    write_version(_docs(spark, 30, 40, "novel").repartition(1), tdir, "append")

    fed = _fed_rows(monkeypatch, ti, "_postings")
    out = ti.extend_text_index(spark, tdir, "text")
    assert len(fed) == 1 and len({r["file"] for r in fed[0]}) == 1
    assert sorted(r["value"] for r in fed[0]) == sorted(
        f"Alpha novel beta-{i}" for i in range(30, 40)
    )
    got = search_token(spark, tdir, "text", "novel")
    assert len(got.inputFiles()) == 1
    assert {r["doc_id"] for r in got.collect()} == set(range(30, 40))
    # and the carried postings really came from the v1 sidecar
    old_files = {
        r["file"]
        for r in spark.read.parquet(out)
        .where(F.col("token") == "old")
        .select("file")
        .distinct()
        .collect()
    }
    assert len(old_files) == 1


def test_extend_bloom_is_incremental_not_full_rebuild(spark, tdir, monkeypatch):
    """Same detection pin for the Bloom sidecar: the prior vNNN-bloom
    generation must be found and only the appended file hashed."""
    import tms_etl_spark.operators.bloomindex as bi

    df = spark.range(0, 30).select(F.col("id").alias("doc_id"))
    write_version(df.repartition(1), tdir, "append")
    bi.build_bloom_index(spark, tdir, "doc_id")
    write_version(
        spark.range(30, 40)
        .select(F.col("id").alias("doc_id"))
        .repartition(1),
        tdir,
        "append",
    )

    fed = _fed_rows(monkeypatch, bi, "_bitmaps")
    out = bi.extend_bloom_index(spark, tdir, "doc_id")
    assert len(fed) == 1 and len({r["file"] for r in fed[0]}) == 1
    assert sorted(r["value"] for r in fed[0]) == list(range(30, 40))
    files = {
        r["file"]
        for r in spark.read.parquet(out).select("file").distinct().collect()
    }
    assert len(files) == 2  # both batches' bitmaps present
