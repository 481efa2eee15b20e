"""File-level Bloom indexes for versioned tables — point-lookup file
skipping where zonemaps can't help.

A zonemap prunes range predicates, but on a HIGH-CARDINALITY key with
no clustering every file's [min, max] spans the whole domain and a
point read still scans everything. The lakehouse answer is a per-file
Bloom filter: ~1.2 bytes/key for a 1% false-positive rate, stored in
a SIDECAR parquet (`_indexes/<col>/v<version>-bloom`), consulted at
plan time — a `key = value` read then scans only the files whose
bloom admits the value (plus rare false positives; the residual
filter keeps results exact).

Generations follow the one sidecar protocol of `fileindex`: rows are
keyed by the manifest's relative file path, and a generation serves a
version only when it is published, the newest one at or before it,
and covers every file live there — otherwise reads take the plain
(zonemap-pruned) scan. This module keeps what is Bloom-specific: the
bit words, and the probe.

The index build is fully distributed and JVM-side: each row emits its
k hash positions as (word, mask) pairs ARRAY-SIDE (one explode of a
k-element array), and `bit_or` — a partial-combining aggregate —
folds them into the per-(file, word) bitmap words. No Python in the
hot path, no driver-side bitsets; the sidecar is (files x words)
rows.

Hashes: xxhash64(value, i) for i in 0..k-1 — deterministic across
engines/runs, so an index built anywhere prunes the same files.
xxhash64 is type-sensitive, so build, extend and probe hash integral
values as ``bigint`` and floating values as ``double``: a type
widening (`versioned._TYPE_WIDENINGS`) never splits a generation into
two hash domains."""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tms_etl_spark.operators import fileindex
from tms_etl_spark.operators.versioned import (
    _man_schema,
    _pruned_scan,
    _scan_with_deletes,
    _snapshot,
    resolve_tag,
    version_asof,
)

_BITS = 1 << 20  # 1 Mi bits per file ≈ 131 kB; ~1% FP at ~100k keys
_K = 4
_SIDECAR = "file string, word bigint, bits bigint"
# integral types and the bit width of their range
_INTEGRAL = {"tinyint": 7, "smallint": 15, "int": 31, "bigint": 63}


def _hash_domain(c: Column, col_type: str) -> Column:
    if col_type in _INTEGRAL:
        return c.cast("bigint")
    if col_type in ("float", "double"):
        return c.cast("double")
    return c


def _positions(c: Column) -> list[Column]:
    """The k bit positions of value ``c`` (already in its hash domain)."""
    return [F.abs(F.xxhash64(c, F.lit(i))) % F.lit(_BITS) for i in range(_K)]


def _word_mask(p: str) -> list[Column]:
    """(word, mask) of bit position column ``p``."""
    return [
        (F.col(p) / 64).cast("long").alias("word"),
        F.expr(f"shiftleft(1L, cast({p} % 64 as int))").alias("mask"),
    ]


def _bitmaps(values: DataFrame) -> DataFrame:
    """Per-(file, word) bitmap words of a ``(file, value)`` frame."""
    v = _hash_domain(F.col("value"), dict(values.dtypes)["value"])
    return (
        values.select("file", F.explode(F.array(*_positions(v))).alias("p"))
        .select("file", *_word_mask("p"))
        .groupBy("file", "word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def build_bloom_index(
    spark: SparkSession,
    table_dir: str,
    col: str,
    version: int | None = None,
) -> str:
    """Build the per-file Bloom sidecar for ``col`` at ``version``
    (default: current) from one pass over its live files; returns the
    sidecar path. The generation serves this version and every later
    one that adds no file (deletes, ALTERs, tags); after an append,
    merge or compaction `extend_bloom_index` brings it up to date,
    and until then point reads take the plain scan. Bits-per-file and
    hash count are module constants so build and probe can never
    disagree."""
    return fileindex.write_generation(
        spark, table_dir, "bloom", col, version, _bitmaps, carry=False
    )


def extend_bloom_index(
    spark: SparkSession,
    table_dir: str,
    col: str,
    version: int | None = None,
) -> str:
    """Incrementally bring the Bloom sidecar up to ``version`` —
    per-file bitmaps are independent facts, so the still-live files'
    bitmaps carry over from the newest published generation and only
    the other live files are hashed (a build when none exists; a
    no-op when one already serves). Same maintenance contract as
    `textindex.extend_text_index`."""
    return fileindex.write_generation(
        spark, table_dir, "bloom", col, version, _bitmaps
    )


def bloom_admitted_files(
    spark: SparkSession,
    table_dir: str,
    man: dict,
    col: str,
    value,
    version: int,
    col_type: str,
) -> set[str] | None:
    """The rel paths of the live files of snapshot ``(version, man)``
    whose bloom MAY hold ``col = value``; None when no generation
    serves the snapshot. ``value`` may be a list/tuple — the
    admission is then the UNION over the values (``col IN (…)``),
    probed in ONE sidecar pass instead of one per value (r9: an
    IN-list probe is k·|values| word lookups in a single
    pass, so plan-time cost stays flat as the list grows). Two Spark
    jobs: the values' hash positions, then the sidecar hits. This is
    the reusable skipping primitive behind `read_version_point`; the
    WHERE front door (`versioned.read_version_where`) intersects it
    with zonemap pruning so equality conjuncts stack both cuts."""
    idx = fileindex.serving(spark, table_dir, "bloom", col, version, man)
    if idx is None:
        return None
    values = (
        list(value) if isinstance(value, (list, tuple, set)) else [value]
    )
    if not values:
        # `col IN ()` admits nothing — return the empty admission set
        # rather than building a zero-element F.array() (analysis
        # error in Spark)
        return set()
    # probe with the column's type, then its hash domain
    probes = [
        F.struct(F.lit(vi).alias("vid"), p.alias("p"))
        for vi, v in enumerate(values)
        for p in _positions(_hash_domain(F.lit(v).cast(col_type), col_type))
    ]
    rows = (
        spark.range(1)
        .select(F.explode(F.array(*probes)).alias("s"))
        .select(F.col("s.vid").alias("vid"), *_word_mask("s.p"))
        .collect()
    )
    # a file admits a value iff EVERY distinct probed (word, mask)
    # bit of THAT value is set (hash collisions can make < _K
    # distinct probes per value). Only sidecar rows setting at least
    # one probed bit come back — a metadata-sized collect, no join.
    by_vid: dict[int, set] = {}
    by_word: dict[int, set] = {}
    for r in rows:
        w, mk = int(r["word"]), int(r["mask"])
        by_vid.setdefault(int(r["vid"]), set()).add((w, mk))
        by_word.setdefault(w, set()).add(mk)
    any_bit = reduce(
        operator.or_,
        [
            (F.col("word") == w) & (F.col("bits").bitwiseAND(F.lit(mk)) == mk)
            for w, mks in by_word.items()
            for mk in mks
        ],
    )
    set_bits: dict[str, set] = {}
    for r in (
        spark.read.schema(_SIDECAR)
        .parquet(idx)
        .where(F.col("word").isin(list(by_word)) & any_bit)
        .collect()
    ):
        for mk in by_word[r["word"]]:
            if r["bits"] & mk == mk:
                set_bits.setdefault(r["file"], set()).add((r["word"], mk))
    return {
        f
        for f, got in set_bits.items()
        if any(ps <= got for ps in by_vid.values())
    }


def _zonemap_eq(col: str, value, col_type: str) -> list[tuple]:
    """``[(col, '=', value)]`` when the zonemap's Python comparison is
    the residual's — the literal casts to ``col_type`` unchanged —
    else no zonemap predicate (a float cut to an int column, say)."""
    bits = _INTEGRAL.get(col_type)
    exact = (
        (
            bits is not None
            and type(value) is int
            and -(1 << bits) <= value < (1 << bits)
        )
        or (col_type == "string" and isinstance(value, str))
        or (col_type == "double" and type(value) is float)
    )
    return [(col, "=", value)] if exact else []


def read_version_point(
    spark: SparkSession,
    table_dir: str,
    col: str,
    value,
    version: int | None = None,
    asof=None,
    tag: str | None = None,
) -> DataFrame:
    """Point read `col = value` with file skipping: the zonemap cut
    and, when a Bloom generation serves the snapshot, the bloom
    admission — both through the one pruned scan, which subtracts
    deletion vectors over the surviving files only. Exact:
    admitted files still pass the residual filter. A generation
    serves the snapshot only when it covers every live file (see
    `fileindex`); otherwise — e.g. after an append or a merge, until
    the next extend — the read is the plain zonemap-pruned scan,
    never a partial index.

    Snapshot selection mirrors `read_version_where` (r10):
    ``version``, ``asof`` (TIMESTAMP AS OF) and ``tag`` are mutually
    exclusive — "point-read the release-blessed snapshot" is
    ``tag='release'``, no by-hand tag resolution."""
    if sum(x is not None for x in (version, asof, tag)) > 1:
        raise ValueError("version, asof and tag are mutually exclusive")
    if tag is not None:
        version = resolve_tag(spark, table_dir, tag)
    if asof is not None:
        version = version_asof(spark, table_dir, asof)
    v, man = _snapshot(spark, table_dir, version)
    schema = _man_schema(man)
    if schema is None:  # manifests from before schemas were recorded
        schema = _scan_with_deletes(spark, table_dir, man).schema
    col_type = schema[col].dataType.simpleString()
    admitted = bloom_admitted_files(
        spark, table_dir, man, col, value, v, col_type
    )
    return _pruned_scan(
        spark, table_dir, _zonemap_eq(col, value, col_type), v,
        allowed_files=admitted, man=man,
    ).where(F.col(col) == F.lit(value).cast(col_type))
