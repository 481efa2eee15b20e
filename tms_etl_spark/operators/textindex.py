"""File-level inverted TOKEN index for versioned tables — keyword
search with file skipping, completing the skipping quartet: zonemaps
(range), clustering (layout), bloom (point on a key), tokens
(containment on text).

A keyword predicate (`text` contains word w) defeats both zonemaps
and bloom indexes: it is not a range and not an equality on a stored
value. The lakehouse answer is the classic inverted file: a sidecar
parquet of DISTINCT (file, token) pairs. At 100 TB the sidecar is
itself distributed data — built with one explode + distinct shuffle,
never driver-side — and the probe reads it filtered by token (the
sidecar is range-partitioned and sorted by token, so parquet
row-group stats prune the probe scan too). A search then scans only
the files whose posting admits the token; the residual predicate
keeps results exact. Generations follow the one sidecar protocol of
`fileindex`: rows are keyed by the manifest's relative file path, and
a generation serves a version only when it is published, the newest
one at or before it, and covers every file live there (a live file
with no posting rows provably holds no token) — otherwise a search is
the plain scan.

Tokenization is the shared contract between build and probe (and any
SQL oracle): lowercase, split on runs of non-alphanumerics. It lives
in ONE function so the two sides can never disagree.

Cites: the reference greps its CSV exports row-by-row in Python for
report filtering (/root/reference/src/main_01.py report path); this
gives the same containment predicate as an indexed, file-skipping
scan."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tms_etl_spark.operators import fileindex
from tms_etl_spark.operators.versioned import _pruned_scan, _snapshot

_TOKEN_RE = "[^a-z0-9]+"


def tokens_of(col) -> "F.Column":
    """The index's tokenizer: lowercase, split on non-alphanumeric
    runs. JVM-side, shared by build and probe. SQL-oracle equivalent:
    ``string_split_regex(lower(col), '[^a-z0-9]+')`` (DuckDB) /
    ``split(lower(col), '[^a-z0-9]+')`` (Spark SQL)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(c), _TOKEN_RE)


def _postings(values: DataFrame) -> DataFrame:
    """Distinct (file, token) rows of a ``(file, value)`` frame."""
    return (
        values.select("file", F.explode(tokens_of("value")).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )


def _write_gen(
    spark: SparkSession,
    table_dir: str,
    col: str,
    version: int | None,
    n_shards: int,
    carry: bool,
) -> str:
    # the sidecar lands range-partitioned and sorted by token, so
    # probes push the token predicate into the parquet scan
    return fileindex.write_generation(
        spark, table_dir, "text", col, version, _postings,
        layout=lambda rows: rows.repartitionByRange(
            n_shards, "token"
        ).sortWithinPartitions("token"),
        carry=carry,
    )


def build_text_index(
    spark: SparkSession,
    table_dir: str,
    col: str,
    version: int | None = None,
    n_shards: int = 8,
) -> str:
    """Build the inverted-token sidecar for ``col`` at ``version``
    (default: current) from every live file: one explode + distinct
    shuffle, then a range-partitioned write (its sampler reads the
    pinned postings, not the data twice). Serves this version and
    every later one that adds no file."""
    return _write_gen(spark, table_dir, col, version, n_shards, False)


def extend_text_index(
    spark: SparkSession,
    table_dir: str,
    col: str,
    version: int | None = None,
    n_shards: int = 8,
) -> str:
    """Incrementally bring the token sidecar up to ``version`` without
    rescanning indexed data — the 100 TB maintenance path. Postings
    are per-file facts, so the still-live files' rows carry over from
    the newest published generation (rows of compacted/merged-away
    files drop out) and only the other live files — the appended
    batches — are tokenized. Cost: O(new files + sidecar), never
    O(table); a build when no generation exists, a no-op when one
    already serves."""
    return _write_gen(spark, table_dir, col, version, n_shards, True)


def search_token(
    spark: SparkSession,
    table_dir: str,
    col: str,
    token: str,
    version: int | None = None,
) -> DataFrame:
    """Exact containment search `token ∈ tokens_of(col)`. When a token
    generation serves the snapshot, files it proves token-free are
    never opened — one token-pruned probe of the sidecar — and the
    admitted files go through the one pruned scan, which subtracts
    deletion vectors over them only; the residual predicate keeps
    results exact. Otherwise (no serving generation, or a probe the
    tokenizer can never emit) it is the plain scan."""
    tok = token.lower()
    v, man = _snapshot(spark, table_dir, version)
    admitted = None
    # the tokenizer only ever emits [a-z0-9]+ runs or "" (split
    # boundary artifacts, which the index intentionally drops but
    # array_contains CAN match) — no posting answers another probe
    if re.fullmatch(r"[a-z0-9]+", tok):
        idx = fileindex.serving(spark, table_dir, "text", col, v, man)
        if idx is not None:
            admitted = {
                r["file"]
                for r in spark.read.schema("file string, token string")
                .parquet(idx)
                .where(F.col("token") == tok)
                .select("file")
                .collect()
            }
    return _pruned_scan(
        spark, table_dir, [], v, allowed_files=admitted, man=man
    ).where(F.array_contains(tokens_of(col), tok))
