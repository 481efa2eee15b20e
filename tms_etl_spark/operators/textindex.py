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
keeps results exact. A version's sidecar is complete for it by
construction (the build scans every live file) and is trusted only
once published — its ``_SUCCESS`` marker, written by Spark's file
committer at job commit, exists; otherwise a search is a plain scan.

Tokenization is the shared contract between build and probe (and any
SQL oracle): lowercase, split on runs of non-alphanumerics. It lives
in ONE function so the two sides can never disagree.

Cites: the reference greps its CSV exports row-by-row in Python for
report filtering (/root/reference/src/main_01.py report path); this
gives the same containment predicate as an indexed, file-skipping
scan."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tms_etl_spark.operators.checkpoints import unpersist_checkpoint
from tms_etl_spark.operators.versioned import (
    _live_rel_files,
    _read_files,
    _scan_with_deletes,
    _snapshot,
    path_exists,
)

_TOKEN_RE = "[^a-z0-9]+"


def tokens_of(col) -> "F.Column":
    """The index's tokenizer: lowercase, split on non-alphanumeric
    runs. JVM-side, shared by build and probe. SQL-oracle equivalent:
    ``string_split_regex(lower(col), '[^a-z0-9]+')`` (DuckDB) /
    ``split(lower(col), '[^a-z0-9]+')`` (Spark SQL)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(c), _TOKEN_RE)


def _index_dir(table_dir: str, col: str, version: int) -> str:
    return f"{table_dir}/_indexes/text_{col}/v{version:06d}-tokens"


def _canon(p: str) -> str:
    import re

    return re.sub(r"^file:/+", "/", p)


def build_text_index(
    spark: SparkSession,
    table_dir: str,
    col: str,
    version: int | None = None,
    n_shards: int = 8,
) -> str:
    """Build the inverted-token sidecar for ``col`` at ``version``
    (default: current). Scans the version's LIVE FILES directly (same
    rationale as the bloom build: `input_file_name` must not cross a
    shuffle, and tombstoned rows admitted to a posting can only cost
    false-positive file reads — the residual filter and the reader's
    tombstone handling keep results exact). One explode + distinct
    shuffle; the sidecar lands range-partitioned and sorted by token
    so probes push the token predicate into the parquet scan."""
    v, man = _snapshot(spark, table_dir, version)
    live = _live_rel_files(spark, table_dir, man)
    paths = [
        f"{table_dir}/{rel}" for rels in live.values() for rel in rels
    ]
    if not paths:
        raise ValueError(
            f"version {v} of {table_dir} has no live files to index"
        )
    from tms_etl_spark.operators.versioned import _column_map

    # raw file read: a renamed column lives under its PHYSICAL name
    col_phys = _column_map(man).get(col, col)
    postings = (
        spark.read.parquet(*paths)
        .select(
            F.regexp_replace(F.input_file_name(), "^file:/+", "/").alias(
                "file"
            ),
            F.explode(tokens_of(col_phys)).alias("token"),
        )
        .where(F.col("token") != "")
        .distinct()
        # r14 (guide §1.2): repartitionByRange SAMPLES its child to
        # pick range boundaries — without materialization the whole
        # explode+distinct subplan (a full read of the indexed data)
        # executes TWICE, once for the sampler and once for the
        # write. Checkpoint the postings so the second execution is
        # a cache read; released right after the write.
        .localCheckpoint()
    )
    out = _index_dir(table_dir, col, v)
    try:
        (
            postings.repartitionByRange(n_shards, "token")
            .sortWithinPartitions("token")
            .write.mode("overwrite")
            .parquet(out)
        )
    finally:
        unpersist_checkpoint(postings)
    return out


def extend_text_index(
    spark: SparkSession,
    table_dir: str,
    col: str,
    version: int | None = None,
    n_shards: int = 8,
) -> str:
    """Incrementally bring the token sidecar up to ``version`` without
    rescanning indexed data — the 100 TB maintenance path. Postings
    are per-file facts, so the new sidecar is: the newest prior
    sidecar's rows restricted to files STILL LIVE at ``version``
    (a broadcast semi-join against the metadata-sized live list —
    rows of compacted/merged-away files drop out), plus freshly built
    postings for live-but-unindexed files (the appended batches).
    Cost: O(new files + sidecar), never O(table). Falls back to a
    full `build_text_index` when no prior sidecar exists."""
    import re as _re

    from tms_etl_spark.sources.fs import list_files

    v, man = _snapshot(spark, table_dir, version)
    root = f"{table_dir}/_indexes/text_{col}"
    prev_v = 0
    for fi in list_files(spark, root):
        # list_files yields FILE paths (…/vNNN-tokens/part-*.parquet),
        # so the version dir is a middle segment — anchor on "/" too,
        # not only end-of-string, or no prior sidecar is ever found
        # and every extend silently degrades to a full rebuild.
        m = _re.search(r"v(\d+)-tokens(?:/|$)", fi.path)
        if m and int(m.group(1)) < v:
            prev_v = max(prev_v, int(m.group(1)))
    if prev_v == 0:
        return build_text_index(spark, table_dir, col, v, n_shards)

    live = _live_rel_files(spark, table_dir, man)
    live_paths = sorted(
        _canon(f"{table_dir}/{rel}")
        for rels in live.values()
        for rel in rels
    )
    if not live_paths:
        raise ValueError(
            f"version {v} of {table_dir} has no live files to index"
        )
    prev = spark.read.parquet(_index_dir(table_dir, col, prev_v))
    live_df = spark.createDataFrame(
        [(p,) for p in live_paths], "file string"
    )
    carried = prev.join(F.broadcast(live_df), "file", "left_semi")
    indexed = {
        _canon(r["file"])
        for r in prev.select("file").distinct().collect()
    }
    new_files = [p for p in live_paths if p not in indexed]
    parts = [carried]
    if new_files:
        from tms_etl_spark.operators.versioned import _column_map

        col_phys = _column_map(man).get(col, col)
        parts.append(
            spark.read.parquet(*new_files)
            .select(
                F.regexp_replace(
                    F.input_file_name(), "^file:/+", "/"
                ).alias("file"),
                F.explode(tokens_of(col_phys)).alias("token"),
            )
            .where(F.col("token") != "")
            .distinct()
        )
    out_df = parts[0]
    for p in parts[1:]:
        out_df = out_df.unionByName(p)
    # same sampler-double-compute fix as build_text_index (r14): the
    # carried semi-join + fresh postings scan run once, not twice
    out_df = out_df.localCheckpoint()
    out = _index_dir(table_dir, col, v)
    try:
        (
            out_df.repartitionByRange(n_shards, "token")
            .sortWithinPartitions("token")
            .write.mode("overwrite")
            .parquet(out)
        )
    finally:
        unpersist_checkpoint(out_df)
    return out


def search_token(
    spark: SparkSession,
    table_dir: str,
    col: str,
    token: str,
    version: int | None = None,
) -> DataFrame:
    """Exact containment search `token ∈ tokens_of(col)` using the
    inverted sidecar for file skipping. The version's sidecar is
    complete for it by construction, so files the index proves
    token-free are never opened and the hits are scanned with the
    residual predicate. The sidecar is trusted only once published
    (its ``_SUCCESS`` marker exists): a build still writing, or one
    torn by a crash, would otherwise silently skip live files. Falls
    back to a plain filtered scan when no published index exists,
    and — correctness first — when the version carries deletion
    vectors (the tombstone-subtracted scan path owns that case, same
    policy as `read_version_point`)."""
    import re as _re

    tok = token.lower()
    v, man = _snapshot(spark, table_dir, version)
    residual = F.array_contains(tokens_of(col), tok)
    pred_scan = _scan_with_deletes(spark, table_dir, man)
    idx = _index_dir(table_dir, col, v)
    if not path_exists(spark, f"{idx}/_SUCCESS") or man.get("deletes"):
        return pred_scan.where(residual)
    if not _re.fullmatch(r"[a-z0-9]+", tok):
        # the tokenizer only ever emits [a-z0-9]+ runs or "" (split
        # boundary artifacts, which the index intentionally drops but
        # array_contains CAN match) — no posting can answer such a
        # probe, so scan with the residual predicate (correctness
        # first; r14, previously "" mis-routed through the index)
        return pred_scan.where(residual)
    hits = {
        _canon(r["file"])
        for r in spark.read.parquet(idx)
        .where(F.col("token") == tok)
        .select("file")
        .collect()
    }
    # Every live file of version v was scanned by the build/extend
    # that wrote sidecar v (postings are per-file facts; a live file
    # with no posting rows provably contains no tokens at all), so
    # the sidecar IS complete for v: the "committed after the build"
    # conservative-rescan set is empty by construction, and the full
    # sidecar read that derived it (a second scan + driver collect of
    # the distinct file list, r13 shape) is gone — one token-pruned
    # probe remains (r14, guide §1.2/§5 "no driver work you can
    # avoid"). A version with no published sidecar still takes the
    # fallback above.
    live = _live_rel_files(spark, table_dir, man)
    all_files = [
        _canon(f"{table_dir}/{rel}")
        for rels in live.values()
        for rel in rels
    ]
    scan_files = sorted(set(f for f in all_files if f in hits))
    if not scan_files:
        return pred_scan.where(residual).limit(0)
    # _read_files: hive partition columns live in the PATH and need
    # basePath + the recorded schema — a plain explicit-file read
    # would drop them on partitioned tables
    return _read_files(spark, table_dir, man, scan_files).where(residual)
