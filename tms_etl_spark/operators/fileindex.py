"""File-level index sidecars of versioned tables — the one protocol
behind the Bloom (`bloomindex`) and inverted-token (`textindex`)
indexes. A kind module supplies only its per-file facts, its sidecar
layout and its probe; this module owns where a generation lives, what
its rows are keyed by, when it may be trusted, how it is written, and
how the families are listed for maintenance.

Layout: kind ``bloom`` on column c at table version v writes
``_indexes/c/vNNNNNN-bloom``; kind ``text`` writes
``_indexes/text_c/vNNNNNN-tokens`` — one family dir holds both kinds
when a column is literally named ``text_<x>``. Every sidecar row
carries ``file``: the manifest's RELATIVE path of the data file its
facts describe (the key of ``man["stats"]``), so a generation survives
a copied or moved table and its admission sets compare with the
manifest's live files directly.

Trust rule — a generation serves version v only when:

1. it is PUBLISHED: Spark's ``_SUCCESS`` and this module's marker
   (``_fileindex.json``, written after the data write returns) both
   exist. For this writer the marker implies ``_SUCCESS``; the second
   probe keeps any dir without Spark's commit marker unread, whatever
   else it holds. A cluster that turns ``_SUCCESS`` off
   (``mapreduce.fileoutputcommitter.marksuccessfuljobs=false``)
   therefore gets no index skipping — reads stay exact;
2. it is the newest published generation at or before v, built on
   the column's physical name at v (a dropped-and-reused name never
   inherits an old index);
3. every file live at v is among the files the marker lists.

Coverage is metadata, never a scan of the sidecar. A generation thus
keeps serving across commits that add no files (deletes, ALTERs,
tags, change-feed toggles); a commit that adds a file stops it until
an extend covers the file, and reads meanwhile take the plain scan.
Deletion vectors never break it: admission is a PRE-filter, so a
deleted key still present in a file's facts only costs a
false-positive file read, and the residual predicate plus the
tombstone anti-join keep results exact. Generations written without
the marker (earlier formats: absolute keys, raw-type hashes) are
never trusted, and an extend from one rebuilds."""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tms_etl_spark.operators.checkpoints import unpersist_checkpoint
from tms_etl_spark.operators.versioned import (
    _canon_file_path,
    _column_map,
    _fs,
    _live_rel_files,
    _read_files,
    _read_json,
    _snapshot,
    _uri_decode,
    _write_json_overwrite,
)
from tms_etl_spark.sources.fs import list_dirs, path_exists

KINDS = ("bloom", "text")
_SUFFIX = {"bloom": "bloom", "text": "tokens"}
_GEN_NAME = re.compile(r"v(\d+)-(bloom|tokens)")
_MARKER = "_fileindex.json"
_FORMAT = 1


def _family(kind: str, col: str) -> str:
    return col if kind == "bloom" else f"text_{col}"


def generation_dir(table_dir: str, kind: str, col: str, version: int) -> str:
    return (
        f"{table_dir}/_indexes/{_family(kind, col)}"
        f"/v{version:06d}-{_SUFFIX[kind]}"
    )


@dataclass(frozen=True)
class Generation:
    kind: str
    col: str
    version: int
    family: str


def generations(
    spark: SparkSession,
    table_dir: str,
    kind: str | None = None,
    col: str | None = None,
) -> list[Generation]:
    """Every generation under ``_indexes/`` — or, given ``kind`` and
    ``col``, of that one index from ONE listing of its family dir —
    ordered by (kind, col, version). The kind comes from the
    generation dir's suffix and the column from the family name, so a
    Bloom family on a column named ``text_<x>`` is never mistaken for
    x's tokens."""
    root = f"{table_dir}/_indexes"
    fams = (
        [_family(kind, col)]
        if kind is not None
        else [fi.path.rsplit("/", 1)[-1] for fi in list_dirs(spark, root)]
    )
    out = []
    for fam in fams:
        for fi in list_dirs(spark, f"{root}/{fam}"):
            m = _GEN_NAME.fullmatch(fi.path.rsplit("/", 1)[-1])
            if m is None:
                continue
            if m.group(2) == "bloom":
                g = Generation("bloom", fam, int(m.group(1)), fam)
            elif fam.startswith("text_"):
                g = Generation("text", fam[5:], int(m.group(1)), fam)
            else:
                continue
            if kind is None or (g.kind, g.col) == (kind, col):
                out.append(g)
    return sorted(out, key=lambda g: (g.kind, g.col, g.version))


def live_files(spark: SparkSession, table_dir: str, man: dict) -> list[str]:
    """The snapshot's live rel files, sorted."""
    return sorted(
        rel
        for rels in _live_rel_files(spark, table_dir, man).values()
        for rel in rels
    )


def _newest_published(
    spark: SparkSession, table_dir: str, kind: str, col: str, man: dict,
    version: int,
) -> tuple[int, set[str]] | None:
    """(version, indexed rel files) of the newest published generation
    at or before ``version`` — None when there is none, or when it
    indexed another physical column than ``col`` names in ``man``."""
    for g in reversed(generations(spark, table_dir, kind, col)):
        if g.version > version:
            continue
        d = generation_dir(table_dir, kind, col, g.version)
        if not (
            path_exists(spark, f"{d}/_SUCCESS")
            and path_exists(spark, f"{d}/{_MARKER}")
        ):
            continue
        try:
            meta = _read_json(spark, f"{d}/{_MARKER}")
        except ValueError:  # a remote marker caught mid-write
            continue
        if meta.get("format") != _FORMAT:
            continue
        if meta["physical"] != _column_map(man).get(col, col):
            return None
        return g.version, set(meta["files"])
    return None


def serving(
    spark: SparkSession,
    table_dir: str,
    kind: str,
    col: str,
    version: int,
    man: dict,
) -> str | None:
    """The dir of the generation that serves snapshot ``(version,
    man)`` under the trust rule, or None (the caller scans plainly).
    Metadata only: on a local table no py4j round trip."""
    prior = _newest_published(spark, table_dir, kind, col, man, version)
    if prior is None or not prior[1].issuperset(
        live_files(spark, table_dir, man)
    ):
        return None
    return generation_dir(table_dir, kind, col, prior[0])


def _rel_keyed(table_dir: str, rows: DataFrame) -> DataFrame:
    """``rows`` with their ``file`` — an ``input_file_name()`` URI —
    replaced by the manifest's rel path, JVM-side: the URI's path
    decoded once minus the table dir — `_canon_file_path`'s
    identity, so a path with spaces or escapes maps exactly. Two
    projections, so each fact row is decoded once, not once per use.
    A file outside the table dir fails the job instead of keying a
    fact no read would ever match."""
    prefix = _canon_file_path(table_dir).rstrip("/") + "/"
    path = F.col("file")
    rows = rows.withColumn(
        "file", _uri_decode(F.parse_url(path, F.lit("PATH")))
    )
    return rows.withColumn(
        "file",
        F.when(
            path.startswith(prefix), path.substr(len(prefix) + 1, 1 << 30)
        ).otherwise(
            F.raise_error(
                F.concat(F.lit(f"index input outside {prefix}: "), path)
            )
        ),
    )


def write_generation(
    spark: SparkSession,
    table_dir: str,
    kind: str,
    col: str,
    version: int | None,
    facts: Callable[[DataFrame], DataFrame],
    layout: Callable[[DataFrame], DataFrame] | None = None,
    carry: bool = True,
) -> str:
    """The one sidecar writer behind every build and extend: bring
    index ``(kind, col)`` up to ``version`` (default: head) and return
    the generation dir that serves it.

    With ``carry``, a published generation already serving the
    version is returned as is; otherwise the rows of the newest
    published generation at or before it whose files are still live
    carry over (a broadcast semi-join against the metadata-sized
    kept list), and ``facts`` computes rows only for the other live
    files — O(new files + sidecar), never O(table). Without ``carry``
    (a build) every live file is computed. ``facts`` maps a ``(file,
    value)`` frame to rows keyed by ``file`` (the scan's raw file URI,
    mapped to the rel path once per fact row — after the aggregate,
    not per data row); ``layout`` arranges the rows for the write —
    it may sample them (a range partitioning),
    so they are pinned first and released in a ``finally``. The
    marker is written last: a write that dies leaves an unpublished
    generation no reader trusts.

    Facts come from the files scanned DIRECTLY, never through the
    tombstone-subtracting scan: ``input_file_name()`` must not cross a
    shuffle, and a deleted row's facts can only cost a false-positive
    file read."""
    v, man = _snapshot(spark, table_dir, version)
    live = live_files(spark, table_dir, man)
    if not live:
        raise ValueError(
            f"version {v} of {table_dir} has no live files to index"
        )
    prior = (
        _newest_published(spark, table_dir, kind, col, man, v)
        if carry
        else None
    )
    indexed = prior[1] if prior else set()
    if prior and indexed.issuperset(live):
        return generation_dir(table_dir, kind, col, prior[0])
    kept = [f for f in live if f in indexed]
    fresh = [f for f in live if f not in indexed]
    rows = _rel_keyed(
        table_dir,
        facts(
            _read_files(
                spark, table_dir, man, [f"{table_dir}/{rel}" for rel in fresh]
            ).select(
                F.input_file_name().alias("file"), F.col(col).alias("value")
            )
        ),
    )
    if kept:
        keep = spark.createDataFrame([(f,) for f in kept], "file string")
        rows = rows.unionByName(
            spark.read.schema(rows.schema)
            .parquet(generation_dir(table_dir, kind, col, prior[0]))
            .join(F.broadcast(keep), "file", "left_semi")
        )
    out = generation_dir(table_dir, kind, col, v)
    pinned = rows.localCheckpoint() if layout is not None else None
    try:
        (layout(pinned) if pinned is not None else rows).write.mode(
            "overwrite"
        ).parquet(out)
    finally:
        unpersist_checkpoint(pinned)
    _write_json_overwrite(
        spark,
        f"{out}/{_MARKER}",
        {
            "format": _FORMAT,
            "physical": _column_map(man).get(col, col),
            "files": live,
        },
    )
    return out


def extend(
    spark: SparkSession, table_dir: str, kind: str, col: str
) -> str:
    """Bring index ``(kind, col)`` up to the head through its kind's
    extender — the entry the maintenance and streaming paths share."""
    from tms_etl_spark.operators.bloomindex import extend_bloom_index
    from tms_etl_spark.operators.textindex import extend_text_index

    fn = {"bloom": extend_bloom_index, "text": extend_text_index}[kind]
    return fn(spark, table_dir, col)


def move_generations(
    spark: SparkSession, table_dir: str, old: str, new: str
) -> None:
    """Re-home every generation of column ``old`` under ``new``
    (ALTER RENAME COLUMN; sidecar content is column-name-free and the
    marker names the unchanged physical column). Per generation, so a
    family dir holding both kinds moves exactly the renamed column's;
    a family dir left empty is removed. Best-effort — a failed move
    only leaves the index missing, never the data wrong."""
    for g in generations(spark, table_dir):
        if g.col != old:
            continue
        try:
            fs, src, jvm = _fs(
                spark, generation_dir(table_dir, g.kind, old, g.version)
            )
            dst = jvm.org.apache.hadoop.fs.Path(
                generation_dir(table_dir, g.kind, new, g.version)
            )
            fs.mkdirs(dst.getParent())
            if not fs.exists(dst):
                fs.rename(src, dst)
            if not list(fs.listStatus(src.getParent())):
                fs.delete(src.getParent(), False)
        except Exception:  # noqa: BLE001 — index move is advisory
            pass


def vacuum(spark: SparkSession, table_dir: str, keep_last: int) -> int:
    """Delete all but the newest ``keep_last`` generations of every
    index; returns the number removed."""
    by_index: dict[tuple[str, str], list[Generation]] = {}
    for g in generations(spark, table_dir):
        by_index.setdefault((g.kind, g.col), []).append(g)
    removed = 0
    for gens in by_index.values():
        for g in gens[: max(0, len(gens) - keep_last)]:
            fs, hp, _ = _fs(
                spark, generation_dir(table_dir, g.kind, g.col, g.version)
            )
            fs.delete(hp, True)
            removed += 1
    return removed
