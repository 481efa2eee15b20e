"""CSV-lake readers for the TMS daily files (SURVEY.md §2.1 S1-S4).

The reference walks ``TMSDATA/YYYY-MM/daily/*.csv`` with a regex dir
filter and case-insensitive extension match
(/root/reference/src/main_02.py:801-821, main_01.py:321-332), decodes
with utf-8→latin-1 fallback and BOM strip (main_01.py:372-398), and
binds columns positionally (main_01.py:334-364).

Engine form: one declarative ``spark.read.csv`` over the partitioned
layout — partition pruning via the path, schema-on-read for the
positional binding, and the month filter pushed into the file listing
(never a post-hoc filter over all months' rows). Per-file encoding
sniffing is not distributed-friendly; the lake contract is one
encoding per ingestion root (default UTF-8; Spark's reader strips the
BOM), with ``encoding=`` for latin-1/cp1252 roots.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tms_etl_spark.sources.fs import list_dirs
from tms_etl_spark.tms.schema import RAW_SCHEMA, with_types

MONTH_DIR_RE = r"^\d{4}-\d{2}$"  # /root/reference/src/main_02.py:812


def _month_daily_dirs(spark: SparkSession, root: str) -> list[str]:
    """``{root}/<month>/daily/`` for every child of ``root`` that is
    named like a month (`MONTH_DIR_RE`, the reference's dir filter) and
    has a ``daily`` subdirectory — one listing of the root and of each
    month dir, so stray trees (``backup/daily/``) are never ingested
    and Spark is handed plain dirs, not a glob its metadata probe
    warns about."""
    months = []
    for fi in list_dirs(spark, root):
        m = fi.path.rsplit("/", 1)[-1]
        if re.match(MONTH_DIR_RE, m) and any(
            d.path.endswith("/daily") for d in list_dirs(spark, fi.path)
        ):
            months.append(m)
    return [f"{root}/{m}/daily/" for m in sorted(months)]


def read_daily_raw(
    spark: SparkSession,
    root: str,
    months: Sequence[str] | None = None,
    encoding: str = "UTF-8",
) -> DataFrame:
    """Raw positional read of daily shift CSVs.

    ``root`` holds ``<month>/daily/*.csv`` (the reference's layout
    with ``month=YYYY-MM``). ``months`` prunes the listing to those
    partitions — list-time pruning, not a scan-then-filter; without
    it every month dir of the root is read. A root with no month dir
    raises Spark's path-not-found error.
    """
    if months:
        paths = [f"{root}/{m}/daily/" for m in months]
    else:
        # no month dir: a month-shaped glob that matches nothing keeps
        # Spark's path-not-found error
        paths = _month_daily_dirs(spark, root) or [
            f"{root}/[0-9][0-9][0-9][0-9]-[0-9][0-9]/daily/"
        ]
    return spark.read.schema(RAW_SCHEMA).csv(
        paths,
        header=False,
        encoding=encoding,
        mode="PERMISSIVE",
        pathGlobFilter="*.[cC][sS][vV]",  # S2: case-insensitive ext
    )


def read_daily(
    spark: SparkSession,
    root: str,
    months: Sequence[str] | None = None,
    encoding: str = "UTF-8",
) -> DataFrame:
    """Typed daily shift rows with source-file lineage columns.

    Applies the positional projection + coercions (S4/P7) and keeps
    ``_src_file`` / ``_src_mtime`` from the file metadata — the merge
    precedence needs them (the reference processes newest-first and
    last write wins, /root/reference/src/main_01.py:330).
    """
    raw = read_daily_raw(spark, root, months, encoding)
    raw = raw.select(
        "*",
        F.col("_metadata.file_path").alias("_src_file"),
        F.col("_metadata.file_modification_time").alias("_src_mtime"),
    )
    return with_types(raw)


def arity_filter(df: DataFrame) -> DataFrame:
    """P2: the reference drops rows with <3 fields
    (/root/reference/src/main_01.py:403-404). Under schema-on-read a
    short row leaves trailing fields null — the equivalent predicate
    is 'the first three positions parsed'."""
    return df.where(
        F.col("DataTurno").isNotNull()
        & (F.length("DataTurno") > 0)
        & F.col("Tear").isNotNull()
        & (F.length("Tear") > 0)
        & F.col("Artigo").isNotNull()
    )
