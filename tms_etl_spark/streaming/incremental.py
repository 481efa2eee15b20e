"""Streaming operators (SURVEY.md §2.9).

The reference's loop — poll for new daily CSVs, re-import an
overlapping 2-month window, stay idempotent via the keyed upsert
(/root/reference/src/main_01.py:1099-1189) — is literally Structured
Streaming's micro-batch model. T1/T2 below make it explicit: a file
stream over the lake + ``foreachBatch`` running the same guarded
MERGE the batch pipeline uses, which is exactly-once *effective*
(replays converge to the same table).

Windows: event-time tumbling/sliding/session aggregations with
watermarks sized to the reference's 2-month late-data reality
(powered-off looms re-deliver days later, stepbystep.md:177-187).
State scales with open windows per key — bounded by the watermark,
so a 1000-executor run holds state proportional to (keys × windows
inside the watermark), not to history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tms_etl_spark.operators.checkpoints import unpersist_checkpoint
from tms_etl_spark.operators.merge import upsert_guarded
from tms_etl_spark.sources.tables import normalize_event_time
from tms_etl_spark.tms.quality import is_tear_desligado
from tms_etl_spark.tms.schema import MERGE_KEYS, RAW_SCHEMA, with_types
from tms_etl_spark.tms.source import arity_filter


def stream_daily_files(spark: SparkSession, lake_root: str) -> DataFrame:
    """T1: file-arrival micro-batch source over the daily lake
    (streaming analog of sources.read_daily; one listing per trigger,
    ``maxFilesPerTrigger`` bounds batch size at scale). Carries the
    same ``_src_file``/``_src_mtime`` lineage as the batch reader so
    the micro-batch MERGE applies the identical newest-file-wins
    precedence."""
    raw = (
        spark.readStream.schema(RAW_SCHEMA)
        .option("pathGlobFilter", "*.[cC][sS][vV]")
        .option("maxFilesPerTrigger", 64)
        .csv(f"{lake_root}/*/daily/")
    )
    raw = raw.select(
        "*",
        F.col("_metadata.file_path").alias("_src_file"),
        F.col("_metadata.file_modification_time").alias("_src_mtime"),
    )
    return arity_filter(with_types(raw))


def stream_import(
    spark: SparkSession,
    lake_root: str,
    target_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """T2: idempotent incremental import — foreachBatch guarded MERGE
    (first-write-wins for desligado rows), the streaming twin of
    ``tms.pipeline.import_daily``."""

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        sp = batch.sparkSession
        from tms_etl_spark.operators.merge import dedupe_batch
        from tms_etl_spark.sources.fs import path_exists

        # Same precedence as the batch pipeline (newest file wins,
        # filename tie-break, content hash for within-file dups) —
        # without it, a micro-batch spanning several files resolves
        # key collisions arbitrarily.
        batch = dedupe_batch(
            batch,
            keys=list(MERGE_KEYS),
            precedence=[F.col("_src_mtime"), F.col("_src_file")],
            content_tiebreak=True,
        ).drop("_src_file", "_src_mtime")
        # Explicit existence probe, not try/except around the read: a
        # transient read error must fail the micro-batch (the stream
        # retries), never take the first-write overwrite branch.
        if not path_exists(sp, target_path):
            batch.write.mode("overwrite").partitionBy("month").parquet(target_path)
            return
        target = sp.read.parquet(target_path)
        months = [r[0] for r in batch.select("month").distinct().collect()]
        merged = upsert_guarded(
            target.where(F.col("month").isin(months)),
            batch,
            keys=list(MERGE_KEYS),
            insert_only=is_tear_desligado(),
        )
        ckpt = merged.localCheckpoint(eager=True)
        # dynamic overwrite as a per-write option: the session conf
        # is shared with every other query of the application
        ckpt.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("month").parquet(target_path)
        # release the batch pin: a streaming driver runs this per
        # micro-batch and would otherwise hold every batch forever
        unpersist_checkpoint(ckpt)

    return (
        stream_daily_files(spark, lake_root)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_to_versioned(
    stream_df: DataFrame,
    table_dir: str,
    checkpoint: str,
    key: str | None = None,
    merge_schema: bool = False,
    txn_prefix: str = "stream",
) -> StreamingQuery:
    """Stream → versioned-table sink with EXACTLY-ONCE commits (r10):
    every micro-batch lands as one manifest commit carrying
    ``txn_id=f"{txn_prefix}-{epoch_id}"`` — a replayed epoch (committed
    but checkpoint not yet advanced, the classic foreachBatch
    at-least-once seam) short-circuits on the recorded txn instead of
    double-appending, turning Structured Streaming's at-least-once
    delivery into exactly-once TABLE STATE. This is the
    Delta-streaming-sink contract (txn appId/version), built on
    `write_version`'s recent-txns window.

    ``key``: upsert mode — each batch MERGEs by key (CoW file
    rewrite, batch must be 1-row-per-key after your own precedence
    dedup). Without it, plain appends. ``merge_schema`` lets a
    drifting source (the reference's re-export loop adds stop-reason
    columns mid-stream, /root/reference/src/main_01.py:337-356)
    evolve the table instead of failing the stream.

    Commit cost per epoch is O(batch) + one manifest write; the
    stream's state is the checkpoint's alone (no sink-side state), so
    a 1000-executor run bottlenecks on the batch size, never on table
    history."""

    def commit_batch(batch: DataFrame, epoch_id: int) -> None:
        from tms_etl_spark.operators.versioned import (
            current_version,
            merge_version,
            write_version,
        )

        sp = batch.sparkSession
        txn = f"{txn_prefix}-{epoch_id}"
        if key is not None and current_version(sp, table_dir) > 0:
            merge_version(
                sp,
                table_dir,
                batch,
                key=key,
                txn_id=txn,
                merge_schema=merge_schema,
            )
        else:
            write_version(
                batch,
                table_dir,
                "append",
                txn_id=txn,
                merge_schema=merge_schema,
            )

    return (
        stream_df.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """T4: tumbling event-time window aggregate (works identically on
    a batch or streaming frame; streaming adds the watermark bound)."""
    events = normalize_event_time(events, ts_col)
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return src.groupBy(F.window(ts_col, window), key).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total"),
    )


def session_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """T5: session windows (gap-based). In streaming, state per open
    session bounded by the watermark."""
    events = normalize_event_time(events, ts_col)
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return src.groupBy(F.session_window(ts_col, gap), key).agg(
        F.count("*").alias("n_events")
    )


def dedup_stream(
    events: DataFrame, keys: list[str], ts_col: str = "ts", watermark: str = "1 hour"
) -> DataFrame:
    """T6: stateful dedup — first occurrence wins within the
    watermark horizon (the streaming analog of the desligado
    first-write-wins guard)."""
    events = normalize_event_time(events, ts_col)
    return events.withWatermark(ts_col, watermark).dropDuplicates(keys)


def running_status_counts(events: DataFrame, key: str = "event_type") -> DataFrame:
    """T7: running per-status counts (reference: live tallies during
    collection, /root/reference/src/tms_colector.py:192-250).
    Write with outputMode('update')/'complete'."""
    return events.groupBy(key).agg(F.count("*").alias("n"))


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    within: str = "30 minutes",
    left_watermark: str = "1 hour",
    right_watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """T-row depth: stream-stream event-time interval join — right
    events within ``[left_ts, left_ts + within]`` for the same key
    (the click→purchase attribution shape). On streaming inputs both
    sides carry watermarks, which is what lets Spark BOUND the join
    state: buffered rows are dropped once the other side's watermark
    passes the interval's end (Structured Streaming's stream-stream
    join contract). On batch inputs the same expression is a plain
    range-predicate join — tests assert batch ≡ streaming output.

    ``how="left_outer"`` keeps unmatched left rows (NULL right_ts) —
    the "clicks that never converted" side of attribution. In
    streaming mode the outer result for a left row is emitted only
    once the right watermark passes its interval end (it must be
    certain no match can still arrive) — same state bound, delayed
    emission; in batch mode it is an ordinary outer range join.

    Scale shape: shuffles both sides on the equi-key only; the time
    predicate is evaluated within key partitions. State per key is
    O(events inside watermark+interval), not O(history).
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"unsupported interval join type {how!r}")
    left = normalize_event_time(left, left_ts)
    right = normalize_event_time(right, right_ts)
    lw = left.withWatermark(left_ts, left_watermark) if left.isStreaming else left
    rw = right.withWatermark(right_ts, right_watermark) if right.isStreaming else right
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, how).select(
        lw[key].alias(key),
        lw[left_ts].alias(left_ts),
        rw[right_ts].alias(right_ts),
    )


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension enrichment: join a (possibly
    streaming) fact against a static dimension. The static side is
    broadcast per micro-batch — stateless (no watermark needed,
    unlike stream-stream joins), and the stream side stays map-only;
    at scale this is the standard pattern for attaching dimension
    attributes to events in flight. Works identically on batch
    frames (tests assert batch ≡ streaming output)."""
    return stream.join(F.broadcast(dim), key, how)


def dedup_stream_within_watermark(
    events: DataFrame, keys: list[str], ts_col: str = "ts", watermark: str = "1 hour"
) -> DataFrame:
    """T6 variant with the bounded-state guarantee made explicit:
    ``dropDuplicatesWithinWatermark`` only guarantees dedup for
    duplicates arriving within the watermark delay of each other and
    is allowed to DROP state older than the watermark — unlike plain
    ``dropDuplicates`` (which keeps every seen key forever: correct
    but unbounded at 100 TB). This is the form a production pipeline
    runs: state is O(keys inside the watermark horizon)."""
    events = normalize_event_time(events, ts_col)
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )
