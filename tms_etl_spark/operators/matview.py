"""Incrementally-maintained materialized views on the versioned-table
layer — the end-to-end composition of this engine's lakehouse pieces:
`read_version_changes` (file-level CDC tail) feeds a delta aggregate,
`merge_version` (copy-on-write MERGE) applies it, and the manifest's
txn ledger records which base version the view reflects, making every
refresh idempotent and crash-safe.

Why it matters at 100 TB: a grouped aggregate over the full base
table costs a full scan per refresh; this refresh costs
O(new batches + view) — the base's unread history is never touched.
That is the IVM delta rule for SUM-like aggregates (the repo's
`operators/ivm.py` proves the algebra; this module gives it durable
storage and restart semantics).

Cites: the reference re-aggregates the whole shift-fact table per
report run (/root/reference/src/main_01.py report path); here the
same summary stays fresh for the cost of the day's batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tms_etl_spark.operators.versioned import (
    _snapshot,
    current_version,
    merge_version,
    read_version,
    read_version_changes,
    write_version,
)

_TXN_PREFIX = "mv-base-v"
_SEP = "\x1f"  # unit separator: can't occur in the group values
_NULL = "\x00\x1enull"  # per-position NULL sentinel, see _agg


def _last_refreshed_base(spark: SparkSession, mv_dir: str) -> int:
    """Base version the view currently reflects, recovered from the
    txn ledger of the view's LATEST manifest (one metadata read) —
    no external watermark file to lose or corrupt."""
    _, man = _snapshot(spark, mv_dir, empty_ok=True)
    best = 0
    for t, _v in (man or {}).get("recent_txns", []):
        if t.startswith(_TXN_PREFIX):
            best = max(best, int(t[len(_TXN_PREFIX):]))
    return best


def _agg(df: DataFrame, group_cols: list[str], sum_col: str) -> DataFrame:
    """Grouped (decimal-exact sum, count) plus the surrogate merge key
    — one map-side-combined exchange on the group columns.

    NULL group values are encoded POSITIONALLY in the key:
    ``concat_ws`` silently *skips* NULL arguments, which would collapse
    distinct groups like ('a', NULL) and (NULL, 'a') onto one surrogate
    key and trip merge_version's duplicate-key guard. Each position is
    therefore coalesced to a sentinel (control characters — unreachable
    from a real cast) before concatenation, so every distinct group
    tuple gets a distinct key."""
    return (
        df.groupBy(*group_cols)
        .agg(
            F.sum(F.col(sum_col).cast("decimal(28,8)"))
            .cast("decimal(28,8)")
            .alias("sum_val"),
            F.count("*").cast("long").alias("n_rows"),
        )
        .select(
            F.concat_ws(
                _SEP,
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit(_NULL))
                    for c in group_cols
                ],
            ).alias("mv_key"),
            *group_cols,
            "sum_val",
            "n_rows",
        )
    )


def refresh_sum_view(
    spark: SparkSession,
    base_dir: str,
    mv_dir: str,
    group_cols: list[str],
    sum_col: str,
) -> int:
    """Bring the materialized view `SELECT group_cols, SUM(sum_col),
    COUNT(*) FROM base GROUP BY group_cols` up to the base's current
    version; returns the base version now reflected.

    - First call (empty view): one full aggregate — the unavoidable
      bootstrap, committed with the base version in the ledger.
    - Steady state: the delta aggregate reads ONLY the base's new
      files (`read_version_changes` file-level diff), joins the
      view's current rows for the touched groups (AQE broadcasts the
      batch-sized delta), and lands as a copy-on-write MERGE keyed on
      the surrogate ``mv_key`` (deterministic concat of the group
      values — one-column merge regardless of group arity). Cost:
      O(new batches + view scan + touched view files).
    - Idempotent/crash-safe: ``txn_id = "mv-base-v<B>"`` makes a
      replayed refresh a no-op; the reflected version is recovered
      from the ledger, never from external state. Refreshing with no
      new base commits returns immediately.
    - decimal-exact sums: an incremental view and a from-scratch
      rebuild are bit-identical regardless of batch boundaries.

    A non-append base change (overwrite/rollback/delete/merge) has no
    file-level delta: `read_version_changes` raises, and the caller
    recovers with `rebuild_sum_view`."""
    base_cur = current_version(spark, base_dir)
    if base_cur <= 0:
        raise ValueError(f"no committed versions at {base_dir}")
    done = _last_refreshed_base(spark, mv_dir)
    if done >= base_cur:
        return done
    txn = f"{_TXN_PREFIX}{base_cur}"
    if done == 0:
        snap = _agg(read_version(spark, base_dir), group_cols, sum_col)
        write_version(snap, mv_dir, "append", txn_id=txn)
        return base_cur
    delta = _agg(
        read_version_changes(spark, base_dir, done, base_cur),
        group_cols,
        sum_col,
    )
    cur_mv = read_version(spark, mv_dir).select(
        "mv_key",
        F.col("sum_val").alias("__old_s"),
        F.col("n_rows").alias("__old_n"),
    )
    combined = delta.join(cur_mv, "mv_key", "left").select(
        "mv_key",
        *group_cols,
        # NULL-exact merge: one-sided NULL acts as 0 (no non-null
        # values on that side); both-sides NULL stays NULL (SQL's SUM
        # over an all-NULL group) — incremental ≡ rebuild bitwise
        F.when(
            F.col("__old_s").isNull() & F.col("sum_val").isNull(),
            F.lit(None),
        )
        .otherwise(
            F.coalesce(F.col("__old_s"), F.lit(0).cast("decimal(28,8)"))
            + F.coalesce(
                F.col("sum_val"), F.lit(0).cast("decimal(28,8)")
            )
        )
        .cast("decimal(28,8)")
        .alias("sum_val"),
        (F.coalesce(F.col("__old_n"), F.lit(0)) + F.col("n_rows"))
        .cast("long")
        .alias("n_rows"),
    )
    merge_version(
        spark, mv_dir, combined, key="mv_key",
        when_matched="update", txn_id=txn,
    )
    return base_cur


def _agg_multi(
    df: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    minmax_cols: list[str],
    ndv_cols: list[str] = (),
) -> DataFrame:
    """Grouped multi-aggregate state row per group: decimal-exact
    sums, exact min/max, row count, HLL sketches for approx distinct
    counts, plus the surrogate merge key — one map-side-combined
    exchange. The HLL register state is a max-merge, so it is
    ORDER-INDEPENDENT: an incrementally-unioned sketch ESTIMATES
    identically to one built in a single pass (serialized bytes may
    differ — union can re-encode the internal representation)."""
    aggs = [F.count("*").cast("long").alias("n_rows")]
    for c in sum_cols:
        aggs.append(
            F.sum(F.col(c).cast("decimal(28,8)"))
            .cast("decimal(28,8)")
            .alias(f"sum_{c}")
        )
    for c in minmax_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    for c in ndv_cols:
        aggs.append(F.hll_sketch_agg(c).alias(f"hll_{c}"))
    out_cols = (
        ["n_rows"]
        + [f"sum_{c}" for c in sum_cols]
        + [x for c in minmax_cols for x in (f"min_{c}", f"max_{c}")]
        + [f"hll_{c}" for c in ndv_cols]
    )
    return (
        df.groupBy(*group_cols)
        .agg(*aggs)
        .select(
            F.concat_ws(
                _SEP,
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit(_NULL))
                    for c in group_cols
                ],
            ).alias("mv_key"),
            *group_cols,
            *out_cols,
        )
    )


def refresh_agg_view(
    spark: SparkSession,
    base_dir: str,
    mv_dir: str,
    group_cols: list[str],
    sum_cols: list[str] = (),
    minmax_cols: list[str] = (),
    ndv_cols: list[str] = (),
) -> int:
    """Generalized incremental view: per-group COUNT(*), decimal-
    exact SUMs, and exact MIN/MAX maintained over the base's
    append-only version chain — `refresh_sum_view`'s contract
    (file-level CDC delta, CoW MERGE on the surrogate key, txn-ledger
    recovery, idempotent replay) extended to the full set of
    APPEND-DISTRIBUTIVE aggregates. AVG derives as sum/n at read
    time. MIN/MAX are maintainable incrementally ONLY under
    append-only bases — a delete could retract the current extremum,
    which is exactly the case `read_version_changes` already raises
    on (recover with `rebuild_agg_view`). Merge rules: sums add,
    counts add, min takes `least`, max takes `greatest` (both
    null-skipping, so an all-null delta group leaves the extremum in
    place)."""
    sum_cols, minmax_cols, ndv_cols = (
        list(sum_cols), list(minmax_cols), list(ndv_cols)
    )
    if not sum_cols and not minmax_cols and not ndv_cols:
        raise ValueError("nothing to aggregate")
    base_cur = current_version(spark, base_dir)
    if base_cur <= 0:
        raise ValueError(f"no committed versions at {base_dir}")
    done = _last_refreshed_base(spark, mv_dir)
    if done >= base_cur:
        return done
    txn = f"{_TXN_PREFIX}{base_cur}"
    if done == 0:
        snap = _agg_multi(
            read_version(spark, base_dir), group_cols, sum_cols,
            minmax_cols, ndv_cols,
        )
        write_version(snap, mv_dir, "append", txn_id=txn)
        return base_cur
    delta = _agg_multi(
        read_version_changes(spark, base_dir, done, base_cur),
        group_cols,
        sum_cols,
        minmax_cols,
        ndv_cols,
    )
    state_cols = (
        ["n_rows"]
        + [f"sum_{c}" for c in sum_cols]
        + [x for c in minmax_cols for x in (f"min_{c}", f"max_{c}")]
        + [f"hll_{c}" for c in ndv_cols]
    )
    cur_mv = read_version(spark, mv_dir).select(
        "mv_key", *[F.col(c).alias(f"__old_{c}") for c in state_cols]
    )
    merged = [
        (F.coalesce(F.col("__old_n_rows"), F.lit(0)) + F.col("n_rows"))
        .cast("long")
        .alias("n_rows")
    ]
    zero = F.lit(0).cast("decimal(28,8)")
    for c in sum_cols:
        # NULL-exact merge: NULL on ONE side means "no non-null values
        # on that side" and acts as 0; NULL on BOTH sides must stay
        # NULL (SQL's SUM over an all-NULL group), keeping the
        # incremental state bit-identical to a rebuild
        old_s, new_s = F.col(f"__old_sum_{c}"), F.col(f"sum_{c}")
        merged.append(
            F.when(
                old_s.isNull() & new_s.isNull(), F.lit(None)
            )
            .otherwise(F.coalesce(old_s, zero) + F.coalesce(new_s, zero))
            .cast("decimal(28,8)")
            .alias(f"sum_{c}")
        )
    for c in minmax_cols:
        merged.append(
            F.least(F.col(f"__old_min_{c}"), F.col(f"min_{c}")).alias(
                f"min_{c}"
            )
        )
        merged.append(
            F.greatest(F.col(f"__old_max_{c}"), F.col(f"max_{c}")).alias(
                f"max_{c}"
            )
        )
    for c in ndv_cols:
        # HLL union is a register max-merge: commutative, associative,
        # idempotent — incremental state ends byte-identical to a
        # single-pass sketch; one-sided NULL passes through
        old_h, new_h = F.col(f"__old_hll_{c}"), F.col(f"hll_{c}")
        merged.append(
            F.when(old_h.isNull(), new_h)
            .when(new_h.isNull(), old_h)
            .otherwise(F.hll_union(old_h, new_h))
            .alias(f"hll_{c}")
        )
    combined = delta.join(cur_mv, "mv_key", "left").select(
        "mv_key", *group_cols, *merged
    )
    merge_version(
        spark, mv_dir, combined, key="mv_key",
        when_matched="update", txn_id=txn,
    )
    return base_cur


def rebuild_agg_view(
    spark: SparkSession,
    base_dir: str,
    mv_dir: str,
    group_cols: list[str],
    sum_cols: list[str] = (),
    minmax_cols: list[str] = (),
    ndv_cols: list[str] = (),
) -> int:
    """Full recompute of the generalized view (recovery after a
    non-append base change), committed as an OVERWRITE version."""
    base_cur = current_version(spark, base_dir)
    if base_cur <= 0:
        raise ValueError(f"no committed versions at {base_dir}")
    snap = _agg_multi(
        read_version(spark, base_dir),
        group_cols,
        list(sum_cols),
        list(minmax_cols),
        list(ndv_cols),
    )
    write_version(
        snap, mv_dir, "overwrite", txn_id=f"{_TXN_PREFIX}{base_cur}"
    )
    return base_cur


def rebuild_sum_view(
    spark: SparkSession,
    base_dir: str,
    mv_dir: str,
    group_cols: list[str],
    sum_col: str,
) -> int:
    """Full recompute (recovery after a non-append base change): one
    aggregate of the base committed as an OVERWRITE version carrying
    the current base version in the ledger."""
    base_cur = current_version(spark, base_dir)
    if base_cur <= 0:
        raise ValueError(f"no committed versions at {base_dir}")
    snap = _agg(read_version(spark, base_dir), group_cols, sum_col)
    write_version(
        snap, mv_dir, "overwrite", txn_id=f"{_TXN_PREFIX}{base_cur}"
    )
    return base_cur
