"""CLI front door: `python -m tms_etl_spark <subcommand>`.

A reference user drives their ETL from a launcher, not a Python
REPL; this is the engine's equivalent — every catalog query, raw SQL
over the registered tables, and plan inspection from one command:

    python -m tms_etl_spark list [substring]
    python -m tms_etl_spark run <query> [--sf-dir DIR] [--limit N]
    python -m tms_etl_spark explain <query> [--sf-dir DIR]
    python -m tms_etl_spark sql "SELECT ... FROM lineitem ..." [--sf-dir DIR]
    python -m tms_etl_spark table history|show|rollback|optimize|compact|
        expire|changes|delete|merge|index|point|text-index|search|
        rename-column|add-column|drop-column|
        detail|repair|mv-refresh|mv-rebuild DIR ...

Output goes to stdout (`run` prints `show()`-style tables capped at
--limit rows; `sql` the same). Exit code 0 on success, 2 on unknown
query/subcommand. The SparkSession comes from the engine's tuned
builder (`session.get_spark`: AQE, UTC, broadcast threshold), so CLI
runs get the same plans the tests pin.
"""

from __future__ import annotations

import argparse
import sys

_DEFAULT_SF = "/root/testdata/sf0.01"


def _parse_asof(s: str):
    """Parse a ``--asof`` argument ISO-8601 FIRST, mirroring
    `version_asof`'s own precedence: float-first would read compact
    dates like '20240101' as ~epoch-1970 seconds and silently resolve
    the wrong snapshot (or error with "no version at or before").
    Only a non-ISO value is tried as epoch seconds; anything else
    passes through for `version_asof` to raise its clear error."""
    import datetime as _dt

    try:
        _dt.datetime.fromisoformat(s)
        return s
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        return s


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="tms_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    lp = sub.add_parser("list", help="list catalog queries")
    lp.add_argument("substring", nargs="?", default="")

    for name in ("run", "explain"):
        rp = sub.add_parser(name)
        rp.add_argument("query")
        rp.add_argument("--sf-dir", default=_DEFAULT_SF)
        if name == "run":
            rp.add_argument("--limit", type=int, default=20)

    sp = sub.add_parser("sql", help="raw SQL over the registered tables")
    sp.add_argument("statement")
    sp.add_argument("--sf-dir", default=_DEFAULT_SF)
    sp.add_argument("--limit", type=int, default=20)
    sp.add_argument(
        "--vtable", action="append", default=[], metavar="NAME=DIR",
        help="also register a versioned table (current snapshot + "
        "NAME__history view); repeatable",
    )
    sp.add_argument(
        "--dml", action="store_true",
        help="the statement is DML (MERGE INTO / UPDATE / DELETE "
        "FROM) over versioned-table DIRECTORIES — parsed by Spark's "
        "Catalyst parser and lowered onto "
        "merge_version/update_where/delete_where (operators/sqldml.py)",
    )
    sp.add_argument(
        "--key", default=None,
        help="(--dml) DELETE's vector key column(s), comma-separated "
        "— alternative to the statement's KEY (…) suffix",
    )
    sp.add_argument("--txn-id", default=None, help="(--dml) idempotent replay id")
    sp.add_argument(
        "--commit-retries", type=int, default=0, metavar="N",
        help="(--dml) optimistic-concurrency retries on a lost commit race",
    )

    ip = sub.add_parser(
        "import-daily",
        help="the reference's daily import as one distributed run: "
        "read month-dir CSVs -> cast -> arity filter -> newest-file-"
        "wins dedupe -> guarded MERGE (desligado rows insert-only) "
        "into the fact table (tms/pipeline.py)",
    )
    ip.add_argument("lake", help="lake root holding month dirs of daily CSVs")
    ip.add_argument(
        "target",
        help="fact-table path: a parquet dir, or a versioned table "
        "dir with --versioned",
    )
    ip.add_argument(
        "--versioned", action="store_true",
        help="land in a VERSIONED lakehouse table (time travel, "
        "change feed, txn-id replay) instead of plain parquet",
    )
    ip.add_argument(
        "--months", default=None, metavar="M[,M...]",
        help="restrict to these month dirs (default: every month)",
    )
    ip.add_argument("--encoding", default="UTF-8")
    ip.add_argument(
        "--txn-id", default=None,
        help="(--versioned) idempotent replay id: re-running the "
        "same txn-id is a no-op commit-wise",
    )
    ip.add_argument(
        "--commit-retries", type=int, default=0, metavar="N",
        help="(--versioned) optimistic concurrency on a lost commit race",
    )

    tp = sub.add_parser(
        "table", help="versioned-table maintenance (operators/versioned.py)"
    )
    tsub = tp.add_subparsers(dest="table_cmd", required=True)
    th = tsub.add_parser("history")
    th.add_argument("dir")
    ts = tsub.add_parser("show")
    ts.add_argument("dir")
    ts.add_argument("--version", type=int, default=None)
    ts.add_argument(
        "--asof", default=None,
        help="TIMESTAMP AS OF (ISO-8601 or epoch seconds); "
        "mutually exclusive with --version",
    )
    ts.add_argument("--limit", type=int, default=20)
    tdt = tsub.add_parser(
        "detail", help="DESCRIBE DETAIL: metadata-only snapshot summary"
    )
    tdt.add_argument("dir")
    tdt.add_argument("--version", type=int, default=None)
    trp = tsub.add_parser(
        "repair", help="clear stale commit locks / orphan tmp manifests"
    )
    trp.add_argument("dir")
    trp.add_argument(
        "--stale-lock-seconds", type=float, default=3600.0,
        help="age before a lock with no manifest counts as dead",
    )
    tr = tsub.add_parser("rollback")
    tr.add_argument("dir")
    tr.add_argument("--to", type=int, default=None)
    tr.add_argument(
        "--to-tag", default=None,
        help="roll back to a named snapshot ref (see `table tag`); "
        "mutually exclusive with --to",
    )
    to = tsub.add_parser("optimize")
    to.add_argument("dir")
    to.add_argument("--cluster-by", default=None)
    to.add_argument(
        "--zorder-by", default=None,
        help="2+ comma-separated columns for Morton-key clustering",
    )
    to.add_argument(
        "--partition-by", default=None, metavar="COL[,COL]|none",
        help="partition SPEC EVOLUTION: rewrite into this hive spec "
        "(future appends inherit it); 'none' unpartitions",
    )
    tan = tsub.add_parser(
        "analyze",
        help="one-pass column statistics (ndv/nulls/min-max) into a "
        "_stats sidecar",
    )
    tan.add_argument("dir")
    tan.add_argument(
        "--cols", default=None, metavar="COL[,COL]",
        help="subset of columns (default: all)",
    )
    tmn = tsub.add_parser(
        "maintain",
        help="one-call housekeeping: repair + incremental compact + "
        "optional expire + index vacuum",
    )
    tmn.add_argument("dir")
    tmn.add_argument("--keep-last", type=int, default=None)
    tmn.add_argument("--min-file-mb", type=float, default=32.0)
    tmn.add_argument("--target-file-mb", type=float, default=128.0)
    tmn.add_argument(
        "--analyze", action="store_true",
        help="refresh the column-statistics sidecar afterwards (the "
        "one O(table) step; feeds stats-driven broadcast planning)",
    )
    te = tsub.add_parser("expire")
    te.add_argument("dir")
    te.add_argument("--keep-last", type=int, default=7)
    te.add_argument(
        "--orphan-grace-hours", type=float, default=24.0,
        help="skip unreferenced dirs younger than this (in-flight "
        "writer protection); 0 only in a maintenance window",
    )
    te.add_argument(
        "--dry-run", action="store_true",
        help="report what would be removed; touch nothing",
    )
    te.add_argument(
        "--older-than", default=None,
        help="time-based retention: keep every version committed at "
        "or after this cutoff (ISO-8601 or epoch seconds, UTC) on "
        "top of --keep-last",
    )
    tc = tsub.add_parser("changes")
    tc.add_argument("dir")
    tc.add_argument("--from", dest="from_v", type=int, required=True)
    tc.add_argument("--to", dest="to_v", type=int, default=None)
    tc.add_argument("--limit", type=int, default=20)
    tcf = tsub.add_parser(
        "cdf",
        help="row-level change feed (insert/update_pre/update_post/"
        "delete) served from write-time sidecars",
    )
    tcf.add_argument("dir")
    tcf.add_argument("--from", dest="from_v", type=int, required=True)
    tcf.add_argument("--to", dest="to_v", type=int, default=None)
    tcf.add_argument("--limit", type=int, default=20)
    tsf = tsub.add_parser(
        "set-change-feed",
        help="toggle the change-feed table property (MERGE/DELETE "
        "commits then record change sidecars; not retroactive)",
    )
    tsf.add_argument("dir")
    tsf.add_argument(
        "--off", action="store_true", help="disable instead of enable"
    )
    td = tsub.add_parser(
        "delete", help="row-level delete by key (deletion vector)"
    )
    td.add_argument("dir")
    td.add_argument(
        "--key", required=True,
        help="key column name (comma-separate for a composite key "
        "with --where; --values stays single-column)",
    )
    td.add_argument(
        "--values", default=None,
        help="comma-separated key values (cast to the column's type)",
    )
    td.add_argument(
        "--where", default=None,
        help="SQL predicate: delete the matching rows' keys (pruned "
        "extraction scan; refuses when the key is not unique over "
        "the matched set unless --allow-key-scope)",
    )
    td.add_argument(
        "--allow-key-scope", action="store_true",
        help="with --where: delete EVERY row sharing a matched key",
    )
    td.add_argument("--txn-id", default=None)
    td.add_argument(
        "--commit-retries", type=int, default=0, metavar="N",
        help="optimistic concurrency: on a lost commit race, retry up to N times when the winner's changes are provably disjoint from this op's read+write set (a real conflict refuses with the named ConcurrentModificationError)",
    )
    tu = tsub.add_parser(
        "update",
        help="predicate UPDATE (copy-on-write of the touched files "
        "only; SET evaluated against the pre-image)",
    )
    tu.add_argument("dir")
    tu.add_argument(
        "--where", required=True,
        help="SQL predicate selecting the rows to update (pruned "
        "scan: only zonemap-surviving files are probed)",
    )
    tu.add_argument(
        "--set", required=True, dest="set_", metavar="COL=EXPR[,...]",
        help="assignments; EXPR may reference any column (pre-image)",
    )
    tu.add_argument("--txn-id", default=None)
    tu.add_argument(
        "--cluster-by", default=None, metavar="COL",
        help="clustering-preserving rewrite: the CoW output keeps "
        "disjoint COL ranges (zonemap pruning stays tight)",
    )
    tu.add_argument(
        "--commit-retries", type=int, default=0, metavar="N",
        help="optimistic concurrency: on a lost commit race, retry up to N times when the winner's changes are provably disjoint from this op's read+write set (a real conflict refuses with the named ConcurrentModificationError)",
    )
    tk = tsub.add_parser(
        "compact",
        help="incremental compaction: rewrite only small/dead dirs",
    )
    tk.add_argument("dir")
    tk.add_argument(
        "--min-file-mb", type=float, default=32.0,
        help="dirs averaging less than this per live file get packed",
    )
    tk.add_argument("--target-file-mb", type=float, default=128.0)
    tm = tsub.add_parser(
        "merge",
        help="copy-on-write MERGE of a parquet source by key",
    )
    tm.add_argument("dir")
    tm.add_argument("--source", required=True, help="source parquet path")
    tm.add_argument(
        "--key", required=True,
        help="key column name; comma-separate for a composite key",
    )
    tm.add_argument(
        "--when-matched", choices=("update", "delete"), default="update"
    )
    tm.add_argument(
        "--when-matched-condition", default=None, metavar="SQL",
        help="WHEN MATCHED AND <cond> over source./target. columns; "
        "matched rows failing it keep the target row "
        "(first-write-wins guards)",
    )
    tm.add_argument(
        "--when-not-matched-condition", default=None, metavar="SQL",
        help="WHEN NOT MATCHED AND <cond> THEN INSERT: unmatched "
        "source rows failing it are not inserted",
    )
    tm.add_argument(
        "--sync-delete-unmatched", action="store_true",
        help="full-sync replication: DELETE target rows with no "
        "source key (WHEN NOT MATCHED BY SOURCE; rewrites every "
        "file)",
    )
    tm.add_argument(
        "--sync-where", default=None, metavar="SQL",
        help="partial sync: WHEN NOT MATCHED BY SOURCE AND <cond> "
        "over target. columns — only unmatched rows passing it are "
        "deleted/updated (the condition also prunes the rewrite "
        "scope via the zonemaps)",
    )
    tm.add_argument(
        "--sync-update-set", default=None, metavar="COL=EXPR[,...]",
        help="WHEN NOT MATCHED BY SOURCE THEN UPDATE SET: mark "
        "unmatched rows instead of deleting them (soft delete)",
    )
    tm.add_argument("--txn-id", default=None)
    tm.add_argument(
        "--commit-retries", type=int, default=0, metavar="N",
        help="optimistic concurrency: on a lost commit race, retry up to N times when the winner's changes are provably disjoint from this op's read+write set (a real conflict refuses with the named ConcurrentModificationError)",
    )
    tcr = tsub.add_parser(
        "create", help="bootstrap a versioned table from parquet"
    )
    tcr.add_argument("dir")
    tcr.add_argument("--from", dest="src", required=True,
                     help="source parquet path")
    tcr.add_argument(
        "--partition-by", default=None, metavar="COL[,COL]",
        help="hive-partition the commit; becomes a table property "
        "appends inherit",
    )
    tcr.add_argument(
        "--merge-schema", action="store_true",
        help="allow schema evolution when appending to an existing "
        "table (added columns null-fill old rows)",
    )
    ti = tsub.add_parser(
        "index", help="build a per-file Bloom sidecar for point reads"
    )
    ti.add_argument("dir")
    ti.add_argument("--col", required=True)
    ti.add_argument(
        "--extend",
        action="store_true",
        help="incremental: carry live files' bitmaps, hash only new files",
    )
    tg = tsub.add_parser(
        "point", help="bloom-pruned point read (col = value)"
    )
    tg.add_argument("dir")
    tg.add_argument("--col", required=True)
    tg.add_argument("--value", required=True)
    tg.add_argument("--version", type=int, default=None)
    tg.add_argument(
        "--asof", default=None,
        help="TIMESTAMP AS OF (epoch seconds or ISO-8601, UTC); "
        "mutually exclusive with --version",
    )
    tg.add_argument(
        "--tag", default=None,
        help="named snapshot ref (see `table tag`); mutually "
        "exclusive with --version/--asof",
    )
    tg.add_argument("--limit", type=int, default=20)
    tsc = tsub.add_parser(
        "scan",
        help="zonemap/partition-pruned snapshot read with a SQL WHERE",
    )
    tsc.add_argument("dir")
    tsc.add_argument(
        "--where", required=True,
        help="Spark SQL boolean expr; simple `col op literal` "
        "conjuncts drive manifest pruning (incl. derived generated-"
        "partition predicates), the full expr filters rows",
    )
    tsc.add_argument("--version", type=int, default=None)
    tsc.add_argument(
        "--asof", default=None,
        help="TIMESTAMP AS OF (epoch seconds or ISO-8601, UTC); "
        "mutually exclusive with --version",
    )
    tsc.add_argument(
        "--tag", default=None,
        help="named snapshot ref (see `table tag`); mutually "
        "exclusive with --version/--asof",
    )
    tsc.add_argument(
        "--prune-col", default=None,
        help="fact column for a dimension-key file cut (one-scan "
        "DPP x WHERE composition)",
    )
    tsc.add_argument(
        "--prune-source", default=None,
        help="parquet path whose rows supply the prune keys",
    )
    tsc.add_argument(
        "--prune-key-col", default=None,
        help="key column inside --prune-source (default: --prune-col)",
    )
    tsc.add_argument("--limit", type=int, default=20)
    tmm = tsub.add_parser(
        "minmax",
        help="MIN/MAX from manifest zonemaps (zero data I/O on clean "
        "snapshots; tombstoned snapshots fall back to one scan)",
    )
    tmm.add_argument("dir")
    tmm.add_argument("--cols", required=True, help="comma-separated")
    tmm.add_argument("--version", type=int, default=None)
    ttag = tsub.add_parser(
        "tag",
        help="create an immutable named snapshot ref "
        "(protected from expire until untagged)",
    )
    ttag.add_argument("dir")
    ttag.add_argument("name")
    ttag.add_argument("--version", type=int, default=None)
    tow = tsub.add_parser(
        "optimize-where",
        help="partition-scoped compaction: rewrite only files proven "
        "wholly inside `col op value` (Delta's OPTIMIZE ... WHERE)",
    )
    tow.add_argument("dir")
    tow.add_argument("--col", required=True)
    tow.add_argument(
        "--op", default="=", choices=["=", "<", "<=", ">", ">="]
    )
    tow.add_argument("--value", required=True)
    tow.add_argument("--target-file-mb", type=float, default=128.0)
    tow.add_argument(
        "--cluster-by", default=None,
        help="range-cluster the scoped rewrite on this column",
    )
    trn = tsub.add_parser(
        "rename-column",
        help="metadata-only column rename (per-version column map; "
        "physical files untouched, zonemap stats carried)",
    )
    trn.add_argument("dir")
    trn.add_argument("old")
    trn.add_argument("new")
    tac = tsub.add_parser(
        "add-column",
        help="metadata-only ADD COLUMN (existing files null-fill "
        "reader-side; a previously-dropped name gets a fresh "
        "physical name so old data cannot resurrect)",
    )
    tac.add_argument("dir")
    tac.add_argument("name")
    tac.add_argument("dtype", help="Spark SQL type, e.g. double")
    tdc = tsub.add_parser(
        "drop-column",
        help="metadata-only DROP COLUMN (reads stop projecting it; "
        "physical bytes leave at the next rewrite)",
    )
    tdc.add_argument("dir")
    tdc.add_argument("name")
    ttags = tsub.add_parser("tags", help="list tags (name -> version)")
    ttags.add_argument("dir")
    tuntag = tsub.add_parser("untag", help="delete a tag")
    tuntag.add_argument("dir")
    tuntag.add_argument("name")
    tti = tsub.add_parser(
        "text-index",
        help="build/extend the inverted token sidecar for keyword search",
    )
    tti.add_argument("dir")
    tti.add_argument("--col", required=True)
    tti.add_argument(
        "--extend",
        action="store_true",
        help="incremental: carry live files' postings, scan only new files",
    )
    tts = tsub.add_parser(
        "search", help="token-index-pruned keyword containment search"
    )
    tts.add_argument("dir")
    tts.add_argument("--col", required=True)
    tts.add_argument("--token", required=True)
    tts.add_argument("--limit", type=int, default=20)
    tvx = tsub.add_parser(
        "vacuum-indexes",
        help="GC index sidecars: keep the newest K versions per index",
    )
    tvx.add_argument("dir")
    tvx.add_argument("--keep-last", type=int, default=2)
    for nm, hp in (
        ("mv-refresh", "incrementally refresh an aggregate view"),
        ("mv-rebuild", "full recompute of an aggregate view"),
    ):
        tv = tsub.add_parser(nm, help=hp)
        tv.add_argument("dir", help="base table dir")
        tv.add_argument("--view", required=True, help="view table dir")
        tv.add_argument(
            "--group-by", required=True,
            help="comma-separated group columns",
        )
        tv.add_argument("--sum", required=True, dest="sum_col",
                        help="comma-separated SUM columns")
        tv.add_argument("--minmax", default="", dest="minmax_cols",
                        help="comma-separated MIN/MAX columns")
        tv.add_argument("--ndv", default="", dest="ndv_cols",
                        help="comma-separated HLL approx-distinct columns")
    return p


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)

    from tms_etl_spark import catalog

    catalog.load_all()

    if args.cmd == "list":
        names = [n for n in sorted(catalog.QUERIES) if args.substring in n]
        for n in names:
            mark = "oracle" if n in catalog.ORACLES else "rows-only"
            print(f"{n}\t{mark}")
        print(f"{len(names)} queries", file=sys.stderr)
        return 0

    # validate the query name BEFORE paying SparkSession startup —
    # a typo should fail instantly, like the `list` path does
    if args.cmd in ("run", "explain") and args.query not in catalog.QUERIES:
        print(f"unknown query: {args.query!r}", file=sys.stderr)
        return 2

    from tms_etl_spark.session import get_spark

    spark = get_spark(app_name=f"cli_{args.cmd}")
    if args.cmd in ("run", "explain"):
        df = catalog.QUERIES[args.query](spark, args.sf_dir)
        if args.cmd == "explain":
            df.explain("formatted")
        else:
            df.show(args.limit, truncate=False)
        return 0

    if args.cmd == "sql":
        if args.dml:
            from tms_etl_spark.operators import versioned as vt
            from tms_etl_spark.operators.sqldml import sql_dml

            key = (
                [k.strip() for k in args.key.split(",")]
                if args.key
                else None
            )
            try:
                v = sql_dml(
                    spark,
                    args.statement,
                    key=key,
                    txn_id=args.txn_id,
                    commit_retries=args.commit_retries,
                )
            except (ValueError, vt.ConcurrentModificationError) as e:
                print(f"refused: {e}", file=sys.stderr)
                return 2
            print(f"committed v{v}")
            return 0
        from tms_etl_spark.sources.tables import register_views

        register_views(spark, args.sf_dir)
        from tms_etl_spark.operators.versioned import register_versioned
        # (plain-SQL path continues below)

        for spec in args.vtable:
            name, _, tdir = spec.partition("=")
            if not tdir:
                print(f"bad --vtable {spec!r} (want name=dir)",
                      file=sys.stderr)
                return 2
            register_versioned(spark, tdir, name)
        spark.sql(args.statement).show(args.limit, truncate=False)
        return 0

    if args.cmd == "import-daily":
        from tms_etl_spark.operators import versioned as vt
        from tms_etl_spark.tms.pipeline import (
            import_daily,
            import_daily_versioned,
        )

        months = (
            [m.strip() for m in args.months.split(",") if m.strip()]
            if args.months
            else None
        )
        try:
            if args.versioned:
                st = import_daily_versioned(
                    spark,
                    args.lake,
                    args.target,
                    months=months,
                    encoding=args.encoding,
                    txn_id=args.txn_id,
                    commit_retries=args.commit_retries,
                )
            else:
                st = import_daily(
                    spark,
                    args.lake,
                    args.target,
                    months=months,
                    encoding=args.encoding,
                )
        except (ValueError, vt.ConcurrentModificationError) as e:
            print(f"refused: {e}", file=sys.stderr)
            return 2
        print(
            f"imported {st.batch_rows} batch rows; "
            f"{st.table_rows} rows now in the touched months"
        )
        return 0

    if args.cmd == "table":
        from tms_etl_spark.operators import versioned as vt

        if args.table_cmd == "history":
            for h in vt.history(spark, args.dir):
                print(f"v{h.version:06d}\t{h.n_dirs} dirs\t{h.op}")
            return 0
        if args.table_cmd == "show":
            version = args.version
            if args.asof is not None:
                if version is not None:
                    print("--version and --asof are mutually exclusive",
                          file=sys.stderr)
                    return 2
                version = vt.version_asof(
                    spark, args.dir, _parse_asof(args.asof)
                )
                print(f"resolved to v{version}")
            vt.read_version(spark, args.dir, version).show(
                args.limit, truncate=False
            )
            return 0
        if args.table_cmd == "detail":
            import json as _json

            print(_json.dumps(
                vt.describe_detail(spark, args.dir, args.version)
            ))
            return 0
        if args.table_cmd == "repair":
            res = vt.repair_table(
                spark, args.dir, stale_lock_seconds=args.stale_lock_seconds
            )
            print(
                f"removed {res['stale_locks']} stale locks, "
                f"{res['orphan_tmps']} orphan tmps"
            )
            return 0
        if args.table_cmd == "rollback":
            if (args.to is None) == (args.to_tag is None):
                print(
                    "pass exactly one of --to / --to-tag",
                    file=sys.stderr,
                )
                return 2
            v = vt.rollback(
                spark, args.dir, to_version=args.to, to_tag=args.to_tag
            )
            print(f"committed v{v}")
            return 0
        if args.table_cmd == "optimize":
            zo = (
                tuple(args.zorder_by.split(","))
                if args.zorder_by
                else None
            )
            pb = None
            if args.partition_by is not None:
                pb = (
                    []
                    if args.partition_by.lower() == "none"
                    else args.partition_by.split(",")
                )
            v = vt.optimize_version(
                spark,
                args.dir,
                cluster_by=args.cluster_by,
                zorder_by=zo,
                partition_by=pb,
            )
            print(f"committed v{v}")
            return 0
        if args.table_cmd == "analyze":
            import json as _json

            out = vt.analyze_table(
                spark,
                args.dir,
                cols=args.cols.split(",") if args.cols else None,
            )
            print(_json.dumps(out))
            return 0
        if args.table_cmd == "maintain":
            import json as _json

            out = vt.maintain_table(
                spark,
                args.dir,
                target_file_bytes=int(args.target_file_mb * 1024 * 1024),
                min_file_bytes=int(args.min_file_mb * 1024 * 1024),
                keep_last=args.keep_last,
                analyze=args.analyze,
            )
            print(_json.dumps(out))
            return 0
        if args.table_cmd == "expire":
            n = vt.expire_versions(
                spark, args.dir, keep_last=args.keep_last,
                orphan_grace_hours=args.orphan_grace_hours,
                dry_run=args.dry_run,
                older_than=(
                    _parse_asof(args.older_than)
                    if args.older_than is not None
                    else None
                ),
            )
            verb = "would remove" if args.dry_run else "removed"
            print(f"{verb} {n} data dirs")
            return 0
        if args.table_cmd == "changes":
            vt.read_version_changes(
                spark, args.dir, args.from_v, args.to_v
            ).show(args.limit, truncate=False)
            return 0
        if args.table_cmd == "cdf":
            try:
                vt.read_version_cdf(
                    spark, args.dir, args.from_v, args.to_v
                ).show(args.limit, truncate=False)
            except ValueError as e:
                print(f"refused: {e}", file=sys.stderr)
                return 2
            return 0
        if args.table_cmd == "set-change-feed":
            v = vt.enable_change_feed(
                spark, args.dir, enabled=not args.off
            )
            state = "off" if args.off else "on"
            print(f"change feed {state} (v{v})")
            return 0
        if args.table_cmd == "delete":
            from pyspark.sql import functions as F

            if (args.values is None) == (args.where is None):
                print(
                    "pass exactly one of --values / --where",
                    file=sys.stderr,
                )
                return 2
            cur = vt.read_version(spark, args.dir)
            key_cols = [k.strip() for k in args.key.split(",")]
            bad = [k for k in key_cols if k not in cur.columns]
            if bad:
                print(f"unknown key column(s): {bad}", file=sys.stderr)
                return 2
            if args.where is not None:
                try:
                    v = vt.delete_where(
                        spark, args.dir, args.where,
                        key_cols if len(key_cols) > 1 else key_cols[0],
                        txn_id=args.txn_id,
                        allow_key_scope=args.allow_key_scope,
                        commit_retries=args.commit_retries,
                    )
                except (ValueError, vt.ConcurrentModificationError) as e:
                    # named conflicts exit 2 like the merge verb —
                    # never a raw traceback (r13, ADVICE)
                    print(f"refused: {e}", file=sys.stderr)
                    return 2
                print(f"committed v{v}")
                return 0
            if len(key_cols) > 1:
                print(
                    "--values takes a single key column; use --where "
                    "for composite keys",
                    file=sys.stderr,
                )
                return 2
            kc = key_cols[0]
            ktype = dict(cur.dtypes)[kc]
            keys = spark.createDataFrame(
                [(v,) for v in args.values.split(",")], f"{kc} string"
            ).select(F.col(kc).cast(ktype))
            try:
                v = vt.delete_rows(
                    spark, args.dir, keys, txn_id=args.txn_id,
                    commit_retries=args.commit_retries,
                )
            except (ValueError, vt.ConcurrentModificationError) as e:
                print(f"refused: {e}", file=sys.stderr)
                return 2
            print(f"committed v{v}")
            return 0
        if args.table_cmd == "update":
            from tms_etl_spark.operators.sqldml import _parse_assignments

            # ONE assignment grammar for every DML front door: Catalyst
            # splits the SET list (sqldml._parse_assignments)
            try:
                assign = _parse_assignments(spark, args.set_)
            except ValueError as e:
                print(f"bad --set: {e}", file=sys.stderr)
                return 2
            try:
                v = vt.update_where(
                    spark, args.dir, args.where, assign,
                    txn_id=args.txn_id,
                    cluster_by=args.cluster_by,
                    commit_retries=args.commit_retries,
                )
            except (ValueError, vt.ConcurrentModificationError) as e:
                print(f"refused: {e}", file=sys.stderr)
                return 2
            print(f"committed v{v}")
            return 0
        if args.table_cmd == "compact":
            v = vt.optimize_incremental(
                spark,
                args.dir,
                target_file_bytes=int(args.target_file_mb * 1024 * 1024),
                min_file_bytes=int(args.min_file_mb * 1024 * 1024),
            )
            print(f"committed v{v}")
            return 0
        if args.table_cmd == "merge":
            src = spark.read.parquet(args.source)
            mkeys = [k.strip() for k in args.key.split(",")]
            sync_set = None
            if args.sync_update_set is not None:
                from tms_etl_spark.operators.sqldml import (
                    _parse_assignments,
                )

                try:
                    sync_set = _parse_assignments(
                        spark, args.sync_update_set
                    )
                except ValueError as e:
                    print(
                        f"bad --sync-update-set: {e} (want COL=EXPR[,...])",
                        file=sys.stderr,
                    )
                    return 2
            if sync_set is not None and args.sync_delete_unmatched:
                # contradictory sync actions must refuse, not silently
                # resolve to update (r13, ADVICE)
                print(
                    "--sync-update-set and --sync-delete-unmatched are "
                    "mutually exclusive (update or delete the "
                    "unmatched target rows — not both)",
                    file=sys.stderr,
                )
                return 2
            sync_action = None
            if sync_set is not None:
                sync_action = "update"
            elif args.sync_delete_unmatched or args.sync_where:
                sync_action = "delete"
            try:
                v = vt.merge_version(
                    spark,
                    args.dir,
                    src,
                    mkeys if len(mkeys) > 1 else mkeys[0],
                    when_matched=args.when_matched,
                    txn_id=args.txn_id,
                    when_matched_condition=args.when_matched_condition,
                    when_not_matched_condition=(
                        args.when_not_matched_condition
                    ),
                    when_not_matched_by_source=sync_action,
                    when_not_matched_by_source_condition=args.sync_where,
                    when_not_matched_by_source_set=sync_set,
                    commit_retries=args.commit_retries,
                )
            except (ValueError, vt.ConcurrentModificationError) as e:
                print(f"refused: {e}", file=sys.stderr)
                return 2
            print(f"committed v{v}")
            return 0
        if args.table_cmd == "create":
            try:
                v = vt.write_version(
                    spark.read.parquet(args.src),
                    args.dir,
                    "append",
                    partition_by=(
                        args.partition_by.split(",")
                        if args.partition_by
                        else None
                    ),
                    merge_schema=args.merge_schema,
                )
            except ValueError as e:
                # schema/partition-spec refusal: an operator contract,
                # not a crash — report it like one
                print(f"refused: {e}", file=sys.stderr)
                return 1
            print(f"committed v{v}")
            return 0
        if args.table_cmd == "index":
            from tms_etl_spark.operators.bloomindex import (
                build_bloom_index,
                extend_bloom_index,
            )

            fn = extend_bloom_index if args.extend else build_bloom_index
            print(f"wrote {fn(spark, args.dir, args.col)}")
            return 0
        if args.table_cmd == "text-index":
            from tms_etl_spark.operators.textindex import (
                build_text_index,
                extend_text_index,
            )

            fn = extend_text_index if args.extend else build_text_index
            print(f"wrote {fn(spark, args.dir, args.col)}")
            return 0
        if args.table_cmd == "search":
            from tms_etl_spark.operators.textindex import search_token

            search_token(spark, args.dir, args.col, args.token).show(
                args.limit, truncate=False
            )
            return 0
        if args.table_cmd == "optimize-where":
            cur = vt.read_version(spark, args.dir)
            if args.col not in cur.columns:
                print(f"unknown column: {args.col!r}", file=sys.stderr)
                return 2
            from pyspark.sql import functions as F

            ktype = dict(cur.dtypes)[args.col]
            val = (
                spark.createDataFrame([(args.value,)], "v string")
                .select(F.col("v").try_cast(ktype))
                .head()[0]
            )
            if val is None:
                # try_cast (not cast: ANSI sessions would crash with a
                # raw Py4J error instead) turns a typo'd --value into
                # NULL deterministically; exit 2 — a None value must
                # never reach optimize_where and select every
                # partition-pure file for a full-table rewrite
                print(
                    f"--value {args.value!r} does not cast to "
                    f"{ktype} (column {args.col!r})",
                    file=sys.stderr,
                )
                return 2
            v = vt.optimize_where(
                spark,
                args.dir,
                args.col,
                args.op,
                val,
                target_file_bytes=int(args.target_file_mb * 1024 * 1024),
                cluster_by=args.cluster_by,
            )
            print(f"version {v}")
            return 0
        if args.table_cmd == "tag":
            v = vt.tag_version(spark, args.dir, args.name, args.version)
            print(f"tag {args.name} -> v{v}")
            return 0
        if args.table_cmd == "rename-column":
            try:
                v = vt.rename_column(spark, args.dir, args.old, args.new)
            except ValueError as e:
                print(str(e), file=sys.stderr)
                return 2
            print(f"committed v{v}")
            return 0
        if args.table_cmd == "add-column":
            try:
                v = vt.add_column(spark, args.dir, args.name, args.dtype)
            except ValueError as e:
                print(str(e), file=sys.stderr)
                return 2
            print(f"committed v{v}")
            return 0
        if args.table_cmd == "drop-column":
            try:
                v = vt.drop_column(spark, args.dir, args.name)
            except ValueError as e:
                print(str(e), file=sys.stderr)
                return 2
            print(f"committed v{v}")
            return 0
        if args.table_cmd == "tags":
            for nm, v in sorted(vt.list_tags(spark, args.dir).items()):
                print(f"{nm}\tv{v}")
            return 0
        if args.table_cmd == "untag":
            gone = vt.delete_tag(spark, args.dir, args.name)
            print(f"{'deleted' if gone else 'no such tag'} {args.name}")
            return 0 if gone else 2
        if args.table_cmd == "scan":
            ver = args.version
            if args.tag is not None:
                if ver is not None or args.asof is not None:
                    print(
                        "--tag is mutually exclusive with "
                        "--version/--asof",
                        file=sys.stderr,
                    )
                    return 2
                ver = vt.resolve_tag(spark, args.dir, args.tag)
            if args.asof is not None:
                if ver is not None:
                    print(
                        "--version and --asof are mutually exclusive",
                        file=sys.stderr,
                    )
                    return 2
                ver = vt.version_asof(
                    spark, args.dir, _parse_asof(args.asof)
                )
            prune_keys = None
            if (args.prune_col is None) != (args.prune_source is None):
                print(
                    "--prune-col and --prune-source go together",
                    file=sys.stderr,
                )
                return 2
            if args.prune_col is not None:
                keys = spark.read.parquet(args.prune_source)
                kc = args.prune_key_col or args.prune_col
                if kc not in keys.columns:
                    print(
                        f"unknown prune key column: {kc!r}",
                        file=sys.stderr,
                    )
                    return 2
                prune_keys = (
                    args.prune_col,
                    keys.select(kc).withColumnRenamed(kc, args.prune_col),
                )
            vt.read_version_where(
                spark, args.dir, args.where, version=ver,
                prune_keys=prune_keys,
            ).show(args.limit, truncate=False)
            return 0
        if args.table_cmd == "minmax":
            import json as _json

            mm = vt.minmax(
                spark, args.dir, args.cols.split(","),
                version=args.version,
            )
            print(_json.dumps(
                {c: list(v) for c, v in mm.items()}, default=str
            ))
            return 0
        if args.table_cmd == "point":
            from pyspark.sql import functions as F

            from tms_etl_spark.operators.bloomindex import read_version_point

            if sum(
                x is not None
                for x in (args.version, args.asof, args.tag)
            ) > 1:
                print(
                    "--version, --asof and --tag are mutually exclusive",
                    file=sys.stderr,
                )
                return 2
            version = args.version
            if args.tag is not None:
                version = vt.resolve_tag(spark, args.dir, args.tag)
            if args.asof is not None:
                version = vt.version_asof(
                    spark, args.dir, _parse_asof(args.asof)
                )
            # dtype from the RESOLVED snapshot: a pre-evolution tag
            # may carry a narrower key type (or lack a column) vs HEAD
            cur = vt.read_version(spark, args.dir, version=version)
            if args.col not in cur.columns:
                print(f"unknown column: {args.col!r}", file=sys.stderr)
                return 2
            ktype = dict(cur.dtypes)[args.col]
            val = (
                spark.createDataFrame([(args.value,)], "v string")
                .select(F.col("v").try_cast(ktype))
                .head()[0]
            )
            if val is None:
                print(
                    f"--value {args.value!r} does not cast to "
                    f"{ktype} (column {args.col!r})",
                    file=sys.stderr,
                )
                return 2
            read_version_point(
                spark, args.dir, args.col, val, version=version
            ).show(args.limit, truncate=False)
            return 0
        if args.table_cmd == "vacuum-indexes":
            n = vt.vacuum_indexes(
                spark, args.dir, keep_last=args.keep_last
            )
            print(f"removed {n} index sidecar versions")
            return 0
        if args.table_cmd in ("mv-refresh", "mv-rebuild"):
            from tms_etl_spark.operators import matview

            fn = (
                matview.refresh_agg_view
                if args.table_cmd == "mv-refresh"
                else matview.rebuild_agg_view
            )
            split = lambda v: [c for c in v.split(",") if c]  # noqa: E731
            b = fn(
                spark,
                args.dir,
                args.view,
                split(args.group_by),
                sum_cols=split(args.sum_col),
                minmax_cols=split(args.minmax_cols),
                ndv_cols=split(args.ndv_cols),
            )
            print(f"view reflects base v{b}")
            return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
