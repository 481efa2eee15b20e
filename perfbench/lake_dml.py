"""lake_dml: the lakehouse write path. A versioned ``lineitem`` table
(composite key ``(l_orderkey, l_linenumber)``, range-clustered into
many files, change feed on, a Bloom index on ``l_partkey`` and a few
commits of history) takes a fixed sequence of writes and reads per
pass. Every pass starts from a copy of the same base table, so every
pass does the same work. A plain pandas model replays the sequence to
give the expected read counts and final table."""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen_tables
from harness import SETUP_REPS, Run, noop, table_hash

N_ORDERS = 50_000  # about 200k lineitem rows
N_PARTS = 20_000
N_SUPP = 1_000
BASE_FILES = 16
OPTIMIZE_FILE_BYTES = 512 * 1024
KEY = ["l_orderkey", "l_linenumber"]
SLOT = 1_000  # orders per key slot; each write owns its own slot


@dataclass
class Step:
    kind: str  # "write" or "read"
    name: str
    arg: object
    rows: int = 0  # write input rows
    expect: int = 0  # read row count


def _key(df: pd.DataFrame) -> pd.Series:
    return df["l_orderkey"] * 8 + df["l_linenumber"]


def _in_range(df: pd.DataFrame, lo: int, hi: int) -> pd.Series:
    return (df["l_orderkey"] >= lo) & (df["l_orderkey"] < hi)


class Model:
    """The table as a pandas frame, plus the change-feed row count."""

    def __init__(self, df: pd.DataFrame):
        self.df = df
        self.changes = 0

    def merge(self, src: pd.DataFrame) -> int:
        hit = _key(self.df).isin(_key(src))
        matched = int(hit.sum())
        self.df = pd.concat([self.df[~hit], src], ignore_index=True)
        self.changes += 2 * matched + (len(src) - matched)
        return len(src)

    def delete(self, lo: int, hi: int) -> int:
        hit = _in_range(self.df, lo, hi)
        self.df = self.df[~hit]
        self.changes += int(hit.sum())
        return int(hit.sum())

    def update(self, lo: int, hi: int) -> int:
        hit = _in_range(self.df, lo, hi)
        self.df = self.df.copy()
        self.df.loc[hit, "l_quantity"] += 1.0
        self.df.loc[hit, "l_returnflag"] = "U"
        self.changes += 2 * int(hit.sum())
        return int(hit.sum())


def _range_pred(slot: int) -> tuple[str, int, int]:
    lo = slot + 500
    return f"l_orderkey >= {lo} AND l_orderkey < {lo + 100}", lo, lo + 100


class LakeDml:
    def __init__(self, run: Run):
        self.run = run
        self.dir = os.path.join(run.work, "dml")
        self.base_table = os.path.join(self.dir, "base_table")
        self.table = ""
        self.steps: list[Step] = []
        self.history: list[Step] = []
        self.counts: list[tuple[Step, object]] = []  # (read step, Observation) of the last pass
        self.base_version = 0

    # ------------------------------------------------------------ inputs
    def _src(self, name: str, df: pd.DataFrame) -> str:
        path = os.path.join(self.dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(df, schema=self.schema, preserve_index=False), path)
        return path

    def _new_orders(self, rng, first: int, n: int) -> pd.DataFrame:
        df = gen_tables.lineitem(rng, n, N_PARTS, N_SUPP).to_pandas()
        df["l_orderkey"] += first
        return df

    def _generate(self) -> None:
        """Base parquet, merge sources, the step plan and the model's
        expected outcome, all from the seed."""
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        rng = np.random.default_rng(self.run.seed)
        base = gen_tables.lineitem(rng, N_ORDERS, N_PARTS, N_SUPP)
        self.schema = base.schema
        pq.write_table(base, os.path.join(self.dir, "base.parquet"))
        model = Model(base.to_pandas())
        slots = [int(s) * SLOT for s in rng.choice(N_ORDERS // SLOT, 7, replace=False)]

        def upsert(name: str, slot: int, k: int) -> Step:
            upd = model.df[_in_range(model.df, slot, slot + 300)].copy()
            upd["l_extendedprice"] = (upd["l_extendedprice"] * 1.01).round(2)
            src = pd.concat([upd, self._new_orders(rng, N_ORDERS + k * SLOT, 200)], ignore_index=True)
            return Step("write", name, self._src(f"{name}-{k}", src), rows=model.merge(src))

        def delete(slot: int) -> Step:
            pred, lo, hi = _range_pred(slot)
            return Step("write", "delete_where", pred, rows=model.delete(lo, hi))

        def update(slot: int) -> Step:
            pred, lo, hi = _range_pred(slot)
            return Step("write", "update_where", pred, rows=model.update(lo, hi))

        def where() -> Step:
            lo = int(rng.integers(0, N_ORDERS - 2 * SLOT))
            pred = f"l_orderkey >= {lo} AND l_orderkey < {lo + 2 * SLOT} AND l_quantity > 25"
            d = model.df
            return Step("read", "read_version_where", pred, expect=int((_in_range(d, lo, lo + 2 * SLOT) & (d["l_quantity"] > 25)).sum()))

        def point() -> Step:
            v = int(rng.integers(0, N_PARTS // 5))
            return Step("read", "read_version_point", v, expect=int((model.df["l_partkey"] == v).sum()))

        def cdf() -> Step:
            return Step("read", "read_version_cdf", None, expect=model.changes)

        optimize = Step("write", "optimize_version", None)
        # the base table's history runs every write once (the warm-up;
        # the SQL MERGE lowers onto merge_version); its optimize
        # range-clusters the table into many files
        self.history = [delete(slots[0]), update(slots[1]), upsert("sql_dml", slots[2], 1), optimize]
        model.changes = 0  # a pass reads the feed from the base version on
        # the first point read comes before the delete: deletion vectors
        # switch Bloom skipping off until the next optimize
        steps = [upsert("merge_version", slots[3], 2), point(), where(), delete(slots[4])]
        steps += [update(slots[5]), cdf(), upsert("sql_dml", slots[6], 3)]
        steps += [Step("write", "optimize_version", None, rows=len(model.df)), where(), point()]
        self.steps = steps
        model_tbl = pa.Table.from_pandas(model.df, schema=self.schema, preserve_index=False)
        self.model_path = os.path.join(self.dir, "model.parquet")
        pq.write_table(model_tbl, self.model_path)

    def _build(self) -> None:
        """Base table: a range-partitioned append, the change feed
        switched on, one of each write, a Bloom index; then one of each
        read (the warm-up)."""
        from tms_etl_spark.operators.bloomindex import build_bloom_index
        from tms_etl_spark.operators.versioned import (
            current_version,
            enable_change_feed,
            write_version,
        )

        spark = self.run.spark
        self.table = self.base_table
        base = spark.read.parquet(os.path.join(self.dir, "base.parquet"))
        write_version(base.repartitionByRange(BASE_FILES, "l_orderkey"), self.table)
        enable_change_feed(spark, self.table)
        for step in self.history:
            self._do(step)
        build_bloom_index(spark, self.table, "l_partkey")
        self.base_version = current_version(spark, self.table)
        for name in ("read_version_where", "read_version_point", "read_version_cdf"):
            self._do(next(s for s in self.steps if s.name == name))

    def setup(self) -> None:
        self.run.timed_setup("inputs", self._generate, reps=SETUP_REPS)
        self.run.timed_setup("build", self._build)

    # ------------------------------------------------------------ passes
    def prepare(self, i: int) -> None:
        shutil.rmtree(os.path.join(self.dir, "tables"), ignore_errors=True)
        self.table = os.path.join(self.dir, "tables", f"pass-{i}")
        shutil.copytree(self.base_table, self.table)
        self.counts = []

    def _do(self, step: Step):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from tms_etl_spark.operators.bloomindex import read_version_point
        from tms_etl_spark.operators.sqldml import sql_dml
        from tms_etl_spark.operators.versioned import (
            delete_where,
            merge_version,
            optimize_version,
            read_version_cdf,
            read_version_where,
            update_where,
        )

        spark, t = self.run.spark, self.table
        if step.name == "merge_version":
            return merge_version(spark, t, spark.read.parquet(step.arg), key=KEY)
        if step.name == "sql_dml":
            return sql_dml(
                spark,
                f"MERGE INTO '{t}' AS t USING '{step.arg}' AS s "
                "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
            )
        if step.name == "delete_where":
            return delete_where(spark, t, step.arg, key=KEY)
        if step.name == "update_where":
            return update_where(spark, t, step.arg, {"l_quantity": "l_quantity + 1", "l_returnflag": "'U'"})
        if step.name == "optimize_version":
            return optimize_version(spark, t, target_file_bytes=OPTIMIZE_FILE_BYTES, cluster_by="l_orderkey")
        if step.name == "read_version_where":
            df = read_version_where(spark, t, step.arg)
        elif step.name == "read_version_point":
            df = read_version_point(spark, t, "l_partkey", step.arg)
        else:
            df = read_version_cdf(spark, t, self.base_version)
        obs = Observation()
        noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
        return obs

    def run_pass(self, i: int) -> None:
        for step in self.steps:
            out = self.run.op(step.kind, step.name, lambda: self._do(step), rows=step.rows)
            if step.kind == "read":
                self.counts.append((step, out))

    def verify(self) -> None:
        from tms_etl_spark.operators.versioned import read_version

        run = self.run
        for step, obs in self.counts:
            got = obs.get["n"] if obs is not None else None
            run.check(f"{step.name} {step.arg}: {got} rows, expected {step.expect}", got == step.expect)
        want = table_hash(run.spark.read.parquet(self.model_path))
        got = table_hash(read_version(run.spark, self.table))
        n_writes = sum(s.kind == "write" for s in self.steps)
        run.check(f"final table {got} != model {want}", got == want, n_ops=n_writes)

    def table_dirs(self) -> list[str]:
        return [self.table]
