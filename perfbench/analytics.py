"""analytics: Spark-bound headline queries of the catalog (none of them
``lakehouse_*``) over a seeded star schema. Each op builds the query
through its catalog function (or the production form
``bench._production_overrides`` gives it) and runs it: the heavier
queries' results are written as parquet (a write op), the short
row-level queries go to the noop sink (a read op). A pass runs every
query once, then the reads again, so the reads have enough samples
for a steady mean. The seed permutes the query order."""

from __future__ import annotations

import decimal
import math
import os
import shutil
from contextlib import nullcontext

import numpy as np

import gen_tables
from harness import SETUP_REPS, Run, noop

SF = 0.01
READ_ROUNDS = 6  # a pass runs each read query this many times, each write once
# results a user keeps: persisted as parquet
WRITES = (
    "q1_pricing_summary",
    "q18_large_volume",
    "join_sort_merge",
    "join_skew_salted",
    "agg_rollup",
    "text_winnow_fingerprint",
)
# short queries of similar cost, materialised with the noop sink
READS = (
    "window_cumulative",
    "topk_per_group",
    "stream_session_window",
)
# tables each query scans, for rows_per_cpu_s
INPUTS = {
    "q1_pricing_summary": ("lineitem",),
    "q18_large_volume": ("lineitem", "orders", "customer"),
    "join_sort_merge": ("lineitem", "orders"),
    "join_skew_salted": ("lineitem", "orders"),
    "agg_rollup": ("lineitem",),
    "window_cumulative": ("events",),
    "topk_per_group": ("orders",),
    "text_winnow_fingerprint": ("documents",),
    "stream_session_window": ("events",),
}


class Analytics:
    def __init__(self, run: Run):
        self.run = run
        self.data = os.path.join(run.work, "star")
        self.out = os.path.join(run.work, "reports")
        self.order: list[str] = []
        self.fns: dict = {}
        self.rows: dict[str, int] = {}
        self.bad: set[str] = set()  # queries whose result failed its check

    def _generate(self) -> dict[str, int]:
        shutil.rmtree(self.data, ignore_errors=True)
        return gen_tables.generate_star(self.data, self.run.seed, SF)

    def setup(self) -> None:
        import bench
        from tms_etl_spark import catalog

        catalog.load_all()
        overrides = bench._production_overrides()
        for name in WRITES + READS:
            if name not in bench.HEADLINE:
                raise RuntimeError(f"{name} is not a bench.HEADLINE entry")
            self.fns[name] = overrides.get(name) or catalog.QUERIES[name]
        self.order = [str(q) for q in np.random.default_rng(self.run.seed).permutation(WRITES + READS)]
        counts = self.run.timed_setup("inputs", self._generate, reps=SETUP_REPS)
        self.rows = {q: sum(counts[t] for t in INPUTS[q]) for q in self.order}
        self.run.timed_setup("warmup", self._warm_up)

    def _query(self, name: str) -> None:
        tracer = self.run.tracer
        with tracer.span("catalog.build") if tracer else nullcontext():
            df = self.fns[name](self.run.spark, self.data)
        with tracer.span("catalog.action") if tracer else nullcontext():
            if name in WRITES:
                df.write.mode("overwrite").parquet(os.path.join(self.out, name))
            else:
                noop(df)

    def prepare(self, i: int) -> None:
        _release_persisted(self.run.spark)

    def run_pass(self, i: int) -> None:
        reads = [q for q in self.order if q in READS]
        for name in self.order + reads * (READ_ROUNDS - 1):
            kind = "write" if name in WRITES else "read"
            self.run.op(kind, name, lambda: self._query(name), rows=self.rows[name])

    def _warm_up(self) -> None:
        """One pass that writes every result as parquet, then checks
        each against the catalog's DuckDB oracle where the entry has
        one, else against the invariants of its production form."""
        import duckdb
        import pyarrow.parquet as pq

        from tms_etl_spark import catalog
        from tms_etl_spark.sources.tables import TABLE_NAMES

        check = os.path.join(self.run.work, "check")
        for name in self.order:
            self.fns[name](self.run.spark, self.data).write.mode("overwrite").parquet(os.path.join(check, name))
        _release_persisted(self.run.spark)
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        for name in self.order:
            pdf = pq.read_table(os.path.join(check, name)).to_pandas()
            if name in catalog.ORACLES and self.fns[name] is catalog.QUERIES[name]:
                ok = _same_rows(pdf, con.sql(catalog.ORACLES[name]).df())
            else:
                ok = INVARIANTS[name](pdf, self.data)
            if not ok:
                self.bad.add(name)
        con.close()
        shutil.rmtree(check)

    def verify(self) -> None:
        for name in self.order:
            n = sum(o.name == name for o in self.run.ops)
            self.run.check(f"{name} disagrees with its oracle", name not in self.bad, n_ops=n)

    def table_dirs(self) -> list[str]:
        return [self.data, self.out]


def _release_persisted(spark) -> None:
    """Drop blocks that checkpointing operators left behind, so one
    pass's dead state never slows the next (as ``bench.py`` does)."""
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(False)


def _canon(x):
    if x is None or (isinstance(x, float) and math.isnan(x)):
        return None
    if hasattr(x, "item"):  # numpy scalar
        x = x.item()
    if isinstance(x, decimal.Decimal):
        x = float(x)
    if hasattr(x, "to_pydatetime"):
        x = x.to_pydatetime().replace(tzinfo=None)
    if isinstance(x, float):
        return round(x, 6)
    return x


def _same_rows(a, b) -> bool:
    """Order-insensitive equality of two result frames by column name."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    cols = sorted(a.columns)

    def rows(df):
        return sorted((tuple(_canon(v) for v in r) for r in df[cols].itertuples(index=False, name=None)), key=repr)

    return rows(a) == rows(b)


def _winnow_ok(pdf, data) -> bool:
    """One fingerprint row per document long enough to have a k-gram,
    each with at least one selected hash."""
    import pyarrow.parquet as pq

    from tms_etl_spark.catalog.llm_text import _WINNOW_K

    docs = pq.read_table(os.path.join(data, "documents.parquet")).to_pandas()
    want = set(docs.loc[docs["text"].str.len() >= _WINNOW_K, "doc_id"])
    return set(pdf["doc_id"]) == want and len(pdf) == len(want) and bool((pdf["n_fp"] > 0).all())


INVARIANTS = {"text_winnow_fingerprint": _winnow_ok}
